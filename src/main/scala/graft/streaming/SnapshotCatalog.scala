package graft.streaming

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotTable

/** DataSource V2 `TableCatalog` over a warehouse directory of snapshot
  * tables — the SQL-first front door to the table format: register it
  * once (`spark.sql.catalog.<name>` = this class,
  * `spark.sql.catalog.<name>.warehouse` = a directory) and every
  * committed table under the warehouse is addressable as
  * `<name>.<table>` (namespaces map to subdirectories) from plain SQL:
  * `SELECT`, `INSERT INTO` (the connector's first-writer-wins append
  * write), and time travel via `VERSION AS OF <generation>` — Spark
  * routes the version string to [[loadTable(ident, version)]], which
  * pins the generation on the returned table so the scan resolves the
  * snapshot's own schema and manifest (an explicit `generation` read
  * option still wins). All resolution is DRIVER-side metadata I/O
  * (manifest listings through the same Group-API readers the rest of
  * the layer uses); no Spark job runs until the scan plans, so a
  * 100 TB warehouse costs a directory listing to address.
  *
  * Deliberately a CATALOG OF EXTERNAL TABLES: tables are created and
  * maintained by the library's commands (commit/append/compact/...),
  * so `CREATE TABLE` / `ALTER` / `DROP` / `RENAME` through SQL are
  * refused loudly rather than half-implemented — the DML surface
  * (read, time travel, insert) is the part external consumers need.
  * The MAINTENANCE commands ARE reachable from SQL, as stored
  * procedures rather than DDL: `CALL <name>.system.compact/expire/
  * rollback/history(...)` ([[SnapshotProcedures]]) wrap the library
  * commands verbatim, so the SQL front door covers the whole table
  * lifecycle without a second implementation of any of it.
  */
class SnapshotCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog
    with org.apache.spark.sql.connector.catalog.StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = options.get("warehouse")
    require(warehouse != null && warehouse.nonEmpty,
      s"snapshot catalog '$name' requires spark.sql.catalog.$name.warehouse")
  }

  override def name(): String = catalogName

  private def rootOf(ident: Identifier): String =
    (warehouse +: (ident.namespace() :+ ident.name()).toSeq).mkString("/")

  private def spark: SparkSession = SparkSession.active

  /** A directory is a table iff it has at least one committed
    * generation — crash debris and non-table dirs are invisible.
    * ONLY the expected not-a-table shape is swallowed (a `manifests`
    * entry whose `gen=` names do not parse, i.e. foreign directory
    * layout); a genuine IO/permission failure while listing PROPAGATES
    * — masking it as `NoSuchTableException` would turn a transient
    * filesystem outage into "table does not exist".
    */
  private def isTable(root: String): Boolean =
    try SnapshotTable.generations(spark, root).nonEmpty
    catch { case _: NumberFormatException => false }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = (warehouse +: namespace.toSeq).mkString("/")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      // ENUMERATION posture: one unreadable sibling entry must not
      // abort the whole namespace listing and hide every healthy
      // table — skip it here; a DIRECT lookup of that entry
      // (loadTable/tableExists) still propagates its IO failure.
      .filter { n =>
        try isTable((dir +: Seq(n)).mkString("/"))
        catch { case _: Exception => false }
      }.sorted
      .map(n => Identifier.of(namespace, n))
  }

  override def loadTable(ident: Identifier): Table = {
    val root = rootOf(ident)
    if (isTable(root)) return new SnapshotSourceTable(root,
      SnapshotSource.latestSchema(root))
    // METADATA tables (the Iceberg `t.files` / `t.history` idiom): a
    // name that is not itself a committed table but whose PARENT path
    // is one serves that table's metadata relation — `SELECT * FROM
    // <cat>.<table>.files` inspects the current snapshot's file
    // inventory from SQL. Real tables win by construction (checked
    // first), matching the reference idiom's precedence.
    // Kind matching is CASE-INSENSITIVE, like Spark's default
    // identifier resolution (and Iceberg's metadata-table names).
    val kind = ident.name().toLowerCase(java.util.Locale.ROOT)
    if (ident.namespace().nonEmpty && SnapshotMetaTable.Kinds.contains(kind)) {
      val parent = (warehouse +: ident.namespace().toSeq).mkString("/")
      if (isTable(parent))
        return new SnapshotMetaTable(parent, kind)
    }
    // WAP branches (`<cat>.<table>.branch_<name>`): the write and
    // audit halves of write-audit-publish as a plain SQL relation — a
    // staged branch reads through its branch manifest exactly like a
    // generation, over data no lineage reader can see yet, and an
    // INSERT INTO an un-staged branch name STAGES the batch (so the
    // whole WAP loop is SQL-native: INSERT -> SELECT audit -> CALL
    // system.publish_branch/abandon_branch). The name resolves
    // whenever the parent is a table — a read of an un-staged branch
    // fails at scan build with the not-staged message, which is what
    // lets the INSERT create it. Branch names are case-sensitive
    // (user-named paths); the idiom prefix is not.
    if (ident.namespace().nonEmpty && kind.startsWith(SnapshotBranchTable.Prefix)) {
      val parent = (warehouse +: ident.namespace().toSeq).mkString("/")
      val branch = ident.name().drop(SnapshotBranchTable.Prefix.length)
      if (isTable(parent) && branch.nonEmpty)
        return new SnapshotBranchTable(parent, branch)
    }
    throw new NoSuchTableException(ident)
  }

  /** `VERSION AS OF <generation>`: the returned table is pinned to the
    * named generation — schema AND files resolve against that
    * snapshot, so a probe after a schema evolution sees the columns
    * the snapshot actually carried.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val gen =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"snapshot catalog versions are generation numbers; got '$version'")
      }
    val gens = SnapshotTable.generations(spark, root)
    require(gens.contains(gen),
      s"generation $gen does not exist at $root (have ${gens.mkString(", ")})")
    new SnapshotSourceTable(root, SnapshotSource.schemaAt(root, gen), Some(gen))
  }

  /** `TIMESTAMP AS OF <ts>` (Spark hands `ts` in MICROSECONDS):
    * resolves to the LATEST generation whose recorded commit
    * wall-clock — the `.ts=` marker published atomically inside the
    * manifest ([[SnapshotTable.commitTimestamp]]), never a file mtime,
    * which copies/restores do not preserve — is ≤ `ts`, then pins that
    * generation exactly like `VERSION AS OF`. Monotonic stamping at
    * commit ([[SnapshotTable]]'s writeManifest) is what makes "latest
    * committed ≤ ts" well-defined. A timestamp before the table's
    * first commit is refused (there is no snapshot to serve), and a
    * lineage with any pre-recording manifest is refused rather than
    * part-resolved — `VERSION AS OF` still serves those.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    // Shared resolution policy (SnapshotTable.stampedGenerations):
    // a part-stamped legacy lineage refuses rather than part-resolves.
    val stamped = SnapshotTable.stampedGenerations(spark, root)
    val admitted = stamped.collect {
      case (g, ms) if ms * 1000L <= timestamp => g
    }
    require(admitted.nonEmpty,
      s"timestamp ${timestamp} us precedes the first commit of $root " +
        s"(earliest: ${stamped.head._2} ms); there is no snapshot to serve")
    val gen = admitted.max
    new SnapshotSourceTable(root, SnapshotSource.schemaAt(root, gen), Some(gen))
  }

  override def tableExists(ident: Identifier): Boolean = isTable(rootOf(ident))

  /** Plain `CREATE TABLE` (no AS SELECT) stays refused: a snapshot
    * table IS its committed generations — an empty shell with no
    * manifest would be unaddressable by every reader contract. The
    * statement that creates tables from SQL is CTAS ([[stageCreate]]),
    * whose first commit is the defining generation.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "snapshot tables need a defining first generation: use CREATE TABLE " +
        "... AS SELECT (or the library's commit command); plain CREATE " +
        "TABLE would leave an unaddressable empty shell")

  /** `CREATE TABLE AS SELECT` — the atomic staged form: the query's
    * output stages under the table's layout, INVISIBLE until
    * [[SnapshotStagedCreate.commitStagedChanges]] publishes it as
    * generation 1 through the same first-writer-wins manifest commit
    * every writer uses (two racing CTAS cannot both define the table).
    * This is the sink overload of the `stageCreate` default chain
    * (Column[]/TableInfo variants delegate here).
    */
  override def stageCreate(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    val root = rootOf(ident)
    if (isTable(root))
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
        (ident.namespace() :+ ident.name()).toSeq)
    // `PARTITIONED BY (<col>)` — ONE identity transform over an
    // integer-physical column: writes route rows into per-value files
    // (directory-granular layout) and record `min = max = value` zone
    // rows, so partition pruning is the ordinary manifest admission —
    // the first prune a 100 TB table wants, before any zone-map load
    // gets subtle. Bucket/truncate/date-part transforms and multi-
    // column specs stay refused: identity over a precomputed column
    // expresses them all without a second pruning mechanism.
    val partCol: Option[String] = partitions.toSeq match {
      case Seq() => None
      case Seq(t) if t.name == "identity" && t.references().length == 1 &&
          t.references().head.fieldNames().length == 1 =>
        val c = t.references().head.fieldNames().head
        val f = schema.fields.find(_.name == c).getOrElse(
          throw new IllegalArgumentException(
            s"partition column $c is not in the table schema"))
        require(Seq("int", "bigint", "date").contains(f.dataType.simpleString),
          s"identity partition column $c must be INT, BIGINT or DATE " +
            s"(got ${f.dataType.simpleString}); partition on a precomputed " +
            "integer column")
        Some(c)
      case other => throw new UnsupportedOperationException(
        "snapshot tables support PARTITIONED BY (<one identity column>) " +
          s"only; got ${other.mkString(", ")} - express bucket/truncate/" +
          "date-part transforms as a precomputed column")
    }
    // A USING clause naming another format would be silently mis-sold
    // (the staged write always lands snapshot-layout parquet), and an
    // explicit LOCATION would escape the warehouse the catalog owns —
    // refuse both instead of ignoring them. Spark-internal bookkeeping
    // props (owner, comment) pass through harmlessly.
    val provider = Option(properties.get(
      org.apache.spark.sql.connector.catalog.TableCatalog.PROP_PROVIDER))
    require(provider.forall(p =>
        p.equalsIgnoreCase("parquet") || p.equalsIgnoreCase("snapshot")),
      s"snapshot tables store snapshot-layout parquet; USING ${provider.get} " +
        "would be ignored silently - drop the clause (or write parquet)")
    require(!properties.containsKey(
        org.apache.spark.sql.connector.catalog.TableCatalog.PROP_LOCATION) ||
      java.lang.Boolean.parseBoolean(properties.getOrDefault(
        org.apache.spark.sql.connector.catalog.TableCatalog.PROP_IS_MANAGED_LOCATION,
        "false")),
      "snapshot tables live under the catalog's warehouse; " +
        "an explicit LOCATION is not supported")
    // Fail the statement up front on a column type the snapshot
    // writers cannot encode, not the user's first task mid-job.
    if (!new ParquetFileFormat().supportDataType(schema))
      throw new UnsupportedOperationException(
        s"snapshot tables store parquet, which cannot encode ${schema.simpleString}")
    new SnapshotStagedCreate(root, schema, partCol)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    throw new UnsupportedOperationException(
      "REPLACE TABLE would rewrite committed lineage; use INSERT OVERWRITE " +
        "(content replace with history intact) or the library's retention commands")

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable =
    if (isTable(rootOf(ident))) stageReplace(ident, schema, partitions, properties)
    else stageCreate(ident, schema, partitions, properties)

  /** `ALTER TABLE ADD / RENAME / DROP COLUMN` — all METADATA-ONLY
    * schema evolution: the evolved schema lands as a RECORDED-SCHEMA
    * sidecar on a fresh generation carrying the files verbatim
    * ([[graft.sources.SnapshotTable.alterSchema]]); time travel before
    * the alter keeps that snapshot's own schema.
    *
    *  - ADD: existing rows serve NULL through resolve-by-name.
    *  - RENAME: zero data rewritten — the old name rides the field's
    *    alias-chain metadata and readers resolve pre-rename files
    *    through it; renaming TO any name the lineage ever claimed
    *    (live, tombstoned, or pre-rename) is refused, because by-name
    *    resolution would resurrect that name's old values.
    *  - DROP: the field stays in the sidecar as a TOMBSTONE that never
    *    serves but keeps the footer union (and a later re-ADD) from
    *    resurrecting the column — the one semantic this format's
    *    deliberate no-field-ids design cannot offer is recycling a
    *    retired name.
    *
    * Type changes stay refused (they rewrite data), and the identity
    * PARTITION column can be neither renamed nor dropped (the write
    * path routes by it).
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!isTable(root)) throw new NoSuchTableException(ident)
    val latestGen = SnapshotTable.generations(spark, root).max
    val recorded = SnapshotTable.recordedSchema(spark, root, latestGen)
    // Serving schema (rename metadata included) + the sidecar's
    // tombstones, which every alter must CARRY — losing one would let
    // the footer union resurrect its column on the next read.
    var tombstones: Seq[org.apache.spark.sql.types.StructField] =
      recorded.map(_.fields.filter(SnapshotSource.isDropped).toSeq)
        .getOrElse(Seq.empty)
    val partitionCol = SnapshotTable.partitionColumn(spark, root)
    def retired: Seq[String] =
      tombstones.flatMap(f => f.name +: SnapshotSource.priorsOf(f))
    val current = SnapshotSource.latestSchema(root)
    val evolved = changes.foldLeft(current) {
      case (schema, add: TableChange.AddColumn) =>
        require(add.fieldNames().length == 1,
          s"nested column adds are not supported: ${add.fieldNames().mkString(".")}")
        val name = add.fieldNames().head
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"column $name already exists in $root")
        require(!retired.exists(_.equalsIgnoreCase(name)) &&
            !schema.fields.flatMap(SnapshotSource.priorsOf)
              .exists(_.equalsIgnoreCase(name)),
          s"column name $name is RETIRED in $root (dropped or pre-rename): " +
            "re-adding it would resurrect old files' values through " +
            "by-name resolution - use a fresh name")
        require(add.isNullable,
          s"added column $name must be nullable: existing rows serve NULL for it")
        require(add.position() == null,
          "positioned ADD COLUMN is not supported; new columns append")
        require(add.defaultValue() == null,
          "column DEFAULT values are not supported")
        // Refuse up front the types the snapshot writers cannot encode,
        // instead of failing the user's NEXT insert.
        if (!new ParquetFileFormat().supportDataType(add.dataType()))
          throw new UnsupportedOperationException(
            s"snapshot tables store parquet, which cannot encode column " +
              s"$name of type ${add.dataType().simpleString}")
        schema.add(org.apache.spark.sql.types.StructField(
          name, add.dataType(), nullable = true))
      case (schema, ren: TableChange.RenameColumn) =>
        require(ren.fieldNames().length == 1,
          s"nested column renames are not supported: ${ren.fieldNames().mkString(".")}")
        val from = ren.fieldNames().head
        val to = ren.newName()
        val idx = schema.fieldNames.indexOf(from)
        require(idx >= 0, s"column $from does not exist in $root")
        require(!partitionCol.contains(from),
          s"cannot rename partition column $from: the write path routes by it")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(to)),
          s"column $to already exists in $root")
        require(!retired.exists(_.equalsIgnoreCase(to)) &&
            !schema.fields.flatMap(SnapshotSource.priorsOf)
              .exists(_.equalsIgnoreCase(to)),
          s"column name $to is RETIRED in $root (dropped or pre-rename): " +
            "renaming onto it would resurrect old files' values through " +
            "by-name resolution - use a fresh name")
        val f = schema.fields(idx)
        val meta = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putStringArray(SnapshotSource.PriorKey,
            (from +: SnapshotSource.priorsOf(f)).toArray)
          .build()
        StructType(schema.fields.updated(idx,
          org.apache.spark.sql.types.StructField(to, f.dataType, f.nullable, meta)))
      case (schema, del: TableChange.DeleteColumn) =>
        require(del.fieldNames().length == 1,
          s"nested column drops are not supported: ${del.fieldNames().mkString(".")}")
        val name = del.fieldNames().head
        val idx = schema.fieldNames.indexOf(name)
        if (idx < 0) {
          require(del.ifExists(), s"column $name does not exist in $root")
          schema
        } else {
          require(schema.length > 1,
            s"cannot drop the last column of $root")
          require(!partitionCol.contains(name),
            s"cannot drop partition column $name: the write path routes by it")
          val f = schema.fields(idx)
          tombstones :+= org.apache.spark.sql.types.StructField(
            f.name, f.dataType, nullable = true,
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
              .putBoolean(SnapshotSource.DroppedKey, true).build())
          StructType(schema.fields.patch(idx, Nil, 1))
        }
      case (_, other) => throw new UnsupportedOperationException(
        s"snapshot tables support ALTER TABLE ADD/RENAME/DROP COLUMN; got " +
          s"$other (type changes rewrite data)")
    }
    SnapshotTable.alterSchema(spark, root,
      StructType(evolved.fields ++ tombstones))
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "refusing bare DROP TABLE (it would silently destroy time-travel " +
        s"history); use CALL $catalogName.system.drop(tbl, force) — guarded " +
        "against staged branches and unexpired history")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "snapshot tables are addressed by path; rename the directory out-of-band")

  /** `CALL <catalog>.system.<proc>(...)` — the maintenance surface
    * ([[SnapshotProcedures]]). Only the `system` namespace exists.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace().sameElements(Array(SnapshotProcedures.Namespace)),
      s"snapshot procedures live under the '${SnapshotProcedures.Namespace}' " +
        s"namespace: CALL $catalogName.system.<proc>(...); " +
        s"got ${ident.namespace().mkString(".")}")
    SnapshotProcedures.load(warehouse, ident.name())
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.sameElements(Array(SnapshotProcedures.Namespace)))
      SnapshotProcedures.names
        .map(Identifier.of(Array(SnapshotProcedures.Namespace), _)).toArray
    else Array.empty
}

/** The staged table behind `CREATE TABLE AS SELECT`: the query's
  * output stages under the new table's layout through the standard
  * task writers, the batch commit only RECORDS the staged file list,
  * and [[commitStagedChanges]] is the visibility point — it publishes
  * generation 1 via the first-writer-wins manifest commit, so a racing
  * CTAS (or a library commit racing the statement) loses loudly and
  * the staged files sweep. A zero-row CTAS defines the table with one
  * schema-carrying husk, exactly the empty INSERT OVERWRITE contract.
  */
private[streaming] class SnapshotStagedCreate(table: String,
    tableSchema: StructType, partCol: Option[String] = None)
    extends org.apache.spark.sql.connector.catalog.StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.write._

  private val stageDir =
    s"$table/data/staged/a=${SnapshotTable.attemptName()}"
  private val staged =
    new java.util.concurrent.atomic.AtomicReference[Seq[(String, Option[Long])]](
      Seq.empty)

  override def name(): String = s"snapshot:$table (staged create)"

  override def schema(): StructType = tableSchema

  override def partitioning()
      : Array[org.apache.spark.sql.connector.expressions.Transform] =
    partCol.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.identity(c))
      .toArray

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              pinfo: PhysicalWriteInfo): DataWriterFactory = partCol match {
            case Some(c) =>
              new PartitionedWriterFactory(stageDir, info.schema(), c)
            case None => new SnapshotWriterFactory(stageDir, info.schema())
          }
          // NOT the visibility point: the staged-table contract defers
          // that to commitStagedChanges; this only records what landed.
          override def commit(messages: Array[WriterCommitMessage]): Unit =
            staged.set(SnapshotSource.stagedOf(messages))
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            sweep()
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    val spark = SparkSession.active
    try {
      partCol match {
        // Partition-routed content publishes with its per-file
        // min = max = value zone rows; a zero-row CTAS still defines
        // the table with one schema husk (no zone row — conservative).
        case Some(c) if staged.get().nonEmpty =>
          SnapshotTable.publishPartitionedFiles(spark, table, 1L, c,
            staged.get(), carryFrom = None, action = "create")
        case _ =>
          val publish = SnapshotSource.contentOrHusk(spark,
            staged.get().map(_._1), stageDir, tableSchema)
          SnapshotTable.publishAppend(spark, table, 1L, publish,
            carryFrom = None, action = "create")
      }
    } catch { case e: Throwable => sweep(); throw e }
    // The partition MARKER lands only after the defining generation
    // wins first-writer-wins — a losing CTAS never plants its spec.
    // OUTSIDE the sweep-protected block: generation 1 is committed and
    // references the staged files IN PLACE, so from here the stage dir
    // is live table data and must never be swept (and a throw here
    // would make Spark's CTAS exec call abortStagedChanges → sweep).
    // A failing marker write degrades the table to unpartitioned —
    // pruning and compact_partition lose their spec, data survives.
    try partCol.foreach(c =>
      SnapshotTable.recordPartitionColumn(spark, table, c))
    catch {
      case e: Exception => org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"partition marker write failed for $table; " +
          s"table degrades to unpartitioned: $e")
    }
  }

  override def abortStagedChanges(): Unit = sweep()

  private def sweep(): Unit = SnapshotSource.deleteDir(stageDir)
}

private[streaming] object SnapshotBranchTable {
  /** The metadata-table-style idiom prefix: `<table>.branch_<name>`. */
  val Prefix = "branch_"
}

/** READ-ONLY relation over one staged WAP branch — the audit surface
  * of write-audit-publish from plain SQL: the scan's files are exactly
  * the branch manifest's list (resolved fresh at scan build, so a
  * re-staged branch serves its current content), read through the same
  * per-file readers as a generation, with column pruning honored. The
  * branch disappears from SQL the moment it publishes or abandons
  * (the catalog checks liveness at resolution).
  */
private[streaming] class SnapshotBranchTable(table: String, branch: String)
    extends org.apache.spark.sql.connector.catalog.Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {

  import org.apache.spark.sql.connector.catalog.TableCapability
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
  import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  private def spark: SparkSession = SparkSession.active

  private def staged(): Boolean =
    SnapshotTable.branches(spark, table).contains(branch)

  private def files(): Seq[String] = {
    require(staged(),
      s"branch '$branch' of $table is not staged; stage it first " +
        s"(INSERT INTO ...branch_$branch, or the library's stage command)")
    SnapshotTable.stagedFiles(spark, table, branch)
  }

  override def name(): String = s"snapshot:$table@$branch"

  /** A staged branch serves its OWN merged footer schema; an un-staged
    * one serves the PARENT's latest (the shape an INSERT must produce
    * to stage it). An EMPTY staged batch is legal by the staging
    * contract ("it audits as empty and abandons"), so it too serves
    * the parent's schema — the audit SELECT then plans zero partitions
    * and returns 0 rows instead of erroring at resolution.
    */
  override def schema(): StructType = {
    val fs = if (staged()) files() else Seq.empty
    if (fs.nonEmpty)
      graft.sources.SnapshotTable.mergedFooterSchema(spark, fs)
    else SnapshotSource.latestSchema(table)
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE)

  /** The WRITE half of SQL-native WAP: `INSERT INTO ...branch_<name>`
    * stages the batch under the branch manifest — a one-shot stage
    * (re-staging an already-staged branch refuses; publish or abandon
    * it first), first-writer-wins under the same staged-rename commit
    * as every manifest.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          private val stageDir =
            s"$table/data/branch=$branch/a=${SnapshotTable.attemptName()}"
          override def createBatchWriterFactory(
              pinfo: PhysicalWriteInfo): DataWriterFactory =
            new SnapshotWriterFactory(stageDir, info.schema())
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            val fresh = messages.collect {
              case SnapshotWriteMessage(p) => p
            }.toSeq.sorted
            try {
              if (staged()) throw new IllegalStateException(
                s"branch '$branch' of $table is already staged; publish or " +
                  "abandon it before staging again (branches are one-shot)")
              SnapshotTable.stageFiles(spark, table, branch, fresh)
            } catch { case e: Throwable => abort(messages); throw e }
          }
          override def abort(messages: Array[WriterCommitMessage]): Unit =
            SnapshotSource.deleteDir(stageDir)
        }
      }
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with SupportsPushDownRequiredColumns {
      private var required: StructType = schema()
      override def pruneColumns(requiredSchema: StructType): Unit =
        required = requiredSchema
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = required
        override def description(): String =
          s"SnapshotBranch($table@$branch)"
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] =
            files().map(SnapshotFilePartition(_)).toArray
          override def createReaderFactory(): PartitionReaderFactory =
            new SnapshotReaderFactory(required)
        }
      }
    }
}
