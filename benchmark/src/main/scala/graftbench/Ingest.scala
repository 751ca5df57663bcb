package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.{coalesce, col, count, lit, pmod, sum}
import org.apache.spark.sql.streaming.Trigger

import graft.sources.SnapshotTable

/** The write workload: rounds against one snapshot table derived from
  * sf orders (150k rows at sf0.1), with a maintenance cycle every
  * `RoundsPerCycle` rounds.
  *
  * Rows are `(k, o, q, c)`, all BIGINT; `k` is the unique key. A round:
  *  - `append`: a generated batch through `SnapshotTable.commit`;
  *  - `upsert`: new `c` for a sample of live keys through
  *    `commitUpsert` (merge-on-read);
  *  - `read_connector`: a key-range aggregate through the DSv2 snapshot
  *    connector at the newest tombstone-free generation, so zone maps
  *    prune files;
  *  - `read_mor`: count and key/value sums of the latest generation
  *    through `readMor`;
  *  - `stream`: one availableNow advance of a stateful streaming
  *    consumer (per-bucket running count and sum).
  * A cycle then runs `compact` (the merge-on-read generation rewritten
  * key-ranged into 8 files with zone maps), `expire` and `vacuum`; the
  * stream consumer restarts after the compacted generation, because a
  * file tail cannot replay a rewrite that drops superseded rows.
  *
  * Every read is checked against a driver-side model of the table; a
  * mismatch is a failed operation.
  */
final class Ingest(spark: SparkSession, sfDir: String, workDir: String, seed: Long,
    minCycles: Int = 1) extends Workload {
  import Ingest._

  private val rng = new scala.util.Random(seed)
  private val table = s"$workDir/ingest_table"
  private val provider = classOf[graft.streaming.SnapshotSourceProvider].getName
  private val streamSession = graft.streaming.StreamDrill.session(spark)
  override def streamSessions: Seq[SparkSession] = Seq(spark, streamSession)

  // Model of the latest generation.
  private val live = new mutable.LongMap[Long]()
  private val keys = ArrayBuffer[Long]()
  private var sumK, sumC = 0L
  private var nextKey = 0L
  private var gen = 0L
  // Model of the newest tombstone-free generation: sorted keys and
  // prefix sums of c.
  private var plainGen = 0L
  private var plainKeys: Array[Long] = Array.empty
  private var plainPrefix: Array[Long] = Array.empty
  // Streaming consumer and the rows it should have folded.
  private var streamFrom = 0L
  private var checkpoint = ""
  private var streams = 0
  private val streamState = new mutable.LongMap[(Long, Long)]()
  private var streamRows, streamSum = 0L
  // Write amplification: bytes of files under the table, by path.
  private val seen = mutable.Map[String, Long]()
  private var tableBytes, userBytes = 0L
  // Files the timed connector reads planned, and the files they chose from.
  private var filesAdmitted, filesTotal = 0L

  private def expect[A](what: String, got: A, want: A): Boolean = {
    if (got != want) System.err.println(s"[graftbench] $what: got $got, model says $want")
    got == want
  }

  private def snapshotPlain(): Unit = {
    plainGen = gen
    plainKeys = live.keys.toArray.sorted
    plainPrefix = plainKeys.scanLeft(0L)((acc, k) => acc + live(k))
  }

  private def rangeModel(lo: Long, hi: Long): (Long, Long) = {
    val a = java.util.Arrays.binarySearch(plainKeys, lo) match { case i if i < 0 => -i - 1; case i => i }
    val b = java.util.Arrays.binarySearch(plainKeys, hi) match { case i if i < 0 => -i - 1; case i => i + 1 }
    ((b - a).toLong, plainPrefix(b) - plainPrefix(a))
  }

  /** Bytes of files that appeared under the table since the last call. */
  private def newTableBytes(): Long = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val it = fs.listFiles(root, true)
    var added = 0L
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toString
      if (!seen.contains(p)) { seen(p) = f.getLen; added += f.getLen }
    }
    added
  }

  private def frame(rows: Seq[(Long, Long, Long, Long)]): DataFrame =
    spark.createDataFrame(rows).toDF("k", "o", "q", "c")

  private def restartStream(): Unit = {
    streams += 1
    checkpoint = s"$workDir/stream_ckpt_$streams"
    streamFrom = gen + 1
    streamState.clear()
    streamRows = 0L; streamSum = 0L
  }

  def setup(rec: Recorder): Unit = {
    createTable()
    // One untimed round and maintenance warm every operation.
    round(rec, 0, -1, timed = false)
    maintenance(rec, 5, -1, timed = false)
  }

  /** Latest generation and the table root, for the accounting tests. */
  private[graftbench] def latest: Long = gen
  private[graftbench] def root: String = table

  /** Generation 1: sf orders as `(k, o, q, c)`, 8 key-ranged files with
    * zone maps on `k`; the model is read back from what was written.
    */
  private[graftbench] def createTable(): Unit = {
    val base = graft.Tables.orders(spark, sfDir).select(
      col("o_orderkey").cast("long").as("k"),
      col("o_custkey").cast("long").as("o"),
      org.apache.spark.sql.functions.length(col("o_orderpriority")).cast("long").as("q"),
      org.apache.spark.sql.functions.round(col("o_totalprice") * 100).cast("long").as("c"))
    val dir = s"$table/data/gen=1/a=base"
    base.repartitionByRange(Files, col("k")).write.parquet(dir)
    val files = SnapshotTable.freshFiles(spark, dir)
    SnapshotTable.publishStats(spark, table, 1L, SnapshotTable.footerStats(spark, files, Seq("k")))
    // The model is what was written.
    spark.read.parquet(files: _*).select("k", "c").collect().foreach { r =>
      val k = r.getLong(0); val c = r.getLong(1)
      live(k) = c; keys += k; sumK += k; sumC += c
    }
    require(live.size == keys.size, "base keys must be unique")
    nextKey = keys.max + 1
    gen = 1L
    snapshotPlain()
    restartStream()
    newTableBytes()
  }

  def run(rec: Recorder, seconds: Double): Unit =
    for (c <- 0 until Workload.passes(seconds, NominalCycleS, minCycles)) cycle(rec, c, timed = true)

  private def step[T](rec: Recorder, kind: String, slot: Int, pass: Int, timed: Boolean)(
      body: OpContext => T)(check: T => Boolean): Unit = {
    rec.op(kind, slot, pass, timed)(body)(check)
    val added = newTableBytes()
    if (timed) tableBytes += added
  }

  private def cycle(rec: Recorder, pass: Int, timed: Boolean): Unit = {
    for (r <- 0 until RoundsPerCycle) round(rec, r * 5, pass, timed)
    maintenance(rec, RoundsPerCycle * 5, pass, timed)
  }

  private[graftbench] def round(rec: Recorder, slot: Int, pass: Int, timed: Boolean): Unit = {
    // append
    val batch = (0 until AppendRows).map { i =>
      (nextKey + i, rng.nextInt(OrderKeys).toLong, 1L + rng.nextInt(50), rng.nextInt(MaxCents).toLong)
    }
    step(rec, "append", slot, pass, timed) { ctx =>
      ctx.span("sources.append")(SnapshotTable.commit(frame(batch), table, gen + 1, carryFrom = Some(gen)))
    } { _ => true }
    gen += 1
    nextKey += AppendRows
    batch.foreach { case (k, _, _, c) => live(k) = c; keys += k; sumK += k; sumC += c }
    streamRows += AppendRows; streamSum += batch.map(_._4).sum
    if (timed) userBytes += AppendRows.toLong * RowBytes

    // upsert
    val picked = mutable.LinkedHashSet[Long]()
    while (picked.size < UpsertRows) picked += keys(rng.nextInt(keys.size))
    val updates = picked.toSeq.map(k => (k, rng.nextInt(OrderKeys).toLong, 1L + rng.nextInt(50),
      rng.nextInt(MaxCents).toLong))
    step(rec, "upsert", slot + 1, pass, timed) { ctx =>
      ctx.span("sources.upsert")(SnapshotTable.commitUpsert(frame(updates), table, gen + 1, "k", gen))
    } { _ => true }
    gen += 1
    updates.foreach { case (k, _, _, c) => sumC += c - live(k); live(k) = c }
    streamRows += UpsertRows; streamSum += updates.map(_._4).sum
    if (timed) userBytes += UpsertRows.toLong * RowBytes

    // read through the connector, zone-map pruned
    val span = plainKeys.last - plainKeys.head
    val lo = plainKeys.head + (rng.nextDouble() * span * (1 - RangeFrac)).toLong
    val hi = lo + (span * RangeFrac).toLong
    step(rec, "read_connector", slot + 2, pass, timed) { ctx =>
      ctx.span("sources.read") {
        val df = spark.read.format(provider).option("path", table)
          .option("generation", plainGen).load()
          .filter(col("k").between(lo, hi))
          .agg(count(lit(1)), coalesce(sum("c"), lit(0L)))
        (df.collect().head, df)
      }
    } { case (r, df) =>
      if (timed) {
        filesAdmitted += Ingest.scannedFiles(df)
        filesTotal += SnapshotTable.listFiles(spark, table, plainGen).size
      }
      expect("read_connector", (r.getLong(0), r.getLong(1)), rangeModel(lo, hi))
    }

    // read the latest generation merge-on-read
    step(rec, "read_mor", slot + 3, pass, timed) { ctx =>
      ctx.span("sources.read")(SnapshotTable.readMor(spark, table, gen, "k")
        .agg(count(lit(1)), sum("k"), sum("c")).collect().head)
    } { r => expect("read_mor", (r.getLong(0), r.getLong(1), r.getLong(2)), (live.size.toLong, sumK, sumC)) }

    // advance the streaming consumer
    step(rec, "stream", slot + 4, pass, timed) { ctx =>
      ctx.span("streaming.advance") {
        val q = streamSession.readStream.format(provider).option("path", table)
          .option("skipRewrites", "true").option("startingGeneration", streamFrom).load()
          .groupBy(pmod(col("k"), lit(StreamBuckets)).as("b"))
          .agg(count(lit(1)).as("n"), sum("c").as("s"))
          .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
          .option("checkpointLocation", checkpoint)
          .foreachBatch { (df: DataFrame, _: Long) =>
            df.collect().foreach((r: Row) => streamState(r.getLong(0)) = (r.getLong(1), r.getLong(2)))
          }
          .start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
    } { _ =>
      streamState.values.map(_._1).sum == streamRows && streamState.values.map(_._2).sum == streamSum
    }
  }

  private[graftbench] def maintenance(rec: Recorder, slot: Int, pass: Int, timed: Boolean): Unit = {
    val target = gen + 1
    step(rec, "compact", slot, pass, timed) { ctx =>
      ctx.span("sources.compact") {
        val dir = s"$table/data/gen=$target/a=${java.util.UUID.randomUUID()}"
        SnapshotTable.readMor(spark, table, gen, "k").repartitionByRange(Files, col("k"))
          .write.parquet(dir)
        val files = SnapshotTable.freshFiles(spark, dir)
        SnapshotTable.publishStats(spark, table, target,
          SnapshotTable.footerStats(spark, files, Seq("k")), action = "compact")
        files
      }
    } { files =>
      expect("compact", SnapshotTable.footerRowCounts(spark, files).map(_._2).sum, live.size.toLong)
    }
    gen = target
    snapshotPlain()
    step(rec, "expire", slot + 1, pass, timed) { ctx =>
      ctx.span("sources.expire")(SnapshotTable.expire(spark, table, gen))
    } { _ => expect("expire", SnapshotTable.generations(spark, table), Seq(gen)) }
    step(rec, "vacuum", slot + 2, pass, timed) { ctx =>
      ctx.span("sources.vacuum")(SnapshotTable.vacuum(spark, table, minAgeMs = 0L))
    } { _ => true }
    restartStream()
  }

  override def extraMetrics(rec: Recorder): Map[String, Double] = {
    val t = rec.timed
    // Latencies from untraced operations only: listener work would
    // inflate the traced half of a traced run.
    def p50(kinds: Set[String]): Double =
      Stats.median(t.filter(o => !o.traced && kinds(o.kind)).map(_.latencyMs))
    Map(
      "write_p50_ms" -> p50(Set("append", "upsert")),
      "read_p50_ms" -> p50(Set("read_connector", "read_mor")),
      "stream_batch_ms" -> p50(Set("stream")),
      "write_amp" -> tableBytes.toDouble / userBytes,
      "sources.files_admitted_frac" -> filesAdmitted.toDouble / filesTotal)
  }
}

object Ingest {
  val RoundsPerCycle = 2
  /** A cycle's duration on a 4-core machine, gaps included. */
  val NominalCycleS = 12.0
  val AppendRows = 5000
  val UpsertRows = 5000
  val Files = 8
  val RangeFrac = 0.1
  val StreamBuckets = 16
  val OrderKeys = 150000
  val MaxCents = 10000000
  /** Logical size of one (k, o, q, c) row: four BIGINTs. */
  val RowBytes = 32

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Files the connector planned for `df`'s executed scan: one input
    * partition per admitted file.
    */
  def scannedFiles(df: DataFrame): Int =
    PlanWalk.collect(df.queryExecution.executedPlan) {
      case b: BatchScanExec => b.inputRDD.getNumPartitions
    }.sum
}
