package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** DECIMAL and ARRAY columns through the snapshot connector — the
  * round-trip the money/embedding tables need to live in the catalog:
  * both physical decimal forms (INT32/INT64 unscaled up to 18 digits,
  * FIXED_LEN bytes above), the three-level list encode, null arrays and null
  * elements, parity between the connector and a plain
  * `spark.read.parquet` over the SAME committed files, and decode of files
  * Spark's native writer produced (INT32-backed small decimals,
  * required list elements).
  */
class DecimalArrayReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val provider = classOf[SnapshotSourceProvider].getName

  private def sourceFrame = {
    spark.range(5000L).select(
      col("id").as("k"),
      // Exact money values at both physical widths; nulls mixed in.
      when(col("id") % 11 === 0, null)
        .otherwise(((col("id") * 7 + 3).cast(DecimalType(18, 4)) / 100)
          .cast(DecimalType(18, 4)))
        .as("m18"),
      (col("id").cast(DecimalType(38, 6)) * col("id") + 1).as("m38"),
      col("id").cast(DecimalType(9, 2)).as("m9"),
      // Arrays: floats (the embedding shape), with a null element and
      // whole-null arrays.
      when(col("id") % 13 === 0, null).otherwise(array(
        (col("id") % 97).cast("float"),
        when(col("id") % 7 === 0, null)
          .otherwise((col("id") % 31).cast("float")),
        lit(1.5f))).as("emb"),
      array(concat(lit("w_"), col("id")), lit("x")).as("words"),
      array((col("id") % 5).cast(DecimalType(18, 2)),
        col("id").cast(DecimalType(38, 4))).cast(
          ArrayType(DecimalType(38, 4))).as("decs"))
  }

  private def canon(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(_.toSeq.map {
      case a: Array[Byte] => a.toSeq
      case s: collection.Seq[_] => s.toVector
      case v => v
    }).toSeq

  test("connector write+read round-trips decimals and arrays") {
    val t = graft.Scratch.dir("decarr_roundtrip")
    val df = sourceFrame
    df.repartition(3).write.format(provider).option("path", t)
      .mode("append").save()
    // Ground truth: a plain parquet read of the committed files, and
    // the source frame itself (the write must not change a value).
    val truth = canon(spark.read
      .parquet(SnapshotTable.listFiles(spark, t, 1L): _*)
      .orderBy("k").collect())
    assert(truth.length === 5000)
    assert(truth === canon(df.orderBy("k").collect()))
    assert(canon(spark.read.format(provider).load(t).orderBy("k").collect())
      === truth)
  }

  test("connector decodes Spark-native-written decimal and array files") {
    val t = graft.Scratch.dir("decarr_native")
    // Spark's writer: INT32-backed DECIMAL(9,2), FIXED DECIMAL(38,6),
    // required float elements (containsNull = false).
    val df = spark.range(2000L).select(
      col("id").as("k"),
      col("id").cast(DecimalType(9, 2)).as("m9"),
      (col("id").cast(DecimalType(18, 4)) / 7).as("m18"),
      (col("id").cast(DecimalType(38, 6)) * 1000001).as("m38"),
      array((col("id") % 3).cast("float"), lit(0.25f)).as("emb"))
    SnapshotTable.commit(df.repartition(2), t, 1L)
    val truth = canon(df.orderBy("k").collect())
    val got = canon(spark.read.format(provider).load(t)
      .orderBy("k").collect())
    assert(got === truth)
  }

  test("pushed DECIMAL range bounds prune files through zone maps") {
    val t = graft.Scratch.dir("decimal_skip")
    val gen1 = s"$t/data/gen=1"
    // Four price-range slices; prices are exact scale-4 decimals
    // ((25k+7)/100), INT64-unscaled in the footers.
    spark.range(4000L).select(col("id").as("k"),
        ((col("id") * 25 + 7).cast(DecimalType(18, 4)) / 100)
          .cast(DecimalType(18, 4)).as("price"),
        expr("id div 1000").cast("int").as("s"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1)
    val paths = spark.read.parquet(gen1).inputFiles.toSeq
    assert(paths.size === 4)
    graft.sources.SnapshotTable.publishStats(spark, t, 1L,
      graft.sources.SnapshotTable.footerStats(spark, paths, Seq("price")))
    // price ∈ [250, 400] ⇔ k ∈ [1000, 1599] — entirely slice s=1.
    val probe = spark.read.format(provider).load(t)
      .filter(col("price") >= lit(new java.math.BigDecimal("250.0000")) &&
        col("price") <= lit(new java.math.BigDecimal("400.0000")))
      .agg(count(lit(1)).as("n"), sum("k").as("ks"))
    val r = probe.head()
    assert(r.getLong(0) === 600L)
    assert(r.getLong(1) === (1000L to 1599L).sum)
    // Planning telemetry, not a plan walk: the scan hides inside AQE
    // query stages on an aggregate plan.
    val planned = SnapshotSource.lastPlan(t).map(_._1).getOrElse(-1)
    assert(planned === 1,
      s"the decimal range covers exactly one of 4 price slices; planned $planned")
  }

  test("STRUCT columns round-trip: nested groups, null members, array-of-struct") {
    val t = graft.Scratch.dir("struct_roundtrip")
    val df = spark.range(3000L).select(
      col("id").as("k"),
      when(col("id") % 11 === 0, null).otherwise(struct(
        concat(lit("l_"), col("id") % 5).as("lang"),
        when(col("id") % 7 === 0, null).otherwise(col("id") * 3).as("chars"),
        (col("id").cast(DecimalType(18, 2)) / 4).cast(DecimalType(18, 2))
          .as("score"),
        struct((col("id") % 3).cast("int").as("inner")).as("nested")))
        .as("meta"),
      array(struct(col("id").as("a"), lit("x").as("b")),
        struct((col("id") + 1).as("a"), lit("y").as("b"))).as("tags"))
    df.repartition(2).write.format(provider).option("path", t)
      .mode("append").save()
    val truth = canon(spark.read
      .parquet(SnapshotTable.listFiles(spark, t, 1L): _*)
      .selectExpr("k", "meta.lang", "meta.chars", "meta.score",
        "meta.nested.inner", "tags[0].a", "tags[1].b")
      .orderBy("k").collect())
    val got = canon(spark.read.format(provider).load(t)
      .selectExpr("k", "meta.lang", "meta.chars", "meta.score",
        "meta.nested.inner", "tags[0].a", "tags[1].b")
      .orderBy("k").collect())
    assert(truth.length === 3000)
    assert(got === truth)
    // And the connector decodes Spark-native-written structs too.
    val t2 = graft.Scratch.dir("struct_native")
    SnapshotTable.commit(df.repartition(2), t2, 1L)
    val got2 = canon(spark.read.format(provider).load(t2)
      .selectExpr("k", "meta.lang", "meta.chars", "meta.score",
        "meta.nested.inner", "tags[0].a", "tags[1].b")
      .orderBy("k").collect())
    assert(got2 === truth)
  }

  test("COUNT(*) pushes down to manifest stats; filters and tombstones refuse") {
    import spark.implicits._
    val t = graft.Scratch.dir("count_pushdown")
    SnapshotTable.commit(
      (1L to 500L).map(k => (k, k * 2)).toDF("k", "v").repartition(3), t, 1L)
    SnapshotTable.commit(
      (501L to 700L).map(k => (k, k * 2)).toDF("k", "v").repartition(2), t, 2L,
      carryFrom = Some(1L))
    // Plain COUNT(*): answered from the manifest, no data file opened.
    assert(spark.read.format(provider).load(t)
      .selectExpr("count(*)").head().getLong(0) === 700L)
    assert(SnapshotSource.lastCountPushdown(t) === Some(true))
    // The executed plan's scan IS the one-row local relation (Spark
    // converts the LocalScan to a LocalTableScanExec) — no file scan,
    // no aggregate, anywhere.
    val df = spark.read.format(provider).load(t).selectExpr("count(*)")
    assert(df.head().getLong(0) === 700L)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan") &&
      !plan.contains("HashAggregate"),
      s"count must serve from stats as a local relation; got:\n$plan")
    // An UNRELATED pushable aggregate (a bare sum Spark also offers)
    // must not overwrite the count verdict with a spurious refusal.
    assert(spark.read.format(provider).load(t).agg(sum("v")).head().getLong(0)
      === (1L to 700L).map(_ * 2).sum)
    assert(SnapshotSource.lastCountPushdown(t) === Some(true))
    // A filter refuses the pushdown (rows must be tested; with a
    // residual filter Spark never even offers the aggregate) but the
    // count stays right through the normal scan — plan-asserted, since
    // the telemetry only records OFFERED pushdowns.
    val fdf = spark.read.format(provider).load(t)
      .where(expr("k <= 500")).selectExpr("count(*)")
    assert(fdf.head().getLong(0) === 500L)
    assert(fdf.queryExecution.executedPlan.toString.contains("BatchScan"),
      "a filtered count must run the real scan")
    // Time travel counts the PINNED snapshot from its own manifest.
    val travel = spark.read.format(provider).option("generation", "1")
      .load(t).selectExpr("count(*)")
    assert(travel.head().getLong(0) === 500L)
    assert(SnapshotSource.lastCountPushdown(t) === Some(true))
    // Merge-on-read tombstones refuse: recorded counts include rows
    // the anti-join hides (the plain scan then fails loudly by the
    // MoR guard — counting a tombstoned lineage is readMor's job).
    SnapshotTable.commitDeletes(Seq(1L).toDF("k"), t, 3L, carryFrom = 2L)
    intercept[Exception] {
      spark.read.format(provider).load(t).selectExpr("count(*)").head()
    }
    assert(SnapshotSource.lastCountPushdown(t) === Some(false))
  }

  test("ARRAY columns decode VECTORIZED and match Spark's reader") {
    val t = graft.Scratch.dir("arr_columnar")
    // Embedding-shaped table: float arrays with null elements, whole
    // null arrays, EMPTY arrays, string arrays — every definition-level
    // case of the three-level list — plus flat columns alongside.
    val df = spark.range(40000L).select(
      col("id").as("k"),
      when(col("id") % 13 === 0, null)
        .when(col("id") % 17 === 0, array().cast(ArrayType(FloatType)))
        .otherwise(array(
          (col("id") % 97).cast("float"),
          when(col("id") % 7 === 0, null)
            .otherwise((col("id") % 31).cast("float")),
          lit(1.5f), (col("id") % 11).cast("float"))).as("emb"),
      array(concat(lit("w_"), col("id") % 50), lit("x")).as("words"))
    df.repartition(4).write.format(provider).option("path", t)
      .mode("append").save()
    val truth = canon(spark.read
      .parquet(SnapshotTable.listFiles(spark, t, 1L): _*)
      .orderBy("k").collect())
    assert(truth.length === 40000)
    assert(canon(spark.read.format(provider).load(t).orderBy("k").collect())
      === truth)
    // With Spark's nested vectorized reader on, arrays take the
    // vectorized path and still match.
    TestSpark.withConf(
        "spark.sql.parquet.enableNestedColumnVectorizedReader" -> "true") {
      val plan = spark.read.format(provider).load(t).select("emb")
        .queryExecution.executedPlan.toString
      assert(plan.contains("ColumnarToRow"),
        s"array columns must take the vectorized path; got:\n$plan")
      assert(canon(spark.read.format(provider).load(t).orderBy("k").collect())
        === truth)
    }
  }

  test("MIN/MAX push down to zone maps; coverage gaps and filters refuse") {
    val t = graft.Scratch.dir("minmax_pushdown")
    val gen1 = s"$t/data/gen=1"
    spark.range(1L, 4001L).select(col("id").as("k"),
        ((col("id") * 25 + 7).cast(DecimalType(18, 4)) / 100)
          .cast(DecimalType(18, 4)).as("price"),
        expr("id div 1000").cast("int").as("s"))
      .repartition(col("s"))
      .write.partitionBy("s").mode("overwrite").parquet(gen1)
    val paths = spark.read.parquet(gen1).inputFiles.toSeq.sorted
    SnapshotTable.publishStats(spark, t, 1L,
      SnapshotTable.footerStats(spark, paths, Seq("k", "price")))
    def read() = spark.read.format(provider).load(t)
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    // Long + decimal min/max and count together: one local relation,
    // no scan, values exact (the decimal fold rescales the unscaled
    // long back at the column's scale).
    val a = read().selectExpr("min(k)", "max(k)", "count(*)",
      "min(price)", "max(price)")
    val ra = a.head()
    assert(plan(a).contains("LocalTableScan") && !plan(a).contains("BatchScan"))
    assert(ra.getLong(0) === 1L && ra.getLong(1) === 4000L &&
      ra.getLong(2) === 4000L)
    assert(ra.getDecimal(3) === new java.math.BigDecimal("0.3200"))
    assert(ra.getDecimal(4) === new java.math.BigDecimal("1000.0700"))
    // A filter refuses (the guard): the honest scan still answers.
    val f = read().where(col("k") % 7 === 0).selectExpr("min(k)")
    assert(f.head().getLong(0) === 7L)
    assert(plan(f).contains("BatchScan"))
    // COVERAGE GAP: a generation whose new file carries no zone row
    // must refuse min/max (the uncovered file could hold the true
    // extremum) while count — covered by recorded n_rows — still
    // serves. The honest scan finds the new true minimum.
    val extraDir = s"$t/data/gen=2"
    spark.range(1).select(lit(-5L).as("k"),
        lit(new java.math.BigDecimal("0.0100")).cast(DecimalType(18, 4))
          .as("price"))
      .coalesce(1).write.parquet(extraDir)
    val extra = spark.read.parquet(extraDir).inputFiles.head
    SnapshotTable.publishAppend(spark, t, 2L, Seq(extra), carryFrom = Some(1L))
    val g = read().selectExpr("min(k)")
    assert(g.head().getLong(0) === -5L,
      "the uncovered file's row must be found by the honest scan")
    assert(plan(g).contains("BatchScan"),
      "min over a partially-covered generation must refuse the pushdown")
    val c = read().selectExpr("count(*)")
    assert(c.head().getLong(0) === 4001L)
    assert(plan(c).contains("LocalTableScan") && !plan(c).contains("BatchScan"),
      "count stays manifest-served: every file has a recorded row count")
  }

  test("TopN pushdown: NULLS LAST prunes by NON-NULL proof rows; NULLS FIRST refuses") {
    import org.apache.spark.sql.functions.{asc_nulls_last, desc}
    val t = graft.Scratch.dir("topn_nulls")
    val gen1 = s"$t/data/gen=1"
    // Three files: A = keys 1..5 plus TEN null keys (nonNull = 5),
    // B = 6..20, C = 21..30 — the null mix is exactly what makes naive
    // whole-file proof counting unsound.
    def write(dir: String, df: org.apache.spark.sql.DataFrame): String = {
      df.coalesce(1).write.parquet(dir)
      spark.read.parquet(dir).inputFiles.head
    }
    val a = write(s"$gen1/a", spark.range(15).selectExpr(
      "CASE WHEN id < 5 THEN id + 1 END AS k"))
    val b = write(s"$gen1/b", spark.range(6, 21).selectExpr("id AS k"))
    val c = write(s"$gen1/c", spark.range(21, 31).selectExpr("id AS k"))
    SnapshotTable.publishStats(spark, t, 1L,
      SnapshotTable.footerStats(spark, Seq(a, b, c), Seq("k")))
    def read() = spark.read.format(provider).load(t)
    def plannedAfter[T](body: => T): (T, Int) = {
      val r = body
      (r, SnapshotSource.lastPlan(t).map(_._1).getOrElse(-1))
    }
    // ASC NULLS LAST LIMIT 5: A's five non-null rows prove B and C
    // away — one file planned, content exact.
    val (r5, p5) = plannedAfter(
      read().orderBy(asc_nulls_last("k")).limit(5)
        .collect().map(_.getLong(0)).toSeq)
    assert(r5 === (1L to 5L) && p5 === 1)
    // LIMIT 6: A's proof is only 5 NON-NULL rows (15 raw rows — a
    // count not subtracting nulls would wrongly exclude B), so B must
    // stay planned; C still drops (proof 20 >= 6).
    val (r6, p6) = plannedAfter(
      read().orderBy(asc_nulls_last("k")).limit(6)
        .collect().map(_.getLong(0)).toSeq)
    assert(r6 === (1L to 6L) && p6 === 2,
      s"A's 10 null rows must not count as proof; planned $p6")
    // DESC (NULLS LAST by default) LIMIT 3: only C plans.
    val (rd, pd) = plannedAfter(
      read().orderBy(desc("k")).limit(3)
        .collect().map(_.getLong(0)).toSeq)
    assert(rd === Seq(30L, 29L, 28L) && pd === 1)
    // Default ASC = NULLS FIRST: the nulls sort AHEAD of every proof
    // row, so the pushdown refuses (all files plan) and the nulls
    // actually arrive first — the rows unsound pruning would lose.
    val (rf, pf) = plannedAfter(
      read().orderBy("k").limit(2).collect().map(r =>
        if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq)
    assert(rf === Seq(-1L, -1L) && pf === 3,
      s"NULLS FIRST must refuse the prune; planned $pf")
  }

  test("nested schema pruning reaches the decoder: a struct-member read decodes the subset") {
    val t = graft.Scratch.dir("nested_prune")
    spark.range(500L).select(col("id").as("k"),
        struct(col("id").as("a"), concat(lit("s"), col("id")).as("b"),
          (col("id") * 2).as("c")).as("meta"))
      .write.format(provider).option("path", t).mode("append").save()
    val df = spark.read.format(provider).load(t).select(col("k"), col("meta.a"))
    assert(df.orderBy("k").collect().map(_.getLong(1)).toSeq
      === (0L until 500L))
    // Catalyst's nested-schema pruning hands the scan a SUBSET struct;
    // the recursive by-name decode must serve it (members b and c are
    // never materialized).
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.readSchema().catalogString
      === "struct<k:bigint,meta:struct<a:bigint>>")
  }

  test("MAP columns round-trip: key_value groups, null values, null maps") {
    val t = graft.Scratch.dir("map_roundtrip")
    val df = spark.range(2000L).select(
      col("id").as("k"),
      when(col("id") % 13 === 0, null).otherwise(map(
        lit("chars"), col("id") * 7,
        lit("maybe"), when(col("id") % 5 === 0, null).otherwise(col("id"))))
        .as("m"))
    df.repartition(2).write.format(provider).option("path", t)
      .mode("append").save()
    def proj(d: org.apache.spark.sql.DataFrame) = canon(d
      .selectExpr("k", "m['chars']", "m['maybe']", "map_keys(m)")
      .orderBy("k").collect())
    val truth = proj(spark.read
      .parquet(SnapshotTable.listFiles(spark, t, 1L): _*))
    val got = proj(spark.read.format(provider).load(t))
    assert(truth.length === 2000)
    assert(got === truth)
    // Spark-native-written maps decode through the same path.
    val t2 = graft.Scratch.dir("map_native")
    SnapshotTable.commit(df.repartition(2), t2, 1L)
    assert(proj(spark.read.format(provider).load(t2)) === truth)
  }

  test("pushed TIMESTAMP range bounds prune files over connector-written micros") {
    val t = graft.Scratch.dir("timestamp_skip")
    // Connector-written files store timestamps as INT64 micros (with
    // footer stats — unlike Spark's INT96 default), so zone maps on a
    // time column record and pushed Timestamp literals prune.
    spark.range(4000L).select(col("id").as("k"),
        timestamp_micros(col("id") * 1000000L + 1500000000000000L).as("ts"))
      .repartitionByRange(4, col("ts"))
      .write.format(provider).option("path", t).mode("append").save()
    val files = SnapshotTable.listFiles(spark, t, 1L)
    assert(files.size === 4)
    // The physical type the zone maps rest on: INT64 micros, not INT96.
    val tsType = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(files.head),
          spark.sessionState.newHadoopConf()))
      try {
        val s = r.getFooter.getFileMetaData.getSchema
        s.getType(s.getFieldIndex("ts")).asPrimitiveType()
      } finally r.close()
    }
    assert(tsType.getPrimitiveTypeName ===
      org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64)
    assert(tsType.getLogicalTypeAnnotation ===
      org.apache.parquet.schema.LogicalTypeAnnotation.timestampType(true,
        org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MICROS))
    SnapshotTable.publishStats(spark, t, 2L,
      SnapshotTable.footerStats(spark, files, Seq("ts")))
    // ids 1000..1599 — inside one range slice of the sorted layout.
    def tsOf(id: Long) = new java.sql.Timestamp(
      (id * 1000000L + 1500000000000000L) / 1000L)
    val probe = spark.read.format(provider).load(t)
      .filter(col("ts") >= lit(tsOf(1000L)) && col("ts") <= lit(tsOf(1599L)))
      .agg(count(lit(1)).as("n"), sum("k").as("ks"))
    val r = probe.head()
    assert(r.getLong(0) === 600L)
    assert(r.getLong(1) === (1000L to 1599L).sum)
    val planned = SnapshotSource.lastPlan(t).map(_._1).getOrElse(-1)
    assert(planned < files.size && planned >= 1,
      s"timestamp bounds must prune below ${files.size} files; planned $planned")
  }

  test("CTAS and INSERT carry decimal and embedding columns through the catalog") {
    val wh = graft.Scratch.dir("decarr_cat_wh")
    spark.conf.set("spark.sql.catalog.decarr_cat",
      classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.decarr_cat.warehouse", wh)
    sourceFrame.createOrReplaceTempView("decarr_src")
    spark.sql("CREATE TABLE decarr_cat.t_money AS " +
      "SELECT k, m18, m38, emb FROM decarr_src WHERE k % 2 = 1")
    spark.sql("INSERT INTO decarr_cat.t_money " +
      "SELECT k, m18, m38, emb FROM decarr_src WHERE k % 2 = 0")
    val got = spark.sql(
      """SELECT count(*) AS n,
        |  CAST(sum(m18 * 10000) AS BIGINT) AS c18,
        |  CAST(sum(m38 % 1000000) AS DECIMAL(38,6)) AS c38,
        |  sum(size(emb)) AS n_elems
        |FROM decarr_cat.t_money""".stripMargin).head()
    val want = spark.sql(
      """SELECT count(*) AS n,
        |  CAST(sum(m18 * 10000) AS BIGINT) AS c18,
        |  CAST(sum(m38 % 1000000) AS DECIMAL(38,6)) AS c38,
        |  sum(size(emb)) AS n_elems
        |FROM decarr_src""".stripMargin).head()
    assert(got === want)
    // The schema survives the catalog round trip exactly.
    val sch = spark.table("decarr_cat.t_money").schema
    assert(sch("m18").dataType === DecimalType(18, 4))
    assert(sch("m38").dataType === DecimalType(38, 6))
    assert(sch("emb").dataType === ArrayType(FloatType))
  }
}
