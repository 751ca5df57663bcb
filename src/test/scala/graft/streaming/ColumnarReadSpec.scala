package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** The connector's read path through Spark's own parquet reader —
  * value parity with `spark.read.parquet` across every flat type
  * including nulls, schema-evolution null vectors, row-group skipping
  * inside admitted files, and the plan-shape evidence that the
  * vectorized path actually engages (the value gates alone cannot show
  * WHICH reader mode produced the rows).
  */
class ColumnarReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val provider = classOf[SnapshotSourceProvider].getName

  test("connector reads every type as Spark's reader does, nulls included") {
    val t = graft.Scratch.dir("columnar_parity")
    val df = spark.range(10000L).select(
      col("id").as("k"),
      when(col("id") % 7 === 0, null).otherwise(col("id") * 3).as("l"),
      when(col("id") % 5 === 0, null)
        .otherwise(col("id").cast("int")).as("i"),
      when(col("id") % 3 === 0, null)
        .otherwise(col("id").cast("double") / 7.0).as("d"),
      (col("id") % 11).cast("float").as("f"),
      (col("id") % 2 === 0).as("b"),
      when(col("id") % 13 === 0, null)
        .otherwise(concat(lit("s_"), col("id"))).as("s"),
      encode(concat(lit("b_"), col("id")), "UTF-8").as("bin"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      date_add(lit("2020-01-01").cast("date"), (col("id") % 365).cast("int"))
        .as("dt"))
    SnapshotTable.commit(df.repartition(3), t, 1L)

    def canon(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("k").collect().map(_.toSeq.map {
        case a: Array[Byte] => a.toSeq
        case v => v
      }).toSeq
    val got = canon(spark.read.format(provider).load(t))
    assert(got.length === 10000)
    assert(got === canon(
      spark.read.parquet(SnapshotTable.listFiles(spark, t, 1L): _*)))
    // And the columnar path actually engaged.
    val plan = spark.read.format(provider).load(t).select("k")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"),
      s"the connector read must take the vectorized path; got:\n$plan")
  }

  test("pushed range probes skip row groups inside admitted files") {
    val t = graft.Scratch.dir("rowgroup_skip")
    val dir = s"$t/data/gen=1"
    // One sorted multi-row-group file (tiny row groups force many
    // groups — production's many-groups-per-GB-file shape in
    // miniature); publish it as a plain path-only manifest so FILE
    // pruning cannot help and any skipping must happen at the row
    // group level.
    spark.range(20000L).select(col("id").as("k"), (col("id") * 2).as("v"))
      .coalesce(1).write.option("parquet.block.size", "4096").parquet(dir)
    val file = SnapshotTable.freshFiles(spark, dir).head
    SnapshotTable.publish(spark, t, 1L, Seq(file))
    val blocks = {
      import scala.jdk.CollectionConverters._
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(file), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.asScala.toSeq finally r.close()
    }
    assert(blocks.size >= 4, s"fixture must span several row groups; got ${blocks.size}")
    val admitted = blocks.filter(b =>
      SnapshotSource.groupAdmits(Map("k" -> ((100L, 200L))), Map.empty, b))
    assert(admitted.nonEmpty && admitted.size <= 2,
      s"the [100, 200] probe spans at most 2 of ${blocks.size} sorted groups; " +
        s"admitted ${admitted.size}")

    // Rows the connector's scan node handed to Spark (its numOutputRows
    // metric, counted before the residual filter): row groups Spark's
    // parquet reader skipped never reach it. AQE off keeps the scan
    // node in the executed plan.
    def sumAndScanned(df: org.apache.spark.sql.DataFrame): (Long, Long) =
      TestSpark.withConf("spark.sql.adaptive.enabled" -> "false") {
        val q = df.agg(sum("v"))
        val got = q.collect().head.getLong(0)
        val scanned = q.queryExecution.executedPlan.collectFirst {
          case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            b.metrics("numOutputRows").value
        }.get
        (got, scanned)
      }
    val (got, scanned) = sumAndScanned(spark.read.format(provider).load(t)
      .filter(col("k") >= 100L && col("k") <= 200L))
    assert(got === (100L to 200L).map(_ * 2).sum)
    assert(scanned >= 101L && scanned <= admitted.map(_.getRowCount).sum,
      s"the probe must read only its admitted row groups; read $scanned rows")
    // An unfiltered scan still reads everything (no false skips).
    // sum, not count(): a bare count() is answered from MANIFEST stats
    // (the aggregate pushdown) and reads no row group at all.
    assert(sumAndScanned(spark.read.format(provider).load(t)) ===
      (((0L until 20000L).map(_ * 2).sum, 20000L)))
  }

  test("schema evolution serves null vectors for columns the file never carried") {
    import spark.implicits._
    val t = graft.Scratch.dir("columnar_evo")
    SnapshotTable.commit(
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"), t, 1L)
    SnapshotTable.commit(
      Seq((3L, "c", 30L), (4L, "d", 40L)).toDF("k", "v", "extra"),
      t, 2L, carryFrom = Some(1L))
    val got = spark.read.format(provider).load(t)
      .orderBy("k").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(got.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq
      === Seq(-1L, -1L, 30L, 40L))
  }
}
