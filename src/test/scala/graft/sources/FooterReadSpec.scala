package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The snapshot layer's driver-side metadata reads: file schemas come
  * from parquet footers (Spark's own conversion, no inference job),
  * commits and merge-on-read plans start no job to learn a schema, and
  * a zone-map publish opens each footer once.
  */
class FooterReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsDuring[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      ListenerBusDrain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  test("footer schemas equal Spark's inferred schema over every type and start no job") {
    val dir = graft.Scratch.dir("footer_schema_spec")
    spark.range(0, 10, 1, 1).selectExpr(
      "CAST(id AS BYTE) AS b", "CAST(id AS SHORT) AS s",
      "CAST(id AS INT) AS i", "id AS l",
      "CAST(id AS DECIMAL(9,2)) AS d9", "CAST(id AS DECIMAL(20,3)) AS d20",
      "CAST(id AS FLOAT) AS f", "CAST(id AS DOUBLE) AS db",
      "DATE_ADD(DATE '2024-01-01', CAST(id AS INT)) AS dt",
      "TIMESTAMP_SECONDS(id) AS ts",
      "CAST(TIMESTAMP_SECONDS(id) AS TIMESTAMP_NTZ) AS ntz",
      "CAST(id AS STRING) AS str", "CAST(CAST(id AS STRING) AS BINARY) AS bin",
      "ARRAY(id, id + 1) AS arr", "NAMED_STRUCT('a', id, 'b', CAST(id AS STRING)) AS st",
      "MAP(CAST(id AS STRING), id) AS m",
      "ARRAY(NAMED_STRUCT('x', CAST(id AS INT), 'y', CAST(id AS DOUBLE))) AS arst",
      "IF(id % 2 = 0, NULL, id) AS nul")
      .write.mode("overwrite").parquet(dir)
    val Seq(file) = SnapshotTable.freshFiles(spark, dir)
    val (footer, jobs) =
      jobsDuring(SnapshotTable.mergedFooterSchema(spark, Seq(file)))
    assert(jobs === 0, "a footer schema read must not schedule a Spark job")
    assert(footer.fields.length === 18)
    assert(footer === spark.read.parquet(file).schema,
      "footer schema must equal Spark's inference, nullability included")
  }

  test("commitUpsert of a 4-file batch and its merge-on-read plan infer no schema") {
    import spark.implicits._
    val table = graft.Scratch.dir("footer_upsert_spec")
    SnapshotTable.commit(spark.range(0, 400, 1, 4)
      .selectExpr("id AS k", "id AS v"), table, 1L)
    val batch = spark.range(0, 400, 2, 4).selectExpr("id AS k", "id * 10 AS v")
    val (_, commitJobs) = jobsDuring(
      SnapshotTable.commitUpsert(batch, table, 2L, "k", carryFrom = 1L))
    assert(SnapshotTable.listFiles(spark, table, 2L).size === 8)
    // The batch write and the tombstone write (its distinct is one
    // shuffle stage plus the write): schema inference would add one
    // job per staged file.
    assert(commitJobs <= 3, s"commitUpsert started $commitJobs jobs")
    val (mor, planJobs) = jobsDuring(SnapshotTable.readMor(spark, table, 2L, "k"))
    assert(planJobs === 0, s"building the merge-on-read plan started $planJobs jobs")
    val got = mor.as[(Long, Long)].collect().toMap
    assert(got === (0L until 400L).map(k => k -> (if (k % 2 == 0) k * 10 else k)).toMap)
  }

  test("publishStats of footerStats opens each footer once") {
    val dir = graft.Scratch.dir("footer_open_count_spec")
    spark.range(0, 400, 1, 4).selectExpr("id AS k", "IF(id % 7 = 0, NULL, id) AS v")
      .write.mode("overwrite").parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[OpenCountingFs].getName)
    val files = SnapshotTable.freshFiles(spark, dir).map(_.replaceFirst("^file:", "countfs:"))
    assert(files.size === 4)
    def opensDuring(body: => Unit): Int = {
      val before = OpenCountingFs.opens.get
      body
      OpenCountingFs.opens.get - before
    }
    val table = graft.Scratch.dir("footer_open_count_table")
    assert(opensDuring(SnapshotTable.publishStats(spark, table, 1L,
      SnapshotTable.footerStats(spark, files, Seq("k", "v")))) === files.size)
    // Rows that lost footerStats' stats are read from their footers,
    // and both forms record the same manifest.
    assert(opensDuring(SnapshotTable.publishStats(spark, table, 2L,
      SnapshotTable.footerStats(spark, files, Seq("k", "v")).map(identity))) === 2 * files.size)
    def manifest(gen: Long) = spark.read.parquet(s"$table/manifests/gen=$gen")
      .select("path", "key_col", "min_key", "max_key", "n_rows", "bytes", "n_nulls")
      .collect().map(_.toSeq).toSet
    assert(manifest(1L) === manifest(2L))
    assert(manifest(1L).size === 8)
    assert(manifest(1L).forall(r => r(4) == 100L && r(5) != null && r(6) != null))
  }
}

/** The local filesystem under the `countfs` scheme, counting the files
  * it opens.
  */
class OpenCountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def open(f: org.apache.hadoop.fs.Path,
      bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    OpenCountingFs.opens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object OpenCountingFs {
  val opens = new AtomicInteger
}
