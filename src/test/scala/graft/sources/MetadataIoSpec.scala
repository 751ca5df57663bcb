package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.TestSpark

/** The snapshot layer's driver-side metadata I/O at native cost:
  * directory listings start no OS process, parquet metadata reads use
  * the session's Hadoop conf, and compaction lists its input without a
  * schema-inference job.
  */
class MetadataIoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def conf = spark.sparkContext.hadoopConfiguration

  /** `body`'s result and the OS processes started under a `graft.`
    * frame while it ran, as an in-process JFR recording of
    * `jdk.ProcessStart` sees them (each as its command line).
    */
  private def processesDuring[A](body: => A): (A, Seq[String]) = {
    val r = new Recording()
    r.enable("jdk.ProcessStart").withStackTrace()
    r.start()
    val a = try body finally r.stop()
    val f = Files.createTempFile("graft_metadata_io", ".jfr")
    try {
      r.dump(f)
      val started = RecordingFile.readAllEvents(f).asScala.toSeq.filter { e =>
        e.getEventType.getName == "jdk.ProcessStart" &&
          Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
            _.getMethod.getType.getName.startsWith("graft.")))
      }.map(_.getString("command"))
      (a, started)
    } finally { r.close(); Files.deleteIfExists(f) }
  }

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

  /** The recursive `FileSystem.listFiles` listing and `file:///`
    * rendering the snapshot layer used before its `listStatus` walk.
    */
  private def listFilesRendering(dir: String): Seq[String] = {
    val root = new Path(dir)
    val rootDepth = root.toUri.getPath.split("/").length
    val it = root.getFileSystem(conf).listFiles(root, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val s = it.next()
      val segs = s.getPath.toUri.getPath.split("/").drop(rootDepth)
      if (s.isFile && !segs.exists(n => n.startsWith("_") || n.startsWith("."))) {
        val u = s.getPath.toUri
        out += new java.net.URI(u.getScheme,
          Option(u.getAuthority).getOrElse(""), u.getPath, null, null).toString
      }
    }
    out.result().sorted
  }

  /** Copies `from` to `to`, creating the parent directories. */
  private def plant(from: String, to: String): java.nio.file.Path = {
    val p = Paths.get(to)
    Files.createDirectories(p.getParent)
    Files.copy(Paths.get(new java.net.URI(from)), p)
  }

  test("freshFiles and vacuum list a partitioned layout with hidden debris and start no OS process") {
    import spark.implicits._
    val dir = graft.Scratch.dir("metadata_io_listing")
    spark.range(0, 40, 1, 2).selectExpr("id", "id % 2 AS p")
      .write.mode("overwrite").partitionBy("p").parquet(dir)
    val part = SnapshotTable.freshFiles(spark, dir).head
    // An in-flight writer's attempt tree, a dot-directory and hidden
    // leaves next to the visible part files (the writer already left
    // `_SUCCESS` and `.crc` siblings).
    val hiddenInDir = Seq(
      s"$dir/_temporary/0/_temporary/attempt_0/p=0/part-9.parquet",
      s"$dir/.staging/part-8.parquet",
      s"$dir/p=1/_part-7.parquet",
      s"$dir/p=1/.part-6.parquet")
    hiddenInDir.foreach(plant(part, _))
    assert(new java.io.File(s"$dir/_SUCCESS").exists)
    assert(new java.io.File(dir, "p=0").list().exists(_.endsWith(".crc")))

    val (listed, listProcs) = processesDuring(SnapshotTable.freshFiles(spark, dir))
    assert(listed.size === 4, listed)
    assert(listed.forall(f => f.startsWith("file:///") && f.endsWith(".parquet")))
    assert(listed === listFilesRendering(dir))
    assert(listProcs.isEmpty, s"freshFiles started ${listProcs.size} processes: $listProcs")

    val table = graft.Scratch.dir("metadata_io_vacuum")
    SnapshotTable.commit(spark.range(0, 40, 1, 2).toDF("k"), table, 1L)
    SnapshotTable.commitDeletes(Seq(3L).toDF("k"), table, 2L, carryFrom = 1L)
    // One visible orphan (a crashed writer's output) in each root ...
    Seq(9L).toDF("k").write.parquet(s"$table/data/gen=1/a=crashed")
    Seq(9L).toDF("k").write.parquet(s"$table/deletes/gen=2/a=crashed")
    // ... and unreferenced files under hidden ancestors, which vacuum
    // must never touch.
    val live = SnapshotTable.listFiles(spark, table, 1L).head
    val hiddenInTable = Seq(
      s"$table/data/_temporary/0/_temporary/attempt_0/part-9.parquet",
      s"$table/data/gen=1/.trash/part-8.parquet",
      s"$table/data/gen=1/_staging/a=x/part-7.parquet",
      s"$table/deletes/gen=2/a=crashed/_part-6.parquet")
    val mtimes = hiddenInTable.map(p => Files.getLastModifiedTime(plant(live, p)))
    val visible = Seq("data", "deletes").map(r => listFilesRendering(s"$table/$r").size).sum

    val ((present, removed), vacuumProcs) =
      processesDuring(SnapshotTable.vacuum(spark, table, minAgeMs = 0L))
    assert(present === visible.toLong)
    assert(removed === 2L, "exactly the two crashed writers' part files are orphans")
    assert(hiddenInTable.map(p => Files.getLastModifiedTime(Paths.get(p))) === mtimes,
      "files under hidden ancestors survive untouched")
    assert(vacuumProcs.isEmpty, s"vacuum started ${vacuumProcs.size} processes: $vacuumProcs")
    assert(SnapshotTable.readMor(spark, table, 2L, "k").as[Long].collect().toSet ===
      ((0L until 40L).toSet - 3L))
  }

  test("compactTo lists its input without a schema-inference job") {
    val root = graft.Scratch.dir("metadata_io_compact")
    val small = s"$root/small"
    spark.range(0, 2000, 1, 16).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.mode("overwrite").parquet(small)
    val schema = spark.read.parquet(small).schema
    val (target, compactJobs) =
      jobsDuring(graft.sources.SourceOps.compactTo(spark, small, s"$root/out", 8L << 10))
    // The same rewrite with the schema handed over: compaction may
    // start exactly the jobs of its write, none to infer a schema.
    val (_, writeJobs) = jobsDuring(spark.read.schema(schema).parquet(small)
      .repartition(target).write.mode("overwrite").parquet(s"$root/ref"))
    assert(target > 1)
    assert(compactJobs === writeJobs,
      s"compactTo started $compactJobs jobs, its write alone $writeJobs")
    assert(spark.read.parquet(s"$root/out").schema === schema)
    assert(spark.read.parquet(s"$root/out").count() === 2000L)
  }

  test("footer reads apply the session's parquet decryption settings") {
    val dir = graft.Scratch.dir("metadata_io_encrypted")
    val factory = "parquet.crypto.factory.class" ->
      "org.apache.parquet.crypto.keytools.PropertiesDrivenCryptoFactory"
    val kms = "parquet.encryption.kms.client.class" -> classOf[PlainKms].getName
    spark.range(0, 10, 1, 1).selectExpr("id", "CAST(id AS STRING) AS s")
      .write.mode("overwrite")
      .option(factory._1, factory._2).option(kms._1, kms._2)
      .option("parquet.encryption.uniform.key", "k0")
      .parquet(dir)
    val Seq(file) = SnapshotTable.freshFiles(spark, dir)
    // Without the session's settings the encrypted footer is unreadable.
    assert(intercept[Exception](SnapshotTable.fileMeta(spark, Seq(file)))
      .toString.toLowerCase.contains("encrypted"))
    val keys = Seq(factory, kms)
    keys.foreach { case (k, v) => conf.set(k, v) }
    try {
      assert(SnapshotTable.fileMeta(spark, Seq(file)).map(_._2) === Seq(10L))
      assert(SnapshotTable.mergedFooterSchema(spark, Seq(file)) ===
        spark.read.parquet(file).schema)
    } finally keys.foreach { case (k, _) => conf.unset(k) }
  }
}

/** A key "management service" that wraps keys as plain Base64, for
  * round-tripping an encrypted parquet file in a test only.
  */
class PlainKms extends org.apache.parquet.crypto.keytools.KmsClient {
  override def initialize(c: org.apache.hadoop.conf.Configuration,
      id: String, url: String, token: String): Unit = ()
  override def wrapKey(key: Array[Byte], master: String): String =
    java.util.Base64.getEncoder.encodeToString(key)
  override def unwrapKey(wrapped: String, master: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(wrapped)
}
