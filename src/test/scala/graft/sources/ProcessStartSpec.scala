package graft.sources

import java.nio.file.Files

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, pmod, sum}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.streaming.{SnapshotSourceProvider, StreamDrill}

/** The snapshot layer's writes and a drill session's stream triggers
  * start no OS process: on a local filesystem without libhadoop,
  * Hadoop's own `file:` filesystems fork `chmod` per file or directory
  * made and `readlink` per `FileContext` rename side.
  */
class ProcessStartSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** `body`'s result and the command line of every OS process the JVM
    * started while it ran, as an in-process JFR recording of
    * `jdk.ProcessStart` sees them. Every process counts, not only those
    * under a `graft.` frame: Spark's writer tasks carry none.
    */
  private def processesDuring[A](body: => A): (A, Seq[String]) = {
    val r = new Recording()
    r.enable("jdk.ProcessStart")
    r.start()
    val a = try body finally r.stop()
    val f = Files.createTempFile("graft_process_start", ".jfr")
    try {
      r.dump(f)
      (a, RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")))
    } finally { r.close(); Files.deleteIfExists(f) }
  }

  test("commit and commitUpsert, manifest publish included, start no OS process") {
    import spark.implicits._
    val table = graft.Scratch.dir("process_start_commit")
    SnapshotTable.commit((0L until 40L).map(k => (k, k)).toDF("k", "v").repartition(2),
      table, 1L)
    val (_, commitProcs) = processesDuring(SnapshotTable.commit(
      (40L until 80L).map(k => (k, k)).toDF("k", "v").repartition(2), table, 2L,
      carryFrom = Some(1L)))
    val (_, upsertProcs) = processesDuring(SnapshotTable.commitUpsert(
      Seq(3L, 50L).map(k => (k, -k)).toDF("k", "v"), table, 3L, "k", 2L))
    assert((commitProcs.size, upsertProcs.size) === ((0, 0)),
      s"commit started ${commitProcs.distinct}, commitUpsert ${upsertProcs.distinct}")
    assert(SnapshotTable.readMor(spark, table, 3L, "k").as[(Long, Long)].collect().toSet ===
      (0L until 80L).map(k => if (k == 3L || k == 50L) (k, -k) else (k, k)).toSet)
  }

  test("restarting a stateful availableNow query on a drill session starts no OS process") {
    val s = StreamDrill.session(spark)
    val Seq(table, ckpt) =
      StreamDrill.freshDirs(spark, "process_start_stream_table", "process_start_stream_ckpt")
    val provider = classOf[SnapshotSourceProvider].getName
    var folded = Map.empty[Long, (Long, Long)]
    def advance(): Unit = {
      val q = s.readStream.format(provider).option("path", table).load()
        .groupBy(pmod(col("k"), lit(4L)).as("b"))
        .agg(count(lit(1)).as("n"), sum("k").as("s"))
        .writeStream.outputMode("update").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach(r => folded += r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
        }
        .start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
    }
    for (g <- 1L to 3L) {
      SnapshotTable.commit(spark.range((g - 1) * 100, g * 100).selectExpr("id AS k"), table, g,
        carryFrom = if (g == 1L) None else Some(g - 1))
      // Each run writes its offsets, commits and state files through
      // the session's FileContext; the 2nd restart is the steady state.
      val (_, procs) = processesDuring(advance())
      assert(procs.isEmpty, s"run $g started ${procs.size} processes: ${procs.distinct}")
      assert(folded.values.map(_._1).sum === g * 100)
      assert(folded.values.map(_._2).sum === (0L until g * 100).sum)
    }
  }
}
