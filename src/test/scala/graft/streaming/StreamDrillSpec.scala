package graft.streaming

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, lit, pmod, sum}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.SnapshotTable

/** Drill sessions: a restarted stream reuses the generated code of its
  * earlier runs.
  */
class StreamDrillSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("restarting an availableNow query on a drill session compiles no code") {
    val s = StreamDrill.session(spark)
    val Seq(table, ckpt) = StreamDrill.freshDirs(spark, "drill_codegen_table", "drill_codegen_ckpt")
    val provider = classOf[SnapshotSourceProvider].getName
    var folded = Map.empty[Long, (Long, Long)]
    def advance(): Unit = {
      val q = s.readStream.format(provider).option("path", table).load()
        .groupBy(pmod(org.apache.spark.sql.functions.col("k"), lit(4L)).as("b"))
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
    for (g <- 1L to 4L) {
      SnapshotTable.commit(spark.range((g - 1) * 100, g * 100).selectExpr("id AS k"), table, g,
        carryFrom = if (g == 1L) None else Some(g - 1))
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      advance()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      // The first run compiles its plan, and the first restart the row
      // joiner that restores aggregation state; later restarts reuse
      // both.
      if (g > 2L) assert(compiles === 0L, s"restart $g compiled $compiles classes")
      assert(folded.values.map(_._1).sum === g * 100)
      assert(folded.values.map(_._2).sum === (0L until g * 100).sum)
    }
  }
}
