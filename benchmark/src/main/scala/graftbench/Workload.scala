package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload: untimed set-up (tables, warm-up of every operation),
  * then closed-loop timed work in whole passes.
  *
  * A run's timed work is fixed by `--seconds`: the fewest whole passes
  * whose nominal duration (a pass on a 4-core machine) covers it, and
  * at least the workload's minimum. Whole passes keep every run's mix
  * identical; a fixed count keeps a slow or fast pass from changing how
  * many samples a run holds.
  */
trait Workload {
  def setup(rec: Recorder): Unit
  def run(rec: Recorder, seconds: Double): Unit
  /** Sessions that run streaming queries (listeners attach there). */
  def streamSessions: Seq[SparkSession] = Nil
  /** Workload-specific figures reported in the traced run. */
  def extraMetrics(rec: Recorder): Map[String, Double] = Map.empty
}

object Workload {
  def passes(seconds: Double, nominalPassS: Double, minPasses: Int): Int =
    math.max(minPasses, math.ceil(seconds / nominalPassS - 1e-9).toInt)
}

/** The registered-query workload: a fixed mix of
  * `SparkEntry.queries(name)(spark, dir)`, each pass in a seeded
  * shuffled order. Every execution is fingerprinted and must match the
  * fingerprint of the query's warm-up execution.
  */
final class QueryMix(spark: SparkSession, names: Seq[String], dir: String,
    seed: Long, nominalPassS: Double, minPasses: Int) extends Workload {
  private val rng = new scala.util.Random(seed)
  private val expected = mutable.Map[String, Fingerprint.Fp]()
  private val slotOf = names.zipWithIndex.toMap
  private val registry = graft.SparkEntry.queries
  require(names.forall(registry.contains),
    s"unknown queries: ${names.filterNot(registry.contains).mkString(", ")}")

  private def once(rec: Recorder, name: String, pass: Int, timed: Boolean): Unit =
    rec.op(name, slotOf(name), pass, timed) { ctx =>
      QueryMix.execute(ctx)(registry(name)(spark, dir))
    } { fp =>
      if (!timed) { expected(name) = fp; true }
      else {
        val ok = expected.get(name).contains(fp)
        if (!ok) System.err.println(
          s"[graftbench] $name fingerprint $fp differs from warm-up ${expected.get(name)}")
        ok
      }
    }

  def setup(rec: Recorder): Unit = rng.shuffle(names).foreach(once(rec, _, -1, timed = false))

  def run(rec: Recorder, seconds: Double): Unit =
    for (pass <- 0 until Workload.passes(seconds, nominalPassS, minPasses))
      rng.shuffle(names).foreach(once(rec, _, pass, timed = true))
}

object QueryMix {
  /** One query execution: `build` (the query function, with its eager
    * work) and then the returned frame, run and fingerprinted.
    *
    * Fingerprint.of executes the frame with Dataset.foreachPartition,
    * which runs, and reports to QueryExecutionListeners, a fresh
    * QueryExecution over the frame's analysed plan. The frame's own
    * analysis ran eagerly inside `build` and is recorded only in its
    * QueryExecution's tracker, so it is added here.
    */
  def execute(ctx: OpContext)(build: => DataFrame): Fingerprint.Fp = {
    val df = ctx.span("queries.build")(build)
    val fp = ctx.span("queries.exec")(Fingerprint.of(df))
    ctx.planned(df.queryExecution)
    fp
  }
}

object Mixes {
  /** Sub-second registered queries, one or two per family:
    * kernel/RefOps, the TPC-H-like q-series, joins, sets, aggregates,
    * windows, text, events, sampling, similarity search, graph and
    * audit. No src_*, stream_* or multi-second query. Fourteen, not
    * more: a run (session, warm-up pass, three timed passes) has to
    * stay near 65 s for both workloads' runs to fit one hour.
    */
  val interactive: Seq[String] = Seq(
    "search_count", "kernel_search", "q3_shipping", "q6_forecast",
    "join_semi", "set_intersect", "agg_conditional", "window_rank",
    "text_wordcount", "events_funnel", "sample_stratified",
    "simsearch_knn_batch", "graph_pagerank", "audit_benford")
}
