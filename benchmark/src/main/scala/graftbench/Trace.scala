package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (-1 for an operation's root span).
  */
final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Layer counters of one traced operation, filled by the listeners
  * while the operation runs.
  */
final class LayerCounters {
  var jobs, buildJobs, stages, tasks, tasksFailed = 0L
  var schedDelayMs, taskRunMs, taskCpuMs, taskGcMs = 0.0
  var shuffleWriteB, shuffleReadB, spillB, inputRows = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var exchanges = 0L
  var batches = 0L
  var batchMs, addBatchMs, walCommitMs = 0.0
  var stateRows, stateMemB = 0L
  /** Job intervals as (start ms, end ms) on the wall clock. */
  val jobIntervals = ArrayBuffer[(Long, Long)]()
  private val phased =
    java.util.Collections.newSetFromMap(new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())

  /** Adds the analysis, optimization and planning time `qe`'s tracker
    * has recorded, once per plan: a plan executed again has no new
    * phases to add.
    */
  def addPhases(qe: QueryExecution): Unit =
    if (phased.add(qe)) {
      val phases = qe.tracker.phases
      def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      analysisMs += phase("analysis")
      optimizationMs += phase("optimization")
      planningMs += phase("planning")
    }
}

/** Spark, SQL and streaming listeners that attribute every event to the
  * operation current when the event is processed. The recorder drains
  * the listener bus after each operation, so every event of operation k is
  * processed before operation k+1 becomes current; untraced operations
  * leave `current` empty and their events are dropped.
  */
final class Tracer(spark: SparkSession) {
  @volatile var current: LayerCounters = null

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private def withCurrent(f: LayerCounters => Unit): Unit = {
    val c = current
    if (c != null) c.synchronized(f(c))
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withCurrent { c =>
      c.jobs += 1
      val phase = Option(e.properties).map(_.getProperty(Tracer.PhaseKey)).orNull
      if (phase == "queries.build") c.buildJobs += 1
      jobStarts.put(e.jobId, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withCurrent { c =>
      Option(jobStarts.remove(e.jobId)).foreach(s => c.jobIntervals += ((s, e.time)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      withCurrent(_.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withCurrent { c =>
      c.tasks += 1
      if (e.reason != org.apache.spark.Success) c.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        c.taskRunMs += m.executorRunTime
        c.taskCpuMs += m.executorCpuTime / 1e6
        c.taskGcMs += m.jvmGCTime
        c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.spillB += m.diskBytesSpilled
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      withCurrent { c =>
        c.addPhases(qe)
        c.exchanges += Tracer.exchanges(qe)
      }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      withCurrent { c =>
        val p = e.progress
        def d(n: String): Double = Option(p.durationMs.get(n)).map(_.doubleValue).getOrElse(0.0)
        c.batches += 1
        c.batchMs += d("triggerExecution")
        c.addBatchMs += d("addBatch")
        c.walCommitMs += d("walCommit")
        // Gauges: the state size after this operation's last batch.
        c.stateRows = p.stateOperators.map(_.numRowsTotal).sum
        c.stateMemB = p.stateOperators.map(_.memoryUsedBytes).sum
      }
  }

  /** Registers the listeners on `spark` and on every session that runs
    * streams (a derived session has its own stream manager).
    */
  def install(streamSessions: Seq[SparkSession]): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    streamSessions.foreach { s =>
      if (s ne spark) s.listenerManager.register(queryListener)
      s.streams.addListener(streamListener)
    }
  }
}

object Tracer {
  /** Local property naming the layer call a job was submitted from. */
  val PhaseKey = "graftbench.phase"

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Exchanges (shuffle and broadcast) in the executed plan, adaptive
    * query stages and subqueries included; reused exchanges count once.
    */
  def exchanges(qe: QueryExecution): Long =
    PlanWalk.collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size.toLong
}
