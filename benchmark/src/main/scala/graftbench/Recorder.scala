package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** Process-wide I/O and JVM counters, read on the client thread. */
object Probes {
  /** Hadoop FileSystem statistics summed over schemes:
    * (bytes written, bytes read, write ops, read ops).
    */
  @annotation.nowarn("cat=deprecation")
  def fs(): Array[Long] = {
    val out = new Array[Long](4)
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala.foreach { s =>
      out(0) += s.getBytesWritten; out(1) += s.getBytesRead
      out(2) += s.getWriteOps; out(3) += s.getReadOps
    }
    out
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs(): Long =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Heap in use after forced collections, in MB: the least of a few
    * collections spaced so the context cleaner can release what the
    * previous one made unreachable.
    */
  def heapLiveMb(): Double =
    (1 to 4).map { _ =>
      System.gc()
      val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      Thread.sleep(200)
      used / 1e6
    }.min

  def load1(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def liveJvms(): Long =
    ProcessHandle.allProcesses().filter(p =>
      p.info().command().map[Boolean](_.endsWith("java")).orElse(false)).count()
}

/** Bytes Spark tasks write to local disk outside Hadoop's FileSystem:
  * shuffle files and spills, from task metrics.
  */
final class TaskWrites extends SparkListener {
  private val bytes = new java.util.concurrent.atomic.AtomicLong()
  def total: Long = bytes.get
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.diskBytesSpilled)
  }
}

/** One operation as measured. `slot` is the operation's fixed position
  * in its pass or cycle; `pass` counts passes (cycles) from 0.
  */
final case class OpRecord(kind: String, slot: Int, pass: Int, timed: Boolean,
    startNs: Long, latencyMs: Double, ok: Boolean, traced: Boolean, writtenB: Long,
    spans: Seq[Span], counters: Option[LayerCounters], fs: Array[Long],
    gcMs: Long, jitMs: Long)

/** Per-operation handle for recording layer spans. */
final class OpContext(spark: SparkSession, val counters: Option[LayerCounters], rootId: Long,
    newId: () => Long) {
  val spans = ArrayBuffer[Span]()
  def traced: Boolean = counters.isDefined

  /** Adds the planning phases of `qe`, a plan built inside this
    * operation that no QueryExecutionListener event reports.
    */
  def planned(qe: QueryExecution): Unit = counters.foreach(c => c.synchronized(c.addPhases(qe)))

  /** Times `f` as a call into layer `name`. In a traced operation the
    * interval is kept as a child span of the operation, and jobs it
    * submits carry the layer name.
    */
  def span[T](name: String)(f: => T): T = {
    if (traced) spark.sparkContext.setLocalProperty(Tracer.PhaseKey, name)
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      spans += Span(newId(), name, rootId, t0, t1)
      if (traced) spark.sparkContext.setLocalProperty(Tracer.PhaseKey, null)
    }
  }
}

/** Runs operations one at a time (one closed-loop client) and keeps
  * every measurement in memory.
  *
  * Before each operation, outside its timed window: cached relations and
  * persisted RDDs are released and the heap is collected, as
  * `graft.Bench` does, so no operation pays for its predecessor's state
  * or garbage. The listener bus is drained just before and just after
  * the timed window, so every listener event of an operation is
  * counted for that operation and for no other.
  */
final class Recorder(spark: SparkSession, tracer: Option[Tracer]) {
  val ops = ArrayBuffer[OpRecord]()
  private var ids = 0L
  private def newId(): Long = { ids += 1; ids }
  private val taskWrites = new TaskWrites
  spark.sparkContext.addSparkListener(taskWrites)

  private def drainBus(): Unit = org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)

  /** Bytes written to disk so far: through Hadoop's FileSystem (parquet,
    * table metadata, checkpoints) plus shuffle and spill files. Log
    * lines and graft's non-Hadoop scratch files do not count.
    */
  private def writtenBytes(): Long = { drainBus(); Probes.fs()(0) + taskWrites.total }

  def cleanState(): Unit = {
    graft.operators.BandedPairs.releaseCached()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    System.gc()
  }

  def timed: Seq[OpRecord] = ops.filter(_.timed).toSeq

  /** Runs `body` as one operation and `check` on its result after the
    * timed window. An exception or a failed check marks it not ok.
    */
  def op[T](kind: String, slot: Int, pass: Int, timed: Boolean)(
      body: OpContext => T)(check: T => Boolean): OpRecord = {
    val c0 = System.nanoTime()
    cleanState()
    val cleanMs = (System.nanoTime() - c0) / 1e6
    val traced = timed && tracer.isDefined && (pass + slot) % 2 == 0
    val counters = if (traced) Some(new LayerCounters) else None
    val root = newId()
    val ctx = new OpContext(spark, counters, root, () => newId())
    val w0 = writtenBytes()
    tracer.foreach(_.current = counters.orNull)
    val fs0 = if (traced) Probes.fs() else null
    val (gc0, jit0) = if (traced) (Probes.gcMs(), Probes.jitMs()) else (0L, 0L)
    val t0 = System.nanoTime()
    val result =
      try Right(body(ctx))
      catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    val w1 = writtenBytes()
    val fsDelta =
      if (traced) Probes.fs().zip(fs0).map { case (a, b) => a - b } else new Array[Long](4)
    val (gc, jit) = if (traced) (Probes.gcMs() - gc0, Probes.jitMs() - jit0) else (0L, 0L)
    tracer.foreach(_.current = null)
    val ok = result match {
      case Right(v) =>
        try check(v)
        catch { case e: Throwable => System.err.println(s"[graftbench] $kind check failed: $e"); false }
      case Left(e) =>
        System.err.println(s"[graftbench] $kind FAILED: $e")
        false
    }
    if (!ok) System.err.println(s"[graftbench] $kind (pass $pass) is a failed operation")
    System.err.println(f"op $kind%-24s pass=$pass%-3d ${(t1 - t0) / 1e6}%9.1f ms (clean $cleanMs%.0f ms)")
    val rec = OpRecord(kind, slot, pass, timed, t0, (t1 - t0) / 1e6, ok, traced, w1 - w0,
      Span(root, s"op.$kind", -1L, t0, t1) +: ctx.spans.toSeq, counters, fsDelta,
      gc, jit)
    ops += rec
    rec
  }
}
