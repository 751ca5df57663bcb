package graftbench

import java.nio.file.{Files, Paths}

/** Metric definitions: names, units and how each is computed. */
object Metrics {
  type Metric = (Double, String)

  def endToEnd(rec: Recorder, setupS: Double, heapMb: Double): Seq[(String, Metric)] = {
    val t = rec.timed
    val lat = t.map(_.latencyMs)
    val perKind = t.groupBy(_.kind).values.map(ops => Stats.median(ops.map(_.latencyMs))).toSeq
    Seq(
      "setup_s" -> (setupS, "s"),
      "ops_per_s" -> (t.size / (lat.sum / 1e3), "ops/s"),
      "op_p50_ms" -> (Stats.harrellDavis(lat, 0.5), "ms"),
      "query_gmean_ms" -> (Stats.gmean(perKind), "ms"),
      "disk_written_mb" -> (t.map(_.writtenB).sum / 1e6 / t.size, "MB/op"),
      "heap_live_mb" -> (heapMb, "MB"))
  }

  /** Layer self time: a span's duration minus the part of it that the
    * given child intervals cover.
    */
  def selfMs(span: Span, childrenMs: Seq[(Double, Double)]): Double = {
    val s = span.startNs / 1e6
    val e = span.endNs / 1e6
    val clipped = childrenMs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var end = Double.NegativeInfinity
    clipped.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    span.ms - covered
  }

  def perLayer(rec: Recorder, extra: Map[String, Double]): Seq[(String, Metric)] = {
    val all = rec.timed
    val traced = all.filter(_.traced)
    val n = math.max(1, traced.size).toDouble
    val cs = traced.flatMap(_.counters)
    def sumC(f: LayerCounters => Double): Double = cs.map(f).sum
    def perOp(f: LayerCounters => Double): Double = sumC(f) / n
    def spanMs(name: String): Seq[Double] = traced.flatMap(_.spans.filter(_.name == name).map(_.ms))
    def meanOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def perOpSpan(name: String): Double = spanMs(name).sum / n
    // Job intervals arrive on the wall clock; spans on System.nanoTime.
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val layerSpans = traced.flatMap(o => o.spans.filter(_.parent >= 0).map(s => (o, s)))
    val selfLayer = layerSpans.map { case (o, s) =>
      selfMs(s, o.counters.toSeq.flatMap(_.jobIntervals.map { case (a, b) => (a - offsetMs, b - offsetMs) }))
    }.sum / n
    val jobMs = layerSpans.map { case (_, s) => s.ms }.sum / n - selfLayer
    // Overhead: per kind, traced median over untraced median.
    val ratios = all.groupBy(_.kind).values.flatMap { ops =>
      val (tr, un) = ops.partition(_.traced)
      if (tr.isEmpty || un.isEmpty) None
      else Some(Stats.median(tr.map(_.latencyMs)) / Stats.median(un.map(_.latencyMs)))
    }.toSeq
    val overhead = if (ratios.isEmpty) 0.0 else Stats.gmean(ratios) - 1
    val spanTotal = layerSpans.map(_._2.ms).sum
    val latTotal = traced.map(_.latencyMs).sum
    Seq(
      "queries.build_ms" -> (perOpSpan("queries.build"), "ms"),
      "queries.build_jobs" -> (perOp(_.buildJobs.toDouble), "count"),
      "queries.exec_ms" -> (perOpSpan("queries.exec"), "ms"),
      "queries.self_ms" -> (selfLayer, "ms"),
      "plans.analysis_ms" -> (perOp(_.analysisMs), "ms"),
      "plans.optimization_ms" -> (perOp(_.optimizationMs), "ms"),
      "plans.planning_ms" -> (perOp(_.planningMs), "ms"),
      "plans.exchanges" -> (perOp(_.exchanges.toDouble), "count"),
      "spark.jobs" -> (perOp(_.jobs.toDouble), "count"),
      "spark.job_ms" -> (jobMs, "ms"),
      "spark.stages" -> (perOp(_.stages.toDouble), "count"),
      "spark.tasks" -> (perOp(_.tasks.toDouble), "count"),
      "spark.tasks_failed" -> (perOp(_.tasksFailed.toDouble), "count"),
      "spark.sched_delay_ms" -> (perOp(_.schedDelayMs), "ms"),
      "spark.task_run_ms" -> (perOp(_.taskRunMs), "ms"),
      "spark.task_cpu_ms" -> (perOp(_.taskCpuMs), "ms"),
      "spark.task_gc_ms" -> (perOp(_.taskGcMs), "ms"),
      "spark.shuffle_write_mb" -> (perOp(_.shuffleWriteB / 1e6), "MB"),
      "spark.shuffle_read_mb" -> (perOp(_.shuffleReadB / 1e6), "MB"),
      "spark.spill_mb" -> (perOp(_.spillB / 1e6), "MB"),
      "spark.input_rows" -> (perOp(_.inputRows.toDouble), "count"),
      "sources.append_ms" -> (meanOr0(spanMs("sources.append")), "ms"),
      "sources.upsert_ms" -> (meanOr0(spanMs("sources.upsert")), "ms"),
      "sources.read_ms" -> (meanOr0(spanMs("sources.read")), "ms"),
      "sources.compact_ms" -> (meanOr0(spanMs("sources.compact")), "ms"),
      "sources.expire_ms" -> (meanOr0(spanMs("sources.expire")), "ms"),
      "sources.vacuum_ms" -> (meanOr0(spanMs("sources.vacuum")), "ms"),
      "sources.files_admitted_frac" -> (extra.getOrElse("sources.files_admitted_frac", 0.0), "ratio"),
      "streaming.batch_ms" -> (meanOr0(cs.filter(_.batches > 0).map(c => c.batchMs / c.batches)), "ms"),
      "streaming.addbatch_ms" -> (meanOr0(cs.filter(_.batches > 0).map(c => c.addBatchMs / c.batches)), "ms"),
      "streaming.walcommit_ms" -> (meanOr0(cs.filter(_.batches > 0).map(c => c.walCommitMs / c.batches)), "ms"),
      "streaming.state_rows" -> (meanOr0(cs.filter(_.batches > 0).map(_.stateRows.toDouble)), "count"),
      "streaming.state_mem_mb" -> (meanOr0(cs.filter(_.batches > 0).map(_.stateMemB / 1e6)), "MB"),
      "write_p50_ms" -> (extra.getOrElse("write_p50_ms", 0.0), "ms"),
      "read_p50_ms" -> (extra.getOrElse("read_p50_ms", 0.0), "ms"),
      "stream_batch_ms" -> (extra.getOrElse("stream_batch_ms", 0.0), "ms"),
      "write_amp" -> (extra.getOrElse("write_amp", 0.0), "ratio"),
      "io.bytes_written_mb" -> (traced.map(_.fs(0)).sum / 1e6 / n, "MB"),
      "io.bytes_read_mb" -> (traced.map(_.fs(1)).sum / 1e6 / n, "MB"),
      "io.write_ops" -> (traced.map(_.fs(2)).sum / n, "count"),
      "io.read_ops" -> (traced.map(_.fs(3)).sum / n, "count"),
      "jvm.gc_ms" -> (traced.map(_.gcMs).sum / n, "ms"),
      "jvm.jit_ms" -> (traced.map(_.jitMs).sum / n, "ms"),
      "trace.overhead_frac" -> (overhead, "ratio"),
      "trace.reconcile_frac" -> (if (latTotal > 0) spanTotal / latTotal - 1 else 0.0, "ratio"))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def resultJson(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Metric)]): String = {
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }

  /** Writes every span (operation roots, layer calls, and the Spark jobs
    * of traced operations) as JSON lines.
    */
  def writeTrace(rec: Recorder, path: String): Unit = {
    val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
    val lines = rec.ops.toSeq.flatMap { o =>
      val root = o.spans.head
      val spans = o.spans.map(s =>
        f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "start_ms": ${s.startNs / 1e6}%.3f, "end_ms": ${s.endNs / 1e6}%.3f, "timed": ${o.timed}, "traced": ${o.traced}, "pass": ${o.pass}, "ok": ${o.ok}}""")
      val jobs = o.counters.toSeq.flatMap(_.jobIntervals).map { case (a, b) =>
        f"""{"id": -1, "name": "spark.job", "parent": ${root.id}, "start_ms": ${a - offsetMs}%.3f, "end_ms": ${b - offsetMs}%.3f, "timed": ${o.timed}, "traced": true, "pass": ${o.pass}, "ok": ${o.ok}}"""
      }
      spans ++ jobs
    }
    Option(Paths.get(path).getParent).foreach(Files.createDirectories(_))
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
