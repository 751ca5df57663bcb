package graftbench

import java.lang.management.ManagementFactory

/** `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --sf DIR --work-dir DIR --trace-file FILE`
  *
  * Runs one workload in this JVM and prints its result as the last
  * stdout line, prefixed `GRAFTBENCH_RESULT `: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer metrics.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      sf: String, workDir: String, traceFile: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("sf"), need("work-dir"),
      m.getOrElse("trace-file", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    System.err.println(f"[graftbench] start load1=${Probes.load1()}%.2f live_jvms=${Probes.liveJvms()}")
    val spark = Session.create(Session.cores(), s"${o.workDir}/spark-local")
    // A traced run alternates traced and untraced executions of each
    // operation across passes, so it needs two passes to pair them.
    val tracePasses = if (o.trace) 2 else 1
    val workload: Workload = o.workload match {
      case "interactive" =>
        new QueryMix(spark, Mixes.interactive, o.sf, o.seed, nominalPassS = 10,
          minPasses = tracePasses)
      case "ingest" => new Ingest(spark, o.sf, o.workDir, o.seed, minCycles = tracePasses)
      case w => sys.error(s"unknown workload $w")
    }
    val tracer = if (o.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install(workload.streamSessions))
    val rec = new Recorder(spark, tracer)
    workload.setup(rec)
    workload.run(rec, o.seconds)
    val timed = rec.timed
    val setupS = (timed.head.startNs / 1e6 - Main.jvmStartNanoMs()) / 1e3
    rec.cleanState()
    val heapMb = Probes.heapLiveMb()
    val metrics =
      if (o.trace) Metrics.perLayer(rec, workload.extraMetrics(rec))
      else Metrics.endToEnd(rec, setupS, heapMb)
    if (o.trace && o.traceFile.nonEmpty) Metrics.writeTrace(rec, o.traceFile)
    rec.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, ops) =>
      val (t, w) = ops.partition(_.timed)
      System.err.println(f"[graftbench]   $k%-24s warm-up ${w.map(_.latencyMs.round).mkString(",")}%8s ms" +
        s"  timed ${t.map(_.latencyMs.round).mkString(",")} ms")
    }
    val failed = timed.count(!_.ok)
    val warmFailed = rec.ops.count(o => !o.timed && !o.ok)
    val (tailV, tailP, tailN) = Stats.tail(timed.map(_.latencyMs))
    System.err.println(f"[graftbench] ${o.workload}: ${timed.size} timed ops, " +
      f"op_tail_ms=$tailV%.1f at p$tailP%.1f of $tailN samples, setup_s=$setupS%.2f, " +
      f"failed=$failed warm-up failed=$warmFailed")
    System.err.println(f"[graftbench] end load1=${Probes.load1()}%.2f live_jvms=${Probes.liveJvms()}")
    val json = Metrics.resultJson(correct = failed == 0 && warmFailed == 0,
      attempted = timed.size, failed = failed, metrics)
    println("GRAFTBENCH_RESULT " + json)
    spark.stop()
  }

  /** JVM start on the System.nanoTime clock, in ms. */
  def jvmStartNanoMs(): Double = {
    val rt = ManagementFactory.getRuntimeMXBean
    System.nanoTime() / 1e6 - (System.currentTimeMillis() - rt.getStartTime)
  }
}
