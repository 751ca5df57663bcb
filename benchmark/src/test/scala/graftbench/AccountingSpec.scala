package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own accounting: listener attribution, layer spans,
  * ingest file counts and the order statistics the metrics use.
  */
class AccountingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory("graftbench-spec").toString
  private lazy val spark: SparkSession = Session.create(2, s"$work/spark-local")

  override def afterAll(): Unit = spark.stop()

  test("a known two-job frame reports 2 jobs, split between build and exec") {
    val tracer = new Tracer(spark)
    tracer.install(Seq(spark))
    val rec = new Recorder(spark, Some(tracer))
    val op = rec.op("two_jobs", slot = 0, pass = 0, timed = true) { ctx =>
      QueryMix.execute(ctx) {
        // One eager job inside the query function, and one job to
        // execute the returned frame.
        val n = spark.range(10).collect().length
        spark.range(100L * n).selectExpr("id * 2 AS x")
      }
    }(fp => fp.rows == 1000L)
    assert(op.ok && op.traced)
    val c = op.counters.get
    assert(c.jobs == 2)
    assert(c.buildJobs == 1)
    assert(c.jobIntervals.size == 2)
    val spans = op.spans.filter(_.parent == op.spans.head.id).map(s => s.name -> s).toMap
    assert(spans.keySet == Set("queries.build", "queries.exec"))
    // The layer spans tile the operation: together they are its latency
    // up to the span bookkeeping between them.
    val layers = spans.values.map(_.ms).sum
    assert(layers <= op.latencyMs + 1e-6)
    assert(op.latencyMs - layers < 5.0)
    // Untraced positions record no counters.
    val untraced = rec.op("two_jobs", slot = 1, pass = 0, timed = true)(_ =>
      spark.range(5).collect().length)(_ == 5)
    assert(untraced.ok && !untraced.traced && untraced.counters.isEmpty)
  }

  test("the analysis of a frame built inside queries.build counts in plans.analysis_ms") {
    val tracer = new Tracer(spark)
    tracer.install(Seq(spark))
    val rec = new Recorder(spark, Some(tracer))
    var built: org.apache.spark.sql.DataFrame = null
    val op = rec.op("analysed", slot = 0, pass = 0, timed = true) { ctx =>
      QueryMix.execute(ctx) {
        // A wide projection, so that its eager analysis takes whole
        // milliseconds.
        built = spark.range(10).selectExpr((1 to 300).map(i => s"id * $i + $i AS c$i"): _*)
        built
      }
    }(fp => fp.rows == 10L)
    assert(op.ok && op.traced)
    val own = built.queryExecution.tracker.phases("analysis").durationMs
    assert(own >= 2, s"analysis took $own ms")
    // The execution's own QueryExecution, the one the listener reports,
    // re-analyses nothing; without the frame's phases the sum would be
    // near 0.
    val c = op.counters.get
    assert(c.analysisMs >= own)
    // Adding the same plan twice counts it once.
    val before = c.analysisMs
    c.addPhases(built.queryExecution)
    assert(c.analysisMs == before)
  }

  test("written bytes count shuffle files, not driver-side work") {
    val rec = new Recorder(spark, None)
    val shuffled = rec.op("shuffle", slot = 0, pass = 0, timed = true)(_ =>
      spark.range(0, 100000, 1, 4).groupBy(col("id") % 1000).count().collect().length)(_ == 1000)
    assert(shuffled.ok && shuffled.writtenB > 0)
    val local = rec.op("local", slot = 1, pass = 0, timed = true)(_ =>
      spark.range(0, 1000, 1, 2).collect().length)(_ == 1000)
    assert(local.ok && local.writtenB == 0)
  }

  test("self time subtracts the union of child intervals, clipped to the span") {
    val s = Span(1, "queries.exec", 0, 0L, 100000000L) // 0-100 ms
    assert(Metrics.selfMs(s, Nil) == 100.0)
    assert(Metrics.selfMs(s, Seq((10.0, 30.0), (20.0, 40.0), (90.0, 150.0))) == 60.0)
    assert(Metrics.selfMs(s, Seq((-5.0, 105.0))) == 0.0)
  }

  test("tail is the highest percentile leaving 10 samples above it") {
    val xs = (1 to 40).map(_.toDouble)
    val (v, p, n) = Stats.tail(xs)
    assert(v == 30.0 && p == 75.0 && n == 40)
    assert(xs.count(_ > v) == 10)
    assert(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.5) == 2.5)
    assert(math.abs(Stats.gmean(Seq(1.0, 100.0)) - 10.0) < 1e-9)
    // Harrell-Davis: symmetric samples estimate their centre; one outlier
    // moves the estimate far less than it moves the mean.
    assert(math.abs(Stats.harrellDavis(xs, 0.5) - 20.5) < 1e-9)
    val hd = Stats.harrellDavis(xs.init :+ 4000.0, 0.5)
    assert(hd > 20.5 && hd < 21.0)
  }

  test("fingerprints ignore row order and last-bit float noise, not values") {
    import spark.implicits._
    val a = Seq((1L, 0.1 + 0.2), (2L, 3.0)).toDF("k", "v")
    val b = Seq((2L, 3.0), (1L, 0.3)).toDF("k", "v")
    val c = Seq((2L, 3.0), (1L, 0.31)).toDF("k", "v")
    assert(Fingerprint.of(a) == Fingerprint.of(b.repartition(2)))
    assert(Fingerprint.of(a) != Fingerprint.of(c))
  }

  test("one ingest round and one maintenance cycle leave the expected files") {
    val sf = sys.env.getOrElse("GRAFT_BENCH_TEST_SF_DIR",
      Paths.get(System.getProperty("user.home"), "testdata", "sf0.001").toString)
    assume(Files.exists(Paths.get(sf, "orders.parquet")), s"no sf tables at $sf")
    val ingest = new Ingest(spark, sf, s"$work/ingest", seed = 7L)
    val rec = new Recorder(spark, None)
    ingest.createTable()
    import graft.sources.SnapshotTable
    val t = ingest.root
    assert(SnapshotTable.listFiles(spark, t, 1L).size == Ingest.Files)

    ingest.round(rec, 0, 0, timed = true)
    assert(rec.ops.map(_.kind) == Seq("append", "upsert", "read_connector", "read_mor", "stream"))
    assert(rec.ops.forall(_.ok))
    // Local batches of 5,000 rows land as 4 files (leaf parallelism 4);
    // the upsert adds its 4 data files and one key file.
    assert(ingest.latest == 3L)
    assert(SnapshotTable.listFiles(spark, t, 2L).size == Ingest.Files + 4)
    assert(SnapshotTable.listFiles(spark, t, 3L).size == Ingest.Files + 8)
    assert(SnapshotTable.listDeleteFiles(spark, t, 3L).size == 1)
    // The connector read planned a zone-map-pruned subset of the 8 files
    // of generation 1.
    val frac = ingest.extraMetrics(rec)("sources.files_admitted_frac")
    assert(frac >= 1.0 / Ingest.Files && frac < 1.0)

    ingest.maintenance(rec, 5, 0, timed = true)
    assert(rec.ops.drop(5).map(_.kind) == Seq("compact", "expire", "vacuum"))
    assert(rec.ops.forall(_.ok))
    assert(SnapshotTable.generations(spark, t) == Seq(4L))
    assert(SnapshotTable.listFiles(spark, t, 4L).size == Ingest.Files)
    assert(SnapshotTable.listDeleteFiles(spark, t, 4L).isEmpty)
    // Every timed operation's new files under the table count: data,
    // key files, manifests, checksums and the compaction rewrite.
    val m = ingest.extraMetrics(rec)
    assert(m("write_amp") > 0.0 && !m("write_amp").isInfinite)
  }
}
