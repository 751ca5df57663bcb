package graft.sources

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Merge-on-read reads: `readMor` checked against a driver-side model
  * over random lineages, its one-pass plan shape, and manifest-listed
  * scans that start no listing job.
  */
class MorReadSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
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

  /** A table row: nullable key, a value unique per written row, and a
    * column that later batches add.
    */
  private type R = (Option[Long], Long, Option[Long])

  test("readMor equals a multiset model over random lineages with upserts, deletes, compaction, NULL keys and an added column") {
    import spark.implicits._
    for (seed <- 1 to 4) {
      val rng = new scala.util.Random(seed)
      val table = graft.Scratch.dir(s"mor_model_spec_$seed")
      // Per generation: data rows with their sequence, tombstone keys
      // with theirs (None = unstamped).
      var model = Map.empty[Long, (Vector[(R, Option[Long])], Vector[(Option[Long], Option[Long])])]
      var gen = 0L
      var nextV = 0L
      var evolved = false
      val hot = 7L
      def frame(rows: Seq[R]): DataFrame =
        if (evolved) rows.toDF("k", "v", "extra")
        else rows.map(r => (r._1, r._2)).toDF("k", "v")
      def batch(keys: Seq[Option[Long]]): Seq[R] = keys.map { k =>
        nextV += 1
        (k, nextV, if (evolved) Some(nextV * 10) else None)
      }
      def visible(g: Long): Vector[R] = {
        val (data, tombs) = model(g)
        data.collect { case (r, s) if !tombs.exists { case (tk, ts) =>
          tk.isDefined && tk == r._1 && ts.forall(_ > s.getOrElse(0L))
        } => r }
      }
      def read(g: Long): (Vector[R], Boolean) = {
        val df = SnapshotTable.readMor(spark, table, g, "k")
        val hasExtra = df.columns.contains("extra")
        (df.collect().toVector.map { r: Row =>
          (Option(r.getAs[java.lang.Long]("k")).map(_.longValue),
            r.getAs[Long]("v"),
            if (hasExtra) Option(r.getAs[java.lang.Long]("extra")).map(_.longValue) else None)
        }, hasExtra)
      }
      def check(g: Long): Vector[R] = {
        val (got, hasExtra) = read(g)
        val (data, tombs) = model(g)
        // A read without tombstones is a plain read (the first file's
        // schema); a tombstoned one reads the footer union.
        if (tombs.nonEmpty && data.exists(_._1._3.isDefined))
          assert(hasExtra, s"seed $seed gen $g: the merged schema must carry the added column")
        val want = visible(g).map(r => if (hasExtra) r else r.copy(_3 = None))
        assert(got.sorted === want.sorted, s"seed $seed gen $g")
        got
      }
      def seqOf(g: Long): Option[Long] = {
        val (data, tombs) = model(g)
        if (data.exists(_._2.isDefined) || tombs.exists(_._2.isDefined)) Some(g + 1) else None
      }

      val base = batch((1L to 6L).map(Some(_)) :+ None)
      SnapshotTable.commit(frame(base).repartition(2), table, 1L)
      gen = 1L
      model += gen -> ((base.map(_ -> None).toVector, Vector.empty))
      check(gen)
      for (step <- 1 to 8) {
        if (step == 3 + rng.nextInt(3)) evolved = true
        val (data, tombs) = model(gen)
        def someKeys(n: Int) = Seq.fill(n)(Some(1L + rng.nextInt(12).toLong))
        rng.nextInt(6) match {
          case 0 =>
            val rows = batch(someKeys(1 + rng.nextInt(3)) ++
              (if (rng.nextBoolean()) Seq(None) else Nil))
            val s = seqOf(gen)
            SnapshotTable.commit(frame(rows), table, gen + 1, carryFrom = Some(gen))
            model += (gen + 1) -> ((data ++ rows.map(_ -> s), tombs))
          case 1 | 2 =>
            // One row per key, the hot key in every upsert, at most one
            // NULL key.
            val keys = ((Some(hot) +: someKeys(2)) ++
              (if (rng.nextBoolean()) Seq(None) else Nil)).distinct
            val rows = batch(keys)
            SnapshotTable.commitUpsert(frame(rows), table, gen + 1, "k", carryFrom = gen)
            val s = Some(gen + 1)
            model += (gen + 1) -> ((data ++ rows.map(_ -> s), tombs ++ keys.map(_ -> s)))
          case 3 | 4 =>
            val keys = someKeys(1 + rng.nextInt(2)) ++
              (if (rng.nextBoolean()) Seq(None, Some(hot)) else Nil)
            SnapshotTable.commitDeletes(keys.toDF("k"), table, gen + 1, carryFrom = gen)
            model += (gen + 1) -> ((data, tombs ++ keys.map(_ -> None)))
          case _ =>
            // Materialization: what readMor serves becomes an unstamped
            // base without tombstones.
            val served = check(gen)
            SnapshotTable.commit(SnapshotTable.readMor(spark, table, gen, "k")
              .repartition(2), table, gen + 1)
            model += (gen + 1) -> ((served.map(_ -> None), Vector.empty))
        }
        gen += 1
        check(gen)
      }
      // Time travel: every generation still reads as it did.
      (1L to gen).foreach(check)
    }
  }

  test("1, 2 and 4 sequence classes plan the same jobs and exchanges, and 4 compile nothing after 2") {
    import spark.implicits._
    val table = graft.Scratch.dir("mor_shape_spec")
    SnapshotTable.commit(spark.range(0, 400, 1, 4).selectExpr("id AS k", "id AS v"), table, 1L)
    // gen 2: one class (unstamped deletes over the unstamped base).
    SnapshotTable.commitDeletes(Seq(5L, 6L).toDF("k"), table, 2L, carryFrom = 1L)
    // gens 3-5: each upsert adds a class.
    for (g <- 3L to 5L)
      SnapshotTable.commitUpsert(spark.range(g, 400, 3, 2).selectExpr("id AS k", s"id * $g AS v"),
        table, g, "k", carryFrom = g - 1)
    /** The read's result, its jobs, its exchanges and its compiles. */
    def run(g: Long): (Row, Int, Int, Long) = {
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val df = SnapshotTable.readMor(spark, table, g, "k").agg(count(lit(1)), sum("k"), sum("v"))
      val (row, jobs) = jobsDuring(df.collect().head)
      (row, jobs, collect(df.queryExecution.executedPlan) { case e: Exchange => e }.size,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles)
    }
    def model(g: Long): (Long, Long, Long) = {
      val rows = (0L until 400L).filterNot(k => k == 5L || k == 6L).map { k =>
        val last = (3L to g).filter(u => k >= u && (k - u) % 3 == 0).lastOption
        k -> last.fold(k)(u => k * u)
      }
      (rows.size.toLong, rows.map(_._1).sum, rows.map(_._2).sum)
    }
    // In class order, so the 4-class generation is read for the first
    // time right after the 2-class one.
    val reads = Seq(2L -> 1, 3L -> 2, 5L -> 4).map { case (g, classes) =>
      val (row, jobs, exchanges, compiles) = run(g)
      assert((row.getLong(0), row.getLong(1), row.getLong(2)) === model(g), s"gen $g")
      classes -> ((jobs, exchanges, compiles))
    }.toMap
    val shape = reads.map { case (c, (j, e, _)) => c -> ((j, e)) }
    assert(shape(2) === shape(1), shape)
    assert(shape(4) === shape(1), shape)
    assert(reads(4)._3 === 0L, "reading 4 classes after 2 must reuse the generated code")
  }

  test("readMor and readAs of a 40-file generation start no listing job") {
    import spark.implicits._
    val table = graft.Scratch.dir("mor_listing_spec")
    SnapshotTable.commit(spark.range(0, 400, 1, 40).selectExpr("id AS k"), table, 1L)
    SnapshotTable.commitUpsert(Seq(1L, 2L).toDF("k"), table, 2L, "k", carryFrom = 1L)
    assert(SnapshotTable.listFiles(spark, table, 1L).size === 40)
    val (plain, plainJobs) = jobsDuring(SnapshotTable.readAs(spark, table, 1L))
    assert(plainJobs === 0, s"readAs started $plainJobs jobs")
    val (mor, morJobs) = jobsDuring(SnapshotTable.readMor(spark, table, 2L, "k"))
    assert(morJobs === 0, s"readMor started $morJobs jobs")
    assert(plain.count() === 400L)
    assert(mor.as[Long].collect().sorted.toSeq === (0L until 400L))
  }

  test("a cached generation read serves later reads of the same generation") {
    import spark.implicits._
    val table = graft.Scratch.dir("mor_cache_spec")
    SnapshotTable.commit(spark.range(0, 100, 1, 2).selectExpr("id AS k"), table, 1L)
    SnapshotTable.commitUpsert(Seq(1L).toDF("k"), table, 2L, "k", carryFrom = 1L)
    def cached(df: DataFrame): Boolean = df.queryExecution.withCachedData.collectFirst {
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => ()
    }.isDefined
    for ((read, rows) <- Seq(((g: Long) => SnapshotTable.readAs(spark, table, g)) -> 101L,
        ((g: Long) => SnapshotTable.readMor(spark, table, g, "k")) -> 100L)) {
      val first = read(2L).cache()
      try {
        assert(first.count() === rows)
        assert(cached(read(2L)), "a fresh read of the cached generation must hit the cache")
        assert(!cached(read(1L)), "another generation's files must not")
      } finally first.unpersist(blocking = true)
    }
  }
}
