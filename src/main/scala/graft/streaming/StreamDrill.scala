package graft.streaming

import org.apache.spark.sql.SparkSession

/** Session scoping for the BOUNDED streaming value-gate drills (the
  * registered `stream_*` queries that run a real micro-batch query to
  * completion and hash its sink).
  */
object StreamDrill {

  /** Fresh scratch dirs (leftovers deleted) — the drills rerun within
    * one JVM (Verify then Bench), so every run needs fresh checkpoint
    * and sink lineage. The ONE implementation the drill families share.
    */
  def freshDirs(spark: SparkSession, names: String*): Seq[String] = {
    val conf = spark.sparkContext.hadoopConfiguration
    names.map { n =>
      val p = graft.Scratch.dir(n)
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).delete(hp, true)
      p
    }
  }

  /** Read a batch-partitioned drill sink back, or the given empty
    * shape if no batch ever produced rows (zero-row partitioned writes
    * leave no readable files).
    */
  def readSinkOrEmpty(spark: SparkSession, sink: String,
      emptyDdl: String): org.apache.spark.sql.DataFrame =
    try spark.read.parquet(sink)
    catch {
      case _: org.apache.spark.sql.AnalysisException =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(emptyDdl))
    }

  /** A conf-isolated session (shared SparkContext, private SQLConf)
    * with no-data micro-batches DISABLED. Every gated drill emits its
    * output eagerly per DATA batch (inner interval join, first-seen
    * dedup, NoTimeout flatMapGroupsWithState, complete-mode
    * aggregation, stateless CDC apply, index probe-and-append), so the
    * trailing no-data batch `processAllAvailable` otherwise appends for
    * watermark housekeeping contributes zero rows while paying a full
    * micro-batch of state-store instantiation (partitions × store
    * instances per stateful operator) — at fixture scale a third or
    * more of the drill's wall time. Production APPEND-mode windowed
    * aggregations DO need no-data batches to finalize windows after
    * input stops; they run on the main session, which keeps the
    * default. The isolation matters because Verify runs registered
    * queries concurrently: a shared-conf toggle would race.
    *
    * Shuffle partitions scope down to 4 for the same reason: every
    * micro-batch instantiates (partitions × state stores per stateful
    * operator) HDFS-backed store instances, so at fixture scale 32
    * partitions is pure per-batch overhead (the stream-stream join
    * alone spins two legs × four stores per partition per trigger).
    * The gated outputs are partition-count invariant by construction
    * (exact decimal sums, set-valued sinks). At production scale the
    * SAME queries want MANY partitions — state volume per partition is
    * the sizing rule — which is a deployment conf, not code: nothing
    * in the drill bodies assumes the count.
    */
  def session(spark: SparkSession, noDataBatches: Boolean = false): SparkSession = {
    val s = spark.newSession()
    // Event-time-TIMEOUT drills (stream_sessions) must keep no-data
    // batches: the final housekeeping batch is what fires timeouts for
    // sessions whose gap closes after the last data arrives — without
    // it the stream ends with those emissions still in state.
    s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    s.conf.set("spark.sql.shuffle.partitions", "4")
    // Every query start clones its session, and each clone gets a fresh
    // artifact-session UUID under isolation. Executors build one class
    // loader per UUID, and Spark's generated-code cache keys on (class
    // loader, code), so each restart of a query recompiled its whole
    // plan. Drill sessions add no artifacts: nothing needs isolating.
    s.conf.set("spark.sql.artifact.isolation.enabled", "false")
    // Offset and commit logs and HDFS-backed state-store files go
    // through Hadoop's FileContext, whose local filesystem forks a
    // `chmod` per file or directory made and a `readlink` per rename
    // side (~120 processes a trigger without libhadoop). The session's
    // Hadoop conf routes them to the in-process one instead.
    val (fcKey, fcImpl) = graft.sources.InProcessLocalFileSystem.fileContextKey
    s.conf.set(fcKey, fcImpl)
    s
  }
}
