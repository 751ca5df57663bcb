package graftbench

import org.apache.spark.sql.SparkSession

object Session {
  /** local[N] with N the machine's cores, capped at 4. */
  def cores(): Int = math.min(4, Runtime.getRuntime.availableProcessors())

  /** The session graft.Bench builds, with shuffle and block-manager
    * files under `localDir`.
    */
  def create(cpus: Int, localDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.leafNodeDefaultParallelism", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
