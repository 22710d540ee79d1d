package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration every main and the test suite use.
  *
  * - UTC session time zone; TIMESTAMP(NANOS) parquet read as epoch longs
  * - AQE on, UI off, shuffle partitions = cores
  * - both broadcast thresholds at 64 MB: id-pair frames (16 B/row) broadcast
  *   far beyond the 10 MB default, and 64 MB is the right dimension-table
  *   ceiling for executors of this size
  * - FAIR scheduling, so the per-thread pools `SparqlServer` assigns share task
  *   slots; jobs with no pool set go to the default pool, which is FIFO, so a
  *   single-threaded caller is scheduled exactly as under FIFO mode
  */
object LocalSpark {
  /** `SPARK_GRAFT_CPUS` when set, else every core of the host. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def session(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
