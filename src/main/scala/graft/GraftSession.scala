package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft entry point shares — the
  * only place in the engine that builds a session.
  *
  * Local test runs use `local[N]`; on a real cluster the same builder works
  * with the master injected by spark-submit. Shuffle partitions default to the
  * local core count — AQE coalesces further at runtime, and on a
  * 1000-executor cluster the `spark.sql.shuffle.partitions` setting would be
  * raised by deploy config, not code.
  */
object GraftSession {

  /** The shared confs, for callers that add their own before `getOrCreate`
    * (Bench's status-store retention).
    */
  def builder(appName: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Fixture timestamps are TIMESTAMP(MICROS, isAdjustedToUTC=false);
      // read them as plain TimestampType (session tz is pinned UTC below, so
      // the instant is unambiguous) rather than TIMESTAMP_NTZ — keeps every
      // downstream timestamp expression and oracle comparison on the native
      // UTC-instant type.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  def local(appName: String, cores: Int): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The environment Bench, Verify and Profile read:
    * `SPARK_GRAFT_CPUS` (local cores, default 4) and `SPARK_GRAFT_SF_DIR`
    * (the timed scale factor, default sf0.1).
    */
  def env(): (Int, String) =
    (sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
}
