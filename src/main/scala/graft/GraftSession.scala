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
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Entries in Spark's JVM-wide cache of generated classes
    * (`spark.sql.codegen.cache.maxEntries`, default 100). It is a static
    * conf: the first session in a JVM fixes it, so it is set in [[builder]],
    * which every entry point and the test JVM use.
    *
    * The pipeline poller replans the same cycle and dashboard shapes every
    * five minutes, and a registry row replans its own shapes on every run,
    * so a cache that holds them compiles nothing in steady state. At 100 it
    * evicted and recompiled 25-68 classes per cpubench pipeline-poll block
    * and about 100 per registry-dedup round. Entries counted with the cache
    * unbounded (one per class and class loader: a stage compiles once on
    * the driver and once in the executors' loader):
    *  - a whole cpubench pipeline-poll run (20 h of state, set-up, warm-up
    *    and timed block): 105;
    *  - one row of the registry, cold, at sf0.01 and 4 cores: 29 on
    *    average, 170 at most (x304);
    *  - the full registry (474 rows): 5,116, so a full pass still evicts
    *    across rows; a row's repeated runs hit.
    * 2000 holds a poll run 19 times over and the largest row 11 times; the
    * headroom covers the cache's 4 segments, which evict independently. An
    * entry keeps its class's source and bytecode live: about 30 KB of heap
    * and 8 KB of metaspace.
    *
    * The codegen stage id is left out of generated class names, so one
    * stage's code is one entry whatever number AQE gives the stage in a
    * plan (the full registry: 6,121 entries with the id, 5,116 without).
    */
  val CodegenCacheEntries = 2000

  def local(appName: String, cores: Int): SparkSession = {
    val spark = builder(appName, cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The environment Bench, Verify, Profile and PipelineMain read:
    * `SPARK_GRAFT_CPUS` (local cores, default 4) and `SPARK_GRAFT_SF_DIR`
    * (the timed scale factor, default sf0.1).
    */
  def env(): (Int, String) =
    (sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
}
