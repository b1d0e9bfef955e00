package graft.streaming

import graft.StoredManifest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming form of the x249 NUMERIC drift monitor — the value-
  * distribution alarm wired to ARRIVING data: a file stream watches the
  * arrivals directory and each landed micro-batch re-publishes the
  * Mann–Whitney verdict of (all data seen so far) against a FIXED
  * reference directory, manifest-committed so a reader never sees a
  * half-written refresh. The categorical sibling is
  * [[DriftMonitorStream]] (x103's type-mix drift); this one catches the
  * shift x103 is blind to — the type mix can stay perfectly stable while
  * every arriving value quietly doubles.
  *
  * The micro-batch rows are the REFRESH SIGNAL, not the aggregation
  * input — the foreachBatch body recomputes
  * [[graft.queries.Events.valueRankDrift]] over the watched directory
  * exactly as the batch op would (RankDriftStreamSpec pins row-identity
  * with the batch path, the x52≡x66 two-paths-one-result discipline).
  * Recomputing is the right trade for the same reason as the dashboard/
  * drift streams: the published result is ONE row off a domain-grid
  * aggregate, the recompute input prunes to a single column, and a true
  * incremental form would stack two streaming aggregations (grid counts
  * AND their cumulative window) that the append model does not compose.
  * The reference side IS incremental-friendly: its grid never changes,
  * so at scale one would persist the reference grid once (a
  * StoredArtifacts generation) — the operator accepts any DataFrame, so
  * that swap is a call-site change, not a rewrite.
  *
  * Publication protocol (shared with the other maintainers): one
  * `gen_<batchId>` directory with a single `verdict` segment, atomic
  * manifest flip, superseded generations swept at the next refresh;
  * at-least-once re-delivery of a published batchId is a no-op.
  */
object RankDriftStream {

  def monitorDir(stateDir: String): String = s"$stateDir/rank_drift"

  /** Start the monitor: `arrivalsDir` is watched; `referenceDir` is the
    * frozen baseline sample. Both are parquet directories with a `value`
    * column. Production trigger: processing-time at the alerting
    * cadence; specs use `Trigger.AvailableNow`.
    */
  def start(spark: SparkSession, arrivalsDir: String, referenceDir: String,
      stateDir: String, alarmMicro: Long, schema: StructType,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes"),
      pathGlobFilter: String = "*.parquet"): StreamingQuery = {
    Streams.foldBatches("rank-drift-monitor", s"$stateDir/rank_drift_ckpt", trigger,
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", pathGlobFilter)
        .parquet(arrivalsDir)) { (_, batchId) =>
      refresh(spark, arrivalsDir, referenceDir, stateDir, alarmMicro,
        batchId, pathGlobFilter)
    }
  }

  /** One refresh: recompute the FULL drift report over everything in
    * `arrivalsDir` vs the reference — the rank verdict (x249: DID the
    * distribution move), the KS gap (x250: how far, and at which value)
    * and the Q-Q decile table (x252: WHERE) — publish the three segments
    * under one generation, flip the manifest atomically. An operator
    * paged by the verdict reads the other two segments of the SAME
    * generation to triage, never a mixed-generation report.
    */
  def refresh(spark: SparkSession, arrivalsDir: String, referenceDir: String,
      stateDir: String, alarmMicro: Long, gen: Long,
      pathGlobFilter: String = "*.parquet"): Unit = {
    val dir = monitorDir(stateDir)
    val genName = s"gen_$gen"
    if (StoredManifest.isLive(dir, genName))
      return // at-least-once re-delivery of an already-published refresh
    StoredManifest.sweepUnreachable(dir)
    val cur = spark.read.option("pathGlobFilter", pathGlobFilter)
      .parquet(arrivalsDir)
    val ref = spark.read.option("pathGlobFilter", pathGlobFilter)
      .parquet(referenceDir)
    // ONE scan of arrivals+reference per refresh: the shared count grid
    // is built and checkpointed once and all three segments derive from
    // it (the DriftMonitorStream "one computation feeds both segments"
    // discipline); the superseded checkpoint is dropped after the writes
    // — per-refresh retention in a weeks-long stream is real memory
    val grid = graft.queries.Events.centiCountGrid(cur, ref)
      .localCheckpoint(true)
    val cdf = graft.queries.Events.withCdf(grid)
    graft.queries.Events.rankVerdictFromGrid(grid, alarmMicro)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$genName/verdict")
    graft.queries.Events.ksFromCdf(cdf)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$genName/ks")
    graft.queries.Events.qqFromCdf(cdf)
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/$genName/qq")
    graft.Checkpoints.drop(grid)
    StoredManifest.write(dir, genName, Seq("ks", "qq", "verdict"))
  }

  def published(stateDir: String): Boolean =
    StoredManifest.exists(monitorDir(stateDir))

  /** Read a live report segment ("verdict", "ks" or "qq") through the
    * manifest.
    */
  def read(spark: SparkSession, stateDir: String,
      segment: String = "verdict"): DataFrame =
    StoredManifest.readSegment(spark, monitorDir(stateDir), segment)

  def liveGeneration(stateDir: String): String = StoredManifest.live(monitorDir(stateDir))
}
