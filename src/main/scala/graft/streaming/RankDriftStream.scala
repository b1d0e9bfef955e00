package graft.streaming

import graft.{Checkpoints, StoredManifest}
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
    * and the Q-Q decile table (x252: WHERE) — published as three segments
    * of one generation ([[graft.StoredManifest.publish]]). An operator
    * paged by the verdict reads the other two segments of the SAME
    * generation to triage, never a mixed-generation report.
    */
  def refresh(spark: SparkSession, arrivalsDir: String, referenceDir: String,
      stateDir: String, alarmMicro: Long, gen: Long,
      pathGlobFilter: String = "*.parquet"): Unit =
    Checkpoints.scoped { release =>
      StoredManifest.publish(monitorDir(stateDir), gen) {
        val cur = spark.read.option("pathGlobFilter", pathGlobFilter)
          .parquet(arrivalsDir)
        val ref = spark.read.option("pathGlobFilter", pathGlobFilter)
          .parquet(referenceDir)
        // ONE scan of arrivals+reference per refresh: the shared count
        // grid is built and checkpointed once and all three segments
        // derive from it
        val grid = release(graft.queries.Events.centiCountGrid(cur, ref)
          .localCheckpoint(true))
        val cdf = graft.queries.Events.withCdf(grid)
        Seq("ks" -> graft.queries.Events.ksFromCdf(cdf),
          "qq" -> graft.queries.Events.qqFromCdf(cdf),
          "verdict" -> graft.queries.Events.rankVerdictFromGrid(grid, alarmMicro))
      }
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
