package graft.streaming

import graft.StoredManifest
import graft.pipeline.{GraftConfig, PipelineRunner, RunAnalytics}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming refresh of the five Grafana dashboard panels — the monitoring
  * loop the reference closes OUTSIDE the engine (Grafana polls Postgres on
  * a 5-minute `refresh` cadence,
  * `/root/reference/grafana/provisioning/dashboards/msconvert.json:6-7`),
  * here closed INSIDE it: a Structured Streaming query watches the
  * pipeline's `history` table and re-publishes every panel as a parquet
  * "materialized view" whenever a cycle lands a new file there — its
  * batch's appended file, or the one file a compaction
  * ([[graft.pipeline.LedgerStore]]) rewrites the table into.
  *
  * Each refresh recomputes every panel, so it commits through
  * [[graft.StoredManifest.publish]]: a dashboard reader (the Grafana
  * stand-in) never sees a half-written refresh.
  *
  * Shape notes for scale: the stream source is only the REFRESH SIGNAL —
  * micro-batch rows are not aggregated incrementally; the foreachBatch
  * body recomputes the panels over the full history table, which is
  * run-METADATA (one row per conversion), not data — at 1024 runs/cycle
  * (the reference's MAX_MAP) a year of history is a few million rows, a
  * single-task scan. What a refresh costs is per query, not per row, so
  * each panel is one single-partition stage: one task reads the history
  * and computes the panel with no exchange. One task is right at this
  * cardinality, where splitting the scan over the cores would save less
  * than the shuffle that joins the parts back up (and a sort's sampling
  * job) would cost. The panels' plans are the same from one refresh to
  * the next (the 24 h window's `now` is derived inside the plan, see
  * [[graft.pipeline.RunAnalytics.converted24h]]), so a warm stream finds
  * every generated class in Spark's code cache and compiles nothing.
  * Incrementalizing the two windowed panels (converted_24h, per_hour) with
  * watermarked streaming aggregation is possible but buys nothing at
  * metadata cardinality and loses the whole-history panels (avg, details),
  * which need the table anyway.
  * Production trigger: `Trigger.ProcessingTime("5 minutes")` — the
  * reference's Grafana cadence; specs use `Trigger.AvailableNow`.
  */
object DashboardStream {

  private def dashDir(cfg: GraftConfig) = s"${cfg.stateDir}/dashboard"

  /** Start the refresh stream over the history table. */
  def start(spark: SparkSession, cfg: GraftConfig,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery = {
    Streams.foldBatches("dashboard-refresh", s"${cfg.stateDir}/dashboard_ckpt", trigger,
      spark.readStream
        .schema(PipelineRunner.HistorySchema)
        .parquet(s"${cfg.stateDir}/history")) { (_, batchId) =>
      // the batch rows are the signal; the panels recompute over the
      // full (metadata-sized) history — see scaladoc
      refresh(spark, cfg, batchId)
    }
  }

  /** One refresh: publish every panel as generation `gen_<gen>`. Also
    * callable synchronously (a cycle-end hook) — the streaming form exists
    * so refresh latency is bounded by the trigger, not by the caller
    * remembering to refresh.
    *
    * A compaction lands one new file in `history/`, which the stream takes
    * as a refresh signal; that is harmless, since the batch rows are never
    * read. A refresh that overlaps a compaction's rename can still list a
    * file the rename then removes, so the panels are recomputed once on a
    * missing-file error instead of stopping the stream; the retry's sweep
    * removes the uncommitted generation first.
    */
  def refresh(spark: SparkSession, cfg: GraftConfig, gen: Long): Unit = {
    def once(): Unit = StoredManifest.publish(dashDir(cfg), gen)(
      RunAnalytics.dashboard(spark, cfg).toSeq.sortBy(_._1))
    try once() catch { case e: Exception if missingFile(e) => once() }
  }

  /** Whether `e` (or a cause) says a file or path read was not there. */
  private[streaming] def missingFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException | _: java.nio.file.NoSuchFileException => true
      case a: AnalysisException => a.getCondition == "PATH_NOT_FOUND"
      case _ => false
    }

  def published(cfg: GraftConfig): Boolean = StoredManifest.exists(dashDir(cfg))

  /** Read one published panel through the manifest. */
  def readPanel(spark: SparkSession, cfg: GraftConfig, panel: String): DataFrame =
    StoredManifest.readSegment(spark, dashDir(cfg), panel)

  /** The live refresh generation (for staleness checks / tests). */
  def liveGeneration(cfg: GraftConfig): String = StoredManifest.live(dashDir(cfg))
}
