package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's five Grafana dashboard queries
  * (grafana/provisioning/dashboards/msconvert.json:20,48,77,101,142) over the
  * engine's own run-history table — closing the loop of SURVEY.md §7.2.h: the
  * pipeline maintains the tables its monitoring queries read, exactly as the
  * reference's Airflow metadata DB feeds its dashboards.
  *
  * history schema (PipelineRunner.HistorySchema): base, plateRel, in, outfile,
  * state, message, startTs, endTs, archived, origBytes, archiveBytes, cycleTs.
  */
object RunAnalytics {

  /** Panel 1 (msconvert.json:20): files converted in the trailing 24 h
    * before the latest `endTs` in `history` (the reference uses NOW(); the
    * latest run end is the engine's deterministic clock), 0 on an empty
    * history. `now` is a one-row `max(endTs)` aggregate joined into the
    * plan, not a collected value: building the panel runs no job, and the
    * plan carries no per-refresh timestamp literal, which Spark would
    * inline into generated Java source and so compile new classes on every
    * refresh. The join is a cartesian product (the `shuffle_replicate_nl`
    * hint), not a broadcast: over a single-partition history it is narrow,
    * one stage with both its sides, where a broadcast runs a job of its
    * own. A window over all rows would need no join, but Spark drops a
    * constant partition key and then logs a no-partition warning each time
    * it plans the window.
    */
  def converted24h(history: DataFrame): DataFrame =
    history
      .where(col("state") === "success")
      .crossJoin(history.agg(max(col("endTs")).as("now")).hint("shuffle_replicate_nl"))
      .where(col("endTs") > col("now") - expr("INTERVAL 24 HOURS"))
      // a cartesian product reports no output partitioning, so the count
      // would shuffle even its one partition into one
      .coalesce(1)
      .agg(count(lit(1)).as("converted"))

  /** Panel 2 (msconvert.json:48): avg conversion minutes, 1 decimal. */
  def avgConversionMinutes(history: DataFrame): DataFrame =
    history
      .where(col("state") === "success")
      .agg(round(avg(
        (unix_timestamp(col("endTs")) - unix_timestamp(col("startTs"))) / 60.0), 1)
        .as("avg_minutes"))

  /** Panel 3 (msconvert.json:77): conversions per hour time series. */
  def conversionsPerHour(history: DataFrame): DataFrame =
    history
      .where(col("state") === "success")
      .groupBy(date_trunc("hour", col("endTs")).as("time"))
      .agg(count(lit(1)).as("converted"))
      .orderBy("time")

  /** Panel 4 (msconvert.json:101): recent cycles with per-state counts — the
    * correlated-subquery panel in decorrelated grouped form (B5).
    */
  def recentCycles(history: DataFrame, limit: Int = 50): DataFrame =
    history
      .groupBy(col("cycleTs"))
      .agg(
        count(lit(1)).as("total"),
        count_if(col("state") === "success").as("converted"),
        count_if(col("state") === "failed").as("failed"),
        count_if(col("state") === "skipped").as("skipped"))
      .orderBy(col("cycleTs").desc)
      .limit(limit)

  /** Panel 5 (msconvert.json:142): per-run detail with output path concat —
    * the 4-way xcom join collapses to a projection here because the engine
    * keeps the payload denormalized in one row (the xcom pivot exists only
    * because Airflow scatters it over a key-value table).
    */
  def runDetails(history: DataFrame, cfg: GraftConfig, limit: Int = 100): DataFrame =
    history
      .select(col("base"), col("plateRel"), col("state"),
        concat_ws("/", lit(cfg.outputDir), col("plateRel"), col("outfile"))
          .as("output_path"),
        col("endTs"))
      .orderBy(col("endTs").desc, col("base"))
      .limit(limit)

  /** Compression metric the reference logs per archive (src vs tar bytes and
    * % saved, dags/msconvert_dag.py:417-424), aggregated over the archived
    * history: total original bytes, total archive bytes, percent saved.
    */
  def compressionRatio(history: DataFrame): DataFrame =
    history
      .where(col("archived") && col("origBytes") > 0)
      .agg(
        coalesce(sum(col("origBytes")), lit(0L)).as("orig_bytes"),
        coalesce(sum(col("archiveBytes")), lit(0L)).as("archive_bytes"))
      .withColumn("saved_pct",
        when(col("orig_bytes") > 0,
          round(lit(100.0) * (lit(1.0) - col("archive_bytes") / col("orig_bytes")), 1))
          .otherwise(lit(0.0)))

  /** All panels as named frames (dashboard refresh equivalent). Building
    * them runs no Spark job. Each panel plans as one stage over a
    * single-partition history, with no exchange, so collecting it runs one
    * job. Safe on an empty history: panels return empty/zero frames rather
    * than null-filter surprises (max(endTs) of an empty table is null).
    */
  def dashboard(spark: SparkSession, cfg: GraftConfig): Map[String, DataFrame] = {
    // History is run metadata (one row per run), so one task reads it
    // whole. Coalesce(1) reports SinglePartition, which satisfies every
    // panel's aggregate, sort, limit and join: no panel shuffles, and no
    // range sort samples its input in a job of its own.
    val h = PipelineRunner.history(spark, cfg).coalesce(1)
    Map(
      "converted_24h" -> converted24h(h),
      "avg_minutes" -> avgConversionMinutes(h),
      "per_hour" -> conversionsPerHour(h),
      "recent_cycles" -> recentCycles(h),
      "run_details" -> runDetails(h, cfg),
      "compression" -> compressionRatio(h))
  }
}
