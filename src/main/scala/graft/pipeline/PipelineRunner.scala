package graft.pipeline

import java.nio.file.Paths
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** One pipeline cycle — the reference's whole DagRun (SURVEY.md §3.1):
  *
  *   discover → dedup(anti-join ledger) → quiescence gate → naming →
  *   external-process convert (≤poolSlots) → archive (ALL_DONE) →
  *   ledger updates → run-history append → verify gate
  *
  * The run listing is one Spark job whose rows are collected; the ledger
  * filter and the MAX_MAP cap then run over those driver rows, against the
  * done keys collected in a second job. Each per-run side effect (size walk,
  * convert, archive) is one job over the capped batch whose results are
  * collected, so no side effect is ever replayed from lineage.
  * [[runBatch]], the tail from naming on, is shared with
  * graft.streaming.StreamingPipeline's micro-batch.
  *
  * graft.streaming.PipelinePoller runs cycles on the reference's 5-minute
  * trigger. All cross-cycle state (converted ledger, attempts, quiescence
  * clocks, run history) lives in `stateDir` parquet tables — the Spark
  * replacement for the reference's Airflow metadata DB + sentinel files; a
  * cycle leaves nothing cached or checkpointed.
  */
object PipelineRunner {

  final case class CycleResult(
      discovered: Long,
      pending: Long,
      ready: Long,
      stats: VerifyGate.BatchStats)

  def runCycle(
      spark: SparkSession,
      cfg: GraftConfig,
      now: Instant = Instant.now()): CycleResult = {
    val ledger = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)

    val listed = Discovery.discover(spark, cfg).collect().toSeq
    val pending = Discovery.dedup(listed, ledger, cfg)
    if (pending.size == cfg.maxMap)
      log.info(s"cycle capped at MAX_MAP=${cfg.maxMap}; remainder next cycle")

    val ready = quiesce(spark, ledger, pending, cfg, now)
    CycleResult(listed.size, pending.size, ready.size, runBatch(spark, ledger, ready, cfg, now))
  }

  /** Quiescence gate (A9): observe the pending runs' sizes on executors and
    * fold the pure Quiescence.advance over them and the stored clocks. Ready
    * runs flow on in pending order; the others' clocks replace the stored
    * ones (rewritten only when they changed).
    */
  private def quiesce(
      spark: SparkSession,
      ledger: LedgerStore,
      pending: Seq[RunRecord],
      cfg: GraftConfig,
      now: Instant): Seq[RunRecord] = {
    import spark.implicits._
    val sizes =
      if (pending.isEmpty) Nil
      else spark.sparkContext
        .parallelize(pending.map(_.path),
          math.min(pending.size, spark.sparkContext.defaultParallelism))
        .map(p => Discovery.dirSizeBytes(Paths.get(p)))
        .collect().toSeq
    val clocks = ledger.quiet.as[(String, Long, Long)].collect()
      .map { case (path, size, since) => path -> Quiescence.QuietState(size, since) }.toMap
    val decided = pending.zip(sizes).map { case (r, size) =>
      r -> Quiescence.advance(clocks.get(r.path), size, now.getEpochSecond, cfg.quietS)
    }
    val waiting = decided.collect { case (r, d) if !d.ready => r.path -> d.state }.toMap
    if (waiting != clocks) ledger.replaceQuiet(waiting)
    decided.collect { case (r, d) if d.ready => r }
  }

  /** The batch body (A12-A16) over ready runs held as driver rows: naming →
    * convert → archive (ALL_DONE) → ledger updates → run-history append →
    * verify gate, which throws on a threshold breach after the bookkeeping.
    * With no ready run it runs nothing.
    */
  private[graft] def runBatch(
      spark: SparkSession,
      ledger: LedgerStore,
      ready: Seq[RunRecord],
      cfg: GraftConfig,
      now: Instant): VerifyGate.BatchStats = {
    if (ready.isEmpty) return VerifyGate.BatchStats(0, 0, 0)
    import spark.implicits._
    val envs = ready.map(r => Naming.runEnv(r, cfg, now))
    val converted = ExternalProcess.convert(spark, envs, cfg)
    val statuses = ArchiveSink.archive(spark, converted, cfg, now).toDS()
    val statusDf = statuses.toDF()

    // A6 + A14: ledger updates
    ledger.appendConverted(statusDf)
    ledger.recordFailures(statusDf)

    appendHistory(cfg, statusDf, now)
    ledger.compact(historyPath(cfg), HistorySchema)

    val st = VerifyGate.stats(statuses)
    VerifyGate.check(st, cfg.failThreshold)
    st
  }

  private def historyPath(cfg: GraftConfig): String = s"${cfg.stateDir}/history"

  /** Run-history table — the engine's task_instance analog; the B1-B9
    * analytics queries run over it (SURVEY.md §7.2.h). Each batch appends
    * one file; [[runBatch]] then has the ledger compact the table.
    */
  private def appendHistory(cfg: GraftConfig, statuses: DataFrame, now: Instant): Unit = {
    if (statuses.isEmpty) return
    LedgerStore.reopen(historyPath(cfg))
    statuses
      .withColumn("cycleTs", lit(new Timestamp(now.toEpochMilli)))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(historyPath(cfg))
  }

  /** The history table's schema: a RunStatus row plus its cycle's time. */
  private[graft] val HistorySchema: StructType =
    Encoders.product[RunStatus].schema.add("cycleTs", TimestampType)

  /** History table read with [[HistorySchema]] (no footer is opened to plan
    * it) from [[LedgerStore.snapshotDir]], or an empty frame of that schema if
    * no cycle has written yet — so dashboard queries compile (and return
    * empties) either way.
    *
    * Files of earlier engine versions stay readable, also once compacted
    * with newer ones: a row written before a RunStatus field existed
    * (origBytes/archiveBytes) reads that column as null, filled with 0.
    */
  def history(spark: SparkSession, cfg: GraftConfig): DataFrame =
    LedgerStore.snapshotDir(historyPath(cfg))
      .fold(spark.createDataFrame(java.util.List.of[Row](), HistorySchema))(
        spark.read.schema(HistorySchema).parquet(_))
      .na.fill(0L, Seq("origBytes", "archiveBytes"))

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
