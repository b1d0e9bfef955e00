package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** One pipeline cycle — the reference's whole DagRun (SURVEY.md §3.1):
  *
  *   discover → dedup(anti-join ledger) → quiescence gate → naming →
  *   external-process convert (≤poolSlots) → archive (ALL_DONE) →
  *   ledger updates → run-history append → verify gate
  *
  * Listing and the capped ledger anti-join are Spark queries. The capped
  * batch (≤ MAX_MAP rows) is then held as driver rows, and each per-run side
  * effect (size walk, convert, archive) is one job over them whose results
  * are collected, so no side effect is ever replayed from lineage.
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

    val discovered = Discovery.discover(spark, cfg).cache()
    val (nDiscovered, pending) = try {
      val n = discovered.count()
      (n, Discovery.dedup(discovered, ledger, cfg).collect().toSeq)
    } finally discovered.unpersist()
    if (pending.size == cfg.maxMap)
      log.info(s"cycle capped at MAX_MAP=${cfg.maxMap}; remainder next cycle")

    val ready = quiesce(spark, ledger, pending, cfg, now)
    CycleResult(nDiscovered, pending.size, ready.size, runBatch(spark, ledger, ready, cfg, now))
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
    */
  private[graft] def runBatch(
      spark: SparkSession,
      ledger: LedgerStore,
      ready: Seq[RunRecord],
      cfg: GraftConfig,
      now: Instant): VerifyGate.BatchStats = {
    import spark.implicits._
    val envs = ready.map(r => Naming.runEnv(r, cfg, now))
    val converted = ExternalProcess.convert(spark, envs, cfg)
    val statuses = ArchiveSink.archive(spark, converted, cfg, now).toDS()
    val statusDf = statuses.toDF()

    // A6 + A14: ledger updates
    ledger.appendConverted(statusDf)
    ledger.recordFailures(statusDf)

    appendHistory(cfg, statusDf, now)

    val st = VerifyGate.stats(statuses)
    VerifyGate.check(st, cfg.failThreshold)
    st
  }

  /** Run-history table — the engine's task_instance analog; the B1-B9
    * analytics queries run over it (SURVEY.md §7.2.h). One file per batch.
    */
  private def appendHistory(cfg: GraftConfig, statuses: DataFrame, now: Instant): Unit = {
    if (statuses.isEmpty) return
    statuses
      .withColumn("cycleTs", lit(new Timestamp(now.toEpochMilli)))
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(s"${cfg.stateDir}/history")
  }

  /** History table, or a schema-correct empty frame if no cycle has written
    * yet — so dashboard queries compile (and return empties) either way.
    *
    * Read with mergeSchema and backfill: the history dir is append-only
    * across engine versions, so files written before a RunStatus field
    * existed (e.g. origBytes/archiveBytes) must still read — merged schema,
    * missing columns zero-filled — rather than depend on which file's
    * footer wins schema inference.
    */
  def history(spark: SparkSession, cfg: GraftConfig): DataFrame = {
    import spark.implicits._
    val p = s"${cfg.stateDir}/history"
    if (!Files.exists(Paths.get(p)))
      return spark.emptyDataset[RunStatus].toDF()
        .withColumn("cycleTs", lit(null).cast("timestamp"))
    var df = spark.read.option("mergeSchema", "true").parquet(p)
    for (c <- Seq("origBytes", "archiveBytes"))
      if (!df.columns.contains(c)) df = df.withColumn(c, lit(0L))
    df.na.fill(0L, Seq("origBytes", "archiveBytes"))
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
}
