package graft.streaming

import java.time.Instant
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.pipeline._

/** Fully streaming pipeline (SURVEY.md §7 build-plan item 4): a stream of
  * size observations → stateful debounce (A9) → foreachBatch micro-batch
  * running the batch engine's convert/archive/ledger/verify chain (A13-A16).
  *
  * foreachBatch is the exactly-once seam: the ledger filter inside the
  * batch body drops rows already converted, so a replayed micro-batch
  * (failure recovery) converts nothing twice — idempotency by ledger, the
  * reference's own answer (timestamped stems + already_converted,
  * dags/msconvert_dag.py:112-127), not by sink transactionality.
  *
  * The observation stream can come from any source: the poller's directory
  * snapshots, a file-event feed, or a test MemoryStream.
  */
object StreamingPipeline {

  /** Wire observations → debounce → convert-batch. Returns the writer;
    * caller picks trigger/checkpoint and starts it.
    */
  def build(
      observations: Dataset[DebounceStream.SizeObservation],
      cfg: GraftConfig,
      quietS: Int,
      wallClockTimeout: Boolean = true): DataStreamWriter[DebounceStream.ReadyRun] = {
    DebounceStream(observations, quietS, wallClockTimeout)
      .writeStream
      .foreachBatch { (ready: Dataset[DebounceStream.ReadyRun], batchId: Long) =>
        // a failed verify marks the batch failed but keeps the stream alive,
        // matching PipelinePoller (the reference's DAG keeps scheduling after
        // a failed DagRun). Letting the exception escape would terminate the
        // query and re-run recordFailures on the replayed batch at restart,
        // double-counting the same failures.
        try { processReadyBatch(ready, cfg); () }
        catch {
          case e: VerifyGate.BatchFailedException =>
            log.warn(s"batch $batchId failed verify: ${e.getMessage}")
        }
      }
  }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One micro-batch: ready paths → RunRecords, collected as the batch's
    * driver rows → the ledger filter the poll cycle uses (without its
    * MAX_MAP cap) → the batch engine's shared body
    * (PipelineRunner.runBatch: naming → convert → archive → ledger/history
    * update → verify).
    */
  private[streaming] def processReadyBatch(
      ready: Dataset[DebounceStream.ReadyRun],
      cfg: GraftConfig): VerifyGate.BatchStats = {
    val spark = ready.sparkSession
    import spark.implicits._
    val ledger = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)

    val watchPrefix = cfg.watchDir.stripSuffix("/") + "/" // plain string: serializable closure
    val records = ready.map { r =>
      val rel = r.path.stripPrefix(watchPrefix)
      val (plateRel, name) = rel.lastIndexOf('/') match {
        case -1 => ("", rel)
        case i => (rel.substring(0, i), rel.substring(i + 1))
      }
      RunRecord(r.path, plateRel, name.stripSuffix(".d"))
    }.collect().toSeq

    // idempotency on replay: drop anything the ledger already has
    val pending = Discovery.dedupLedger(records, ledger)
    PipelineRunner.runBatch(spark, ledger, pending, cfg, Instant.now())
  }

  /** Convenience: observation stream from periodic directory snapshots is the
    * poller's job; for a pure-streaming deployment, feed a file-event source
    * here and start with a processing-time trigger:
    *
    *   StreamingPipeline.build(obs, cfg, quietS = 120)
    *     .option("checkpointLocation", s"\${cfg.stateDir}/checkpoint")
    *     .trigger(Trigger.ProcessingTime("5 minutes"))
    *     .start()
    */
  def start(
      observations: Dataset[DebounceStream.SizeObservation],
      cfg: GraftConfig,
      quietS: Int,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")) = {
    build(observations, cfg, quietS)
      .option("checkpointLocation", s"${cfg.stateDir}/checkpoint")
      .trigger(trigger)
      .start()
  }
}
