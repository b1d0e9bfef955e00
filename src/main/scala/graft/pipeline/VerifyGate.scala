package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Batch verify gate — operator A16 (dags/msconvert_dag.py:441-474).
  *
  * Counts per-row outcomes, clamps the failure threshold to the batch size
  * (`min(FAIL_THRESHOLD, total)`), and fails the batch when every row failed
  * (the "check mounts" systemic-failure case) or failures exceed the
  * threshold. Skips are excluded from the failure count, exactly as the
  * reference counts states.
  */
object VerifyGate {

  final case class BatchStats(total: Long, failed: Long, skipped: Long) {
    def succeeded: Long = total - failed - skipped
    def threshold(failThreshold: Int): Long = math.min(failThreshold.toLong, total)
  }

  final class BatchFailedException(msg: String) extends RuntimeException(msg)

  /** The batch's counts, in one single-partition stage: the batch is at
    * most MAX_MAP rows, so a partial aggregate and an exchange would only
    * add a job.
    */
  def stats(statuses: Dataset[RunStatus]): BatchStats = {
    val row = statuses.coalesce(1).agg(
      count(lit(1)).as("total"),
      count_if(col("state") === "failed").as("failed"),
      count_if(col("state") === "skipped").as("skipped")).head()
    BatchStats(row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** Throws BatchFailedException per the reference's rules; no-op on empty
    * batches (total=0 means nothing to verify, not all-failed).
    */
  def check(st: BatchStats, failThreshold: Int): Unit = {
    if (st.total == 0) return
    if (st.failed == st.total)
      throw new BatchFailedException(
        s"all ${st.total} conversions failed — check mounts/config")
    val thr = st.threshold(failThreshold)
    if (st.failed > thr)
      throw new BatchFailedException(
        s"${st.failed} failures exceed threshold $thr (total=${st.total}, skipped=${st.skipped})")
  }
}
