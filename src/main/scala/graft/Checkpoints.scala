package graft

import org.apache.spark.sql.DataFrame

/** Unpersist the storage blocks behind an eager `localCheckpoint(true)`.
  *
  * Checkpointed frames live in executor storage until the context
  * cleaner's GC happens to collect them; in loops (graph supersteps) and
  * long-lived streams (per-micro-batch state merges) that stranding is
  * real memory pressure — the ADVICE-r7 retention finding, fixed at the
  * source. Call on SUPERSEDED generations only: the final checkpoint
  * backing a returned/published DataFrame must stay.
  */
object Checkpoints {

  /** Run `body` with `release`, which returns its frame and [[drop]]s the
    * checkpoints in that frame's plan when `body` returns or throws: the
    * lifetime of a per-micro-batch frame that a stream writes out and
    * never reads again.
    */
  def scoped[T](body: (DataFrame => DataFrame) => T): T = {
    val released = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => released += df; df }
    finally released.foreach(drop)
  }

  def drop(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
