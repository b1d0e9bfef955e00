package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

private[streaming] object Streams {

  /** The streams' one micro-batch wiring: every micro-batch of `source`
    * goes to `f` with its batch id, under query `name` and checkpoint
    * `ckpt`. Replay guards stay with each stream's `f`: they differ (a
    * live-generation check, a high-water return, a loud failure).
    */
  def foldBatches(name: String, ckpt: String, trigger: Trigger,
      source: DataFrame)(f: (DataFrame, Long) => Unit): StreamingQuery =
    source.writeStream
      .queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) => f(batch, batchId) }
      .start()
}
