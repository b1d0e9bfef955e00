package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.queries.Lakehouse
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming deletion-vector maintenance: streamed delete requests equal
  * a batch predicate delete, each batch commits a segment of the MoR log
  * without touching data files, re-delivery is a no-op, and absent ids
  * no-op.
  */
class DeleteVectorStreamSpec extends SparkSpec {

  test("streamed deletes == batch predicate; idempotent; data files untouched") {
    val root = Files.createTempDirectory("graft-dvstream")
    val layout = root.resolve("data").toString
    val logDir = root.resolve("log").toString
    val srcDir = root.resolve("req").toString
    val upDir = root.resolve("up").toString
    val ckpt = root.resolve("ckpt").toString
    try {
      val d = Tables(spark, sf001, "documents")
      d.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.parquet(layout)
      val filesBefore = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap

      // two request batches: multiples of 6, then multiples of 10 (the 30s
      // the first batch already deleted resolve to no new position), plus
      // an absent id
      d.where(col("doc_id") % 6 === 0).select("doc_id")
        .coalesce(1).write.mode("append").parquet(srcDir)
      val q1 = MergeStream.start(spark, upDir, srcDir, layout, logDir, ckpt)
      q1.awaitTermination(60000)
      import spark.implicits._
      spark.createDataset(Seq(999999L)).toDF("doc_id")
        .unionByName(d.where(col("doc_id") % 10 === 0).select("doc_id"))
        .coalesce(1).write.mode("append").parquet(srcDir)
      val q2 = MergeStream.start(spark, upDir, srcDir, layout, logDir, ckpt,
        trigger = Trigger.AvailableNow())
      q2.awaitTermination(60000)

      val served = Lakehouse.readMoR(spark, layout, logDir)
      val expect = d.where(col("doc_id") % 6 =!= 0 && col("doc_id") % 10 =!= 0)
      assert(served.count() == expect.count())
      assert(served.select("doc_id").exceptAll(expect.select("doc_id")).isEmpty)

      // re-delivery of batch 0 is a no-op through the log
      DeleteVectorStream.applyBatch(
        d.where(col("doc_id") % 6 === 0).select("doc_id"), layout, logDir, 0L)
      assert(Lakehouse.readMoR(spark, layout, logDir).count() ==
        expect.count(), "replay must not change the served set")

      // merge-on-read: streaming deletes never modified a data file
      val filesAfter = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
      assert(filesAfter == filesBefore)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }
}
