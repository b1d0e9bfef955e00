package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.queries.Lakehouse
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming MoR changes: chained micro-batches equal the copy-on-write
  * result, re-delivery of a committed batch is a no-op, base files are
  * never rewritten, and upserts and deletes share the table's one log.
  */
class MergeStreamSpec extends SparkSpec {

  test("streamed chained upserts == copy-on-write; replay no-op; base untouched") {
    val root = Files.createTempDirectory("graft-mergestream")
    val layout = root.resolve("base").toString
    val logDir = root.resolve("log").toString
    val srcDir = root.resolve("req").toString
    val delDir = root.resolve("del").toString
    val ckpt = root.resolve("ckpt").toString
    try {
      val d = Tables(spark, sf001, "documents").select("doc_id", "text", "source")
      d.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.parquet(layout)
      val baseFiles = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet

      val m1 = d.where(col("doc_id") % 9 === 0)
        .withColumn("text", upper(col("text")))
      val m2 = d.where(col("doc_id") % 18 === 0)
        .withColumn("text", concat(col("text"), lit("?")))
      m1.coalesce(1).write.mode("append").parquet(srcDir)
      val q1 = MergeStream.start(spark, srcDir, delDir, layout, logDir, ckpt)
      q1.awaitTermination(60000)
      m2.coalesce(1).write.mode("append").parquet(srcDir)
      val q2 = MergeStream.start(spark, srcDir, delDir, layout, logDir, ckpt,
        trigger = Trigger.AvailableNow())
      q2.awaitTermination(60000)

      val got = Lakehouse.readMoR(spark, layout, logDir)
        .select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expect = d.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
        .map { case (id, t) =>
          id -> (if (id % 18 == 0) t + "?"
            else if (id % 9 == 0) t.toUpperCase else t)
        }
      assert(got == expect, "streamed MoR merges must equal the CoW result")

      // replay batch 0 (m1) AFTER m2 committed: fully-applied no-op
      Lakehouse.mergeMoR(m1, layout, logDir, 0L)
      val replay = Lakehouse.readMoR(spark, layout, logDir)
        .select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replay == expect, "committed-batch replay must be a no-op")

      val after = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
      assert(after == baseFiles)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("streamed upserts and deletes share one log == copy-on-write across a compaction") {
    val root = Files.createTempDirectory("graft-cdcstream")
    val layout = root.resolve("base").toString
    val logDir = root.resolve("log").toString
    val upDir = root.resolve("up").toString
    val delDir = root.resolve("del").toString
    val ckpt = root.resolve("ckpt").toString
    def texts(df: DataFrame): Map[Long, String] =
      df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    try {
      val d = Tables(spark, sf001, "documents").select("doc_id", "text", "source")
      d.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.parquet(layout)
      val baseFiles = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
      def upsert(p: Column, tag: String) =
        d.where(p).withColumn("text", concat(col("text"), lit(tag)))
      import spark.implicits._
      val absent = Seq(999999L).toDF("doc_id")
      // (upserts, deletes) per round; each round is one micro-batch
      val rounds: Seq[(Option[DataFrame], Option[DataFrame])] = Seq(
        // a delete wins over an upsert of the same id in one batch (the 18s)
        Some(upsert(col("doc_id") % 9 === 0, "#0")) ->
          Some(d.where(col("doc_id") % 6 === 0).select("doc_id")),
        // re-inserts deleted ids and rewrites upserted ones
        Some(upsert(col("doc_id") % 18 === 0 || col("doc_id") % 10 === 0, "#1")) -> None,
        // deletes rows an earlier batch upserted, plus an absent id
        None -> Some(d.where(col("doc_id") % 10 === 0).select("doc_id").unionByName(absent)),
        Some(upsert(col("doc_id") % 4 === 0, "#3")) -> None,
        None -> Some(d.where(col("doc_id") % 8 === 0).select("doc_id")),
        Some(upsert(col("doc_id") % 5 === 0, "#5")) -> None)
      var expect = texts(d)
      rounds.zipWithIndex.foreach { case ((ups, dels), i) =>
        ups.foreach(_.coalesce(1).write.mode("append").parquet(upDir))
        dels.foreach(_.coalesce(1).write.mode("append").parquet(delDir))
        MergeStream.start(spark, upDir, delDir, layout, logDir, ckpt).awaitTermination(60000)
        expect = (expect ++ ups.map(texts).getOrElse(Map.empty)) --
          dels.toSeq.flatMap(_.collect().map(_.getLong(0)))
        val rows = Lakehouse.readMoR(spark, layout, logDir).select("doc_id", "text")
          .collect().map(r => r.getLong(0) -> r.getString(1))
        assert(rows.map(_._1).distinct.length == rows.length, s"round $i serves a doc twice")
        assert(rows.toMap == expect, s"round $i must equal the copy-on-write result")
      }
      assert(graft.StoredManifest.read(logDir) == (("gen_1", Seq("base_4", "batch_5"))),
        "one batch per round, compacted past 4 live segments")
      val after = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
      assert(after == baseFiles)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }
}
