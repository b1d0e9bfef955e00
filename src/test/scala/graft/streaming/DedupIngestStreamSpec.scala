package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import graft.functions.HashFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming exact near-dup ingest: emitted pairs across micro-batches
  * equal the brute-force definition over each batch's standing-at-probe
  * side (losslessness survives index growth under the frozen order),
  * batch-id re-delivery after later appends is a no-op, and the probe
  * never re-reads standing document text.
  */
class DedupIngestStreamSpec extends SparkSpec {

  private def shingles(d: DataFrame) = d.select(col("doc_id"),
    array_sort(array_distinct(
      HashFunctions.shingleHashes(split(col("text"), " "), 3))).as("sh"))

  private def brutePairs(batch: DataFrame, standing: DataFrame) =
    shingles(batch).as("b").join(shingles(standing).as("t"), lit(true))
      .select(col("b.doc_id").as("batch_id"), col("t.doc_id").as("standing_id"),
        HashFunctions.jaccardLongs(col("b.sh"), col("t.sh")).as("j"))
      .where(col("j") >= 0.8)
      .select("batch_id", "standing_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("stream pairs == per-batch brute force; growth is probed; re-delivery no-ops") {
    val root = Files.createTempDirectory("graft-dedup-ingest")
    val srcDir = root.resolve("src").toString
    val indexDir = root.resolve("index").toString
    val pairsDir = root.resolve("pairs").toString
    val ckpt = root.resolve("ckpt").toString
    try {
      val d = Tables(spark, sf001, "documents").select("doc_id", "text")
      val standing0 = d.where(col("doc_id") % 4 =!= 0) // 3/4 stands
      val batch1 = d.where(col("doc_id") % 4 === 0 && col("doc_id") % 8 === 0)
      val batch2 = d.where(col("doc_id") % 4 === 0 && col("doc_id") % 8 =!= 0)
      DedupIngestStream.bootstrap(standing0, indexDir)

      // two sequential AvailableNow queries over one checkpoint pin the
      // arrival order (batch 0 = batch1) without racing file mtimes
      batch1.coalesce(1).write.mode("append").parquet(srcDir)
      val q1 = DedupIngestStream.start(spark, srcDir, indexDir, pairsDir,
        ckpt, trigger = Trigger.AvailableNow())
      q1.awaitTermination(120000)
      batch2.coalesce(1).write.mode("append").parquet(srcDir)
      val q2 = DedupIngestStream.start(spark, srcDir, indexDir, pairsDir,
        ckpt, trigger = Trigger.AvailableNow())
      q2.awaitTermination(120000)

      // micro-batch file order follows arrival order: batch 0 = batch1.
      // each batch's pairs must equal brute force against ITS standing
      // side — base for batch 0; base + batch 0 for batch 1
      val got0 = spark.read.parquet(s"$pairsDir/seg=batch_0")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got1 = spark.read.parquet(s"$pairsDir/seg=batch_1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got0 === brutePairs(batch1, standing0))
      assert(got1 === brutePairs(batch2, standing0.unionByName(batch1)),
        "batch 2 must dedup against the GROWN standing side")
      assert((got0 ++ got1).nonEmpty, "fixture should contain near-dups")

      // re-delivery of batch 0 AFTER batch 1 appended: fully-applied id
      // is skipped whole (otherwise it would now also match batch 2's
      // docs and emit different pairs)
      DedupIngestStream.ingestBatch(batch1, indexDir, pairsDir, 0L)
      spark.catalog.refreshByPath(s"$pairsDir/seg=batch_0")
      val replay = spark.read.parquet(s"$pairsDir/seg=batch_0")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(replay === got0, "re-delivered batch id must be a no-op")

      // the probe plan reads postings/sets only — no document text column
      // ever leaves a scan (standing text is never re-read by design)
      val frozen = spark.read.parquet(s"$indexDir/df")
      val bsets = shingles(batch2).withColumn("n", size(col("sh")).cast("long"))
      val (standSets, standPrefix) = DedupIngestStream.standing(spark, indexDir)
      val probe = graft.queries.Dedup.probeJoin(
        bsets,
        graft.queries.Dedup.prefixPostings(
          bsets.select(col("doc_id"), col("n"), explode(col("sh")).as("s")),
          frozen),
        standSets, standPrefix)
      val indexScans = graft.SparkSpec.allPlanNodes(probe.queryExecution.executedPlan)
        .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
        .filter(_.metadata.get("Location").exists(_.contains(root.getFileName.toString)))
      assert(indexScans.nonEmpty, "expected index scans in the probe plan")
      val scanned = indexScans.flatMap(_.schema.fieldNames)
      assert(!scanned.contains("text"),
        s"standing text must not be rescanned, got columns: $scanned")
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("compaction bounds the index: 6 batches leave one generation of at most 4 segments") {
    val root = Files.createTempDirectory("graft-dedup-compact")
    val indexDir = root.resolve("index").toString
    val pairsDir = root.resolve("pairs").toString
    try {
      val d = Tables(spark, sf001, "documents").select("doc_id", "text")
      val standing0 = d.where(pmod(col("doc_id"), lit(8)) > 5)
      val batches = (0 until 6).map(i => d.where(pmod(col("doc_id"), lit(8)) === i))
      DedupIngestStream.bootstrap(standing0, indexDir)
      val sc = spark.sparkContext
      val mark = sc.emptyRDD[Int].id
      batches.zipWithIndex.foreach { case (b, i) =>
        DedupIngestStream.ingestBatch(b, indexDir, pairsDir, i.toLong)
      }
      // each ingest drops its batch checkpoints once its segment is written
      val pinned = sc.getPersistentRDDs.keys.filter(_ > mark).toSeq
      assert(pinned.isEmpty, s"ingests left persisted RDDs behind: $pinned")

      val (gen, segments) = graft.StoredManifest.read(indexDir)
      assert(gen == "gen_1" && segments.length <= 4, s"$gen: $segments")
      assert(!Files.exists(root.resolve("index").resolve("gen_0")),
        "the superseded generation must be deleted")
      batches.indices.foreach { i =>
        val got = spark.read.parquet(s"$pairsDir/seg=batch_$i")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val standingAtProbe = (standing0 +: batches.take(i)).reduce(_ unionByName _)
        assert(got === brutePairs(batches(i), standingAtProbe), s"batch $i")
      }
      // the compacted standing side still holds every ingested doc once
      val (sets, _) = DedupIngestStream.standing(spark, indexDir)
      assert(sets.count() == d.count() && sets.select("doc_id").distinct().count() == d.count())
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }
}
