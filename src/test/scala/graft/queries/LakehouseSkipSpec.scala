package graft.queries

import java.nio.file.{Files, Path}

import graft.{SegmentLog, SparkEntry, SparkSpec, StoredManifest}
import graft.streaming.DeleteVectorStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** x174 zone-map skipping + x175 join-MV delta rule + x176 bottom-k
  * mergeability — the invariants the row hashes can't see: that the skip
  * index actually HANDS FEWER FILES to the reader (and its stats are
  * honest), that the delta rule certifies itself on every row, and that
  * the sharded bottom-k merge is exactly the direct sample.
  */
class LakehouseSkipSpec extends SparkSpec {

  test("x174: the stats table prunes files, and pruned reads miss nothing") {
    val (layout, stats) = Lakehouse.ensureZoneIndex(spark, sf001)
    val all = stats.collect()
    assert(all.length > 1, "layout must produce multiple files to skip")
    // stats honesty: per-file min/max/n match the file contents
    all.foreach { r =>
      val (f, lo, hi, n) = (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val got = spark.read.parquet(f).agg(
        min(col("doc_id")), max(col("doc_id")), count(lit(1))).collect()(0)
      assert(got.getLong(0) == lo && got.getLong(1) == hi && got.getLong(2) == n)
    }
    // a narrow range selects a strict subset of files...
    val maxId = all.map(_.getLong(2)).max
    val (lo, hi) = (maxId / 4, maxId / 2)
    val picked = Lakehouse.zoneSelect(stats, lo, hi)
    assert(picked.nonEmpty && picked.size < all.length,
      s"range [$lo,$hi] must skip files: ${picked.size}/${all.length}")
    // ...and the pruned read equals the unpruned one
    val pruned = spark.read.parquet(picked: _*)
      .where(col("doc_id").between(lo, hi)).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    val full = spark.read.parquet(layout)
      .where(col("doc_id").between(lo, hi)).select("doc_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(pruned == full)
  }

  test("x175: the delta rule certifies on every segment row") {
    val rows = SparkEntry.queries("x175_join_mv_delta")(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(5)), "merge(V, delta V) must equal rebuild")
  }

  test("x181: compaction shrinks the file count but keeps spans disjoint") {
    val (_, zoneStats) = Lakehouse.ensureZoneIndex(spark, sf001)
    val (compacted, stats) = Lakehouse.ensureCompacted(spark, sf001)
    val before = zoneStats.count()
    val files = stats.collect()
    assert(files.length < before,
      s"compaction must reduce files: ${files.length} vs $before")
    // range layout survives: per-file spans are pairwise disjoint, so the
    // skip index stays selective after compaction
    val spans = files.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    spans.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi < lo2, "spans must not overlap")
      case _ =>
    }
    // rebuilt stats are honest and rows are all accounted for
    val total = files.map(_.getLong(3)).sum
    assert(total == spark.read.parquet(compacted).count())
  }

  test("x182: append extends the index without touching base files") {
    val (base, delta, stats) = Lakehouse.ensureIncZone(spark, sf001)
    val baseFiles = new java.io.File(base).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified, f.length))
    // the merged stats cover both directories' files, each row honest
    val all = stats.collect()
    val (baseRows, deltaRows) = all.partition(_.getString(0).contains(
      new java.io.File(base).getName))
    assert(baseRows.nonEmpty && deltaRows.nonEmpty,
      "stats must merge base and delta file rows")
    all.foreach { r =>
      val got = spark.read.parquet(r.getString(0)).agg(
        min(col("doc_id")), max(col("doc_id")), count(lit(1))).collect()(0)
      assert(got.getLong(0) == r.getLong(1) && got.getLong(1) == r.getLong(2) &&
        got.getLong(2) == r.getLong(3))
    }
    // re-running the builder is a no-op: base files byte-stable
    Lakehouse.ensureIncZone(spark, sf001)
    val after = new java.io.File(base).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified, f.length))
    assert(baseFiles.toSeq.sorted == after.toSeq.sorted,
      "append lifecycle must never rewrite the immutable base")
    // rows are fully accounted for across both generations
    val total = all.map(_.getLong(3)).sum
    assert(total == graft.Tables(spark, sf001, "documents").count())
  }

  test("x183: blooms prune files for point lookups, never the true file") {
    val (layout, blooms) = Lakehouse.ensureBloomIndex(spark, sf001)
    assert(blooms.size > 1)
    // every stored doc's hash is found by its own file's bloom (no false
    // negatives), and a random absent hash prunes most files
    blooms.foreach { case (f, bf) =>
      val hs = spark.read.parquet(f).select(xxhash64(col("text")))
        .limit(5).collect().map(_.getLong(0))
      hs.foreach(h => assert(bf.mightContainLong(h), s"false negative in $f"))
    }
    val absent = (1 to 20).map(i => blooms.count(_._2.mightContainLong(0x9e3779b97f4a7c15L * i)))
    assert(absent.sum < 20 * blooms.size,
      s"absent keys must not hit every bloom: $absent")
    // the served lookup equals the naive full scan
    val served = graft.SparkEntry.queries("x183_bloom_lookup")(spark, sf001)
      .collect().map(_.getLong(0)).toSeq
    assert(served.nonEmpty)
    val docs = graft.Tables(spark, sf001, "documents")
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val target = docs.where(col("doc_id") >= maxId / 2).orderBy("doc_id")
      .select(col("text")).limit(1).collect()(0).getString(0)
    val naive = docs.where(col("text") === target)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(served == naive)
  }

  test("x229: deletion vectors subtract rows positionally, without rewriting data files") {
    val (layout, dvP) = Lakehouse.ensureDeletionVectors(spark, sf001)
    val dataFiles = new java.io.File(layout).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    assert(dataFiles.size > 1, "layout must be multi-file")
    val dv = spark.read.parquet(dvP)
    assert(dv.columns.toSeq == Seq("file", "pos"),
      "the sidecar must identify rows by position only (no data columns)")
    val served = Lakehouse.readWithDeletes(spark, layout, dvP)
    // every deleted position is absent, everything else survives
    assert(served.where(col("doc_id") % 10 === 0).count() == 0L)
    assert(served.count() ==
      spark.read.parquet(layout).count() - dv.count())
    // merge-on-read: applying deletes modified NO data file
    val after = new java.io.File(layout).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
    assert(after == dataFiles, "serving with DVs must not rewrite data files")
    // the DV-sized sidecar broadcasts: the anti-join must not shuffle the
    // data side on (file, pos)
    served.collect()
    val nodes = graft.SparkSpec.allPlanNodes(served.queryExecution.executedPlan)
    assert(nodes.exists(n => n.nodeName.contains("BroadcastHashJoin")),
      s"expected a broadcast anti-join:\n${served.queryExecution.executedPlan}")
  }

  test("x229: DV fold-in compaction preserves rows and empties the sidecar") {
    val (layout, dvP) = Lakehouse.ensureDeletionVectors(spark, sf001)
    val out = java.nio.file.Files.createTempDirectory("graft-dvfold").toString
    try {
      Lakehouse.compactDeletes(spark, layout, dvP, out)
      val before = Lakehouse.readWithDeletes(spark, layout, dvP)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      val after = spark.read.parquet(out)
        .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(after == before, "fold-in must preserve exactly the survivors")
      // the rewritten layout serves with an empty DV — same scan path
      import spark.implicits._
      val emptyDv = spark.emptyDataset[(String, Long)].toDF("file", "pos")
      val dvEmpty = java.nio.file.Files.createTempDirectory("graft-dvempty").toString
      emptyDv.write.mode("overwrite").parquet(dvEmpty)
      assert(Lakehouse.readWithDeletes(spark, out, dvEmpty).count() ==
        before.length.toLong)
      graft.StoredArtifacts.deleteTree(dvEmpty)
    } finally graft.StoredArtifacts.deleteTree(out)
  }

  test("mergeMoR: chained upserts equal copy-on-write semantics without base rewrites") {
    val root = java.nio.file.Files.createTempDirectory("graft-mor")
    val layout = root.resolve("base").toString
    val logDir = root.resolve("log").toString
    try {
      val d = graft.Tables(spark, sf001, "documents")
        .select("doc_id", "text", "source")
      d.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
        .write.parquet(layout)
      val baseFiles = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap

      val m1 = d.where(col("doc_id") % 7 === 0)
        .withColumn("text", upper(col("text")))
      Lakehouse.mergeMoR(m1, layout, logDir, 1L)
      // chained: m2 touches a subset m1 already rewrote, plus fresh ids
      val m2 = d.where(col("doc_id") % 14 === 0 || col("doc_id") % 11 === 0)
        .withColumn("text", concat(col("text"), lit("!")))
      Lakehouse.mergeMoR(m2, layout, logDir, 2L)

      val got = Lakehouse.readMoR(spark, layout, logDir)
        .select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      val expect = d.select("doc_id", "text").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
        .map { case (id, t) =>
          id -> (if (id % 14 == 0 || id % 11 == 0) t + "!"
            else if (id % 7 == 0) t.toUpperCase else t)
        }
      assert(got.size == expect.size, s"${got.size} vs ${expect.size}")
      assert(got == expect, "MoR merge must equal the copy-on-write result")

      // idempotence: replaying batch 2 reproduces identical state
      Lakehouse.mergeMoR(m2, layout, logDir, 2L)
      val replay = Lakehouse.readMoR(spark, layout, logDir)
        .select("doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(replay == expect, "tag replay must be idempotent")

      // base files never rewritten
      val after = new java.io.File(layout).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.length).toMap
      assert(after == baseFiles)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  /** sf0.001's documents as a MoR base layout of 4 files at `layout`. */
  private def morBase(layout: String): DataFrame = {
    val d = graft.Tables(spark, sf001, "documents").select("doc_id", "text", "source")
    d.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id")
      .write.parquet(layout)
    d
  }

  private def texts(df: DataFrame): Map[Long, String] =
    df.select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The served MoR view as doc_id → text; a doc served twice fails. */
  private def served(layout: String, logDir: String): Map[Long, String] = {
    val rows = Lakehouse.readMoR(spark, layout, logDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length == rows.length, "a doc is served in two versions")
    rows.toMap
  }

  private def fileBytes(dir: String): Map[String, Seq[Byte]] =
    new java.io.File(dir).listFiles().map(f =>
      f.getName -> Files.readAllBytes(f.toPath).toSeq).toMap

  private def withLog(prefix: String)(body: (Path, String, String) => Unit): Unit = {
    val root = Files.createTempDirectory(prefix)
    try body(root, root.resolve("base").toString, root.resolve("log").toString)
    finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("MoR log: chained upserts over 6 ids equal copy-on-write across a compaction") {
    withLog("graft-morlog") { (root, layout, logDir) =>
      val d = morBase(layout)
      val baseBytes = fileBytes(layout)
      var expect = texts(d)
      (0L until 6L).foreach { id =>
        // every merge rewrites the rows the previous one introduced, plus fresh ids
        val m = d.where(col("doc_id") % 5 === 0 || col("doc_id") % 7 === id)
          .withColumn("text", concat(col("text"), lit(s"#$id")))
        Lakehouse.mergeMoR(m, layout, logDir, id)
        expect = expect ++ texts(m)
        assert(served(layout, logDir) == expect, s"after merge $id")
        val (gen, segments) = StoredManifest.read(logDir)
        assert(segments.length <= 4, s"after merge $id: $gen $segments")
      }
      assert(StoredManifest.read(logDir) == (("gen_1", Seq("base_4", "batch_5"))))
      assert(!Files.exists(root.resolve("log").resolve("gen_0")),
        "the superseded generation must be deleted")
      assert(fileBytes(layout) == baseBytes, "base files must stay byte-identical")
    }
  }

  test("MoR log: a delete of an upserted id keeps it gone through a compaction") {
    withLog("graft-mordel") { (_, layout, logDir) =>
      val d = morBase(layout)
      val m = d.where(col("doc_id") % 5 === 0).withColumn("text", upper(col("text")))
      Lakehouse.mergeMoR(m, layout, logDir, 0L)
      val upserted = m.agg(max(col("doc_id"))).head.getLong(0)
      val baseOnly = d.where(col("doc_id") % 5 === 1).agg(min(col("doc_id"))).head.getLong(0)
      import spark.implicits._
      DeleteVectorStream.applyBatch(Seq(upserted, baseOnly).toDF("doc_id"), layout, logDir, 1L)
      val expect = texts(d) ++ texts(m) -- Seq(upserted, baseOnly)
      assert(served(layout, logDir) == expect)
      SegmentLog.compactionSteps(logDir, Lakehouse.compactMoR(spark))
        .foreach { case (_, step) => step() }
      assert(StoredManifest.read(logDir) == (("gen_1", Seq("base_1"))))
      assert(served(layout, logDir) == expect, "the compaction must keep both deletes")
    }
  }

  test("MoR log: a stopped compaction or an uncommitted batch serves one version; the next ingest completes it") {
    def upsert(d: DataFrame, id: Long) =
      d.where(col("doc_id") % 3 === 0).withColumn("text", concat(col("text"), lit(s"#$id")))
    def twoMerges(layout: String, logDir: String): (DataFrame, Map[Long, String]) = {
      val d = morBase(layout)
      (0L to 1L).foreach(id => Lakehouse.mergeMoR(upsert(d, id), layout, logDir, id))
      (d, texts(d) ++ texts(upsert(d, 1L)))
    }
    val stepNames = Seq("write-segment", "commit-manifest", "delete-absorbed")
    stepNames.indices.foreach { k =>
      withLog("graft-morcrash") { (_, layout, logDir) =>
        val (d, before) = twoMerges(layout, logDir)
        val steps = SegmentLog.compactionSteps(logDir, Lakehouse.compactMoR(spark))
        assert(steps.map(_._1) == stepNames)
        steps.take(k + 1).foreach { case (_, step) => step() }
        val done = stepNames.take(k + 1)
        assert(served(layout, logDir) == before, s"after $done")
        Lakehouse.mergeMoR(upsert(d, 2L), layout, logDir, 2L)
        assert(served(layout, logDir) == before ++ texts(upsert(d, 2L)),
          s"the ingest after $done")
      }
    }
    withLog("graft-moruncommitted") { (root, layout, logDir) =>
      val (d, before) = twoMerges(layout, logDir)
      val (gen, segments) = StoredManifest.read(logDir)
      Lakehouse.mergeMoR(upsert(d, 2L), layout, logDir, 2L)
      val after = served(layout, logDir)
      assert(after == before ++ texts(upsert(d, 2L)))
      // un-commit batch 2: its rows and dv stay written in the live
      // generation's directory, named by no manifest
      StoredManifest.write(logDir, gen, segments)
      val pending = root.resolve("log").resolve(gen).resolve("batch_2")
      assert(Files.isDirectory(pending.resolve("rows")) && Files.isDirectory(pending.resolve("dv")))
      assert(served(layout, logDir) == before, "written but uncommitted")
      // a crash between the batch's two writes: rows landed, dv did not
      graft.StoredArtifacts.deleteTree(pending.resolve("dv").toString)
      assert(served(layout, logDir) == before, "rows written, dv not")
      Lakehouse.mergeMoR(upsert(d, 2L), layout, logDir, 2L)
      assert(served(layout, logDir) == after, "the re-delivered batch completes")
    }
  }

  test("x176: shard-merge equals direct bottom-k with exact size per source") {
    val rows = SparkEntry.queries("x176_bottomk_sample")(spark, sf001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "merged and direct samples must agree")
    rows.groupBy(_.getString(0)).foreach { case (src, xs) =>
      val corpus = graft.Tables(spark, sf001, "documents")
        .where(col("source") === src).count()
      assert(xs.length == math.min(10L, corpus), s"source $src sample size")
    }
  }
}
