package graft.queries

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec, StoredManifest}
import org.apache.spark.sql.functions._

/** The manifest-pointer commit protocol's correctness claim, driven
  * literally: a reader resolving through MANIFEST sees one COMPLETE
  * generation no matter where a writer crashed. The spec builds a fresh
  * index per crash window, stops compaction after every step prefix, and
  * probes — plus the lifecycle and GC behaviors around it.
  */
class ManifestAnnSpec extends SparkSpec {

  // 3 orthogonal clusters, 5 members each (ids 0-24 pattern) — the same
  // planted corpus as the delta-append gate in StoredAnnSpec
  private def standing = {
    import spark.implicits._
    (for { c <- 0 until 3; j <- 0 until 5 } yield {
      val v = Array.fill(6)(0.0f)
      v(c) = 1.0f; v(3) = 0.01f * (j + 1)
      ((c * 10 + j).toLong, v, s"c$c")
    }).toDF("vec_id", "embedding", "label")
  }

  private def batch = {
    import spark.implicits._
    Seq(
      (500L, Array(1.0f, 0f, 0f, 0.005f, 0f, 0f), "c0"),
      (501L, Array(0f, 1.0f, 0f, 0f, 0f, 0f), "c1")).toDF("vec_id", "embedding", "label")
  }

  private val allIds = ((0 until 3).flatMap(c => (0 until 5).map(j => (c * 10 + j).toLong))
    ++ Seq(500L, 501L)).toSet

  private def probedIds(idx: String): Set[Long] =
    AnnManifest.probe(spark, idx, Array(1.0, 0, 0, 0, 0, 0), nprobe = 3)
      .collect().map(_.getLong(0)).toSet

  test("lifecycle: init serves the base, append makes the batch searchable, compact merges and drops the delta") {
    val base = Files.createTempDirectory("graft-manifest")
    val idx = base.resolve("ivf").toString
    try {
      AnnManifest.init(standing, idx, iters = 1)
      assert(StoredManifest.read(idx) == (("gen_0", Seq("cells"))))
      assert(probedIds(idx) == allIds -- Seq(500L, 501L), "base generation serves the standing corpus")

      AnnManifest.append(batch, idx, "delta_1")
      assert(StoredManifest.read(idx) == (("gen_0", Seq("cells", "delta_1"))))
      assert(probedIds(idx) == allIds, "the committed delta is immediately searchable")

      // committed segments are immutable: a retried append is a no-op,
      // never an in-place overwrite of reader-visible data
      AnnManifest.append(batch.limit(0), idx, "delta_1")
      assert(probedIds(idx) == allIds, "retried append must not rewrite the live delta")

      AnnManifest.compact(spark, idx, iters = 1)
      assert(StoredManifest.read(idx) == (("gen_1", Seq("cells"))))
      assert(probedIds(idx) == allIds, "the compacted generation serves everything")
      // the warm-started re-cell keeps the coarse quantizer's k, and the
      // merged base alone serves the former delta vector first
      assert(Similarity.readIvfCentroids(spark, s"$idx/gen_1").length == 3,
        "compaction keeps the coarse quantizer's k")
      val nearest = AnnManifest.probe(spark, idx, Array(1.0, 0, 0, 0, 0, 0), nprobe = 1)
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(3).collect().map(_.getLong(0)).toSeq
      assert(nearest.head == 500L,
        s"the compacted base must serve the former delta vector first: $nearest")
      // DEFERRED GC: the superseded generation survives the flip (an
      // in-flight reader gets a full cycle), and the NEXT compaction's
      // gc step sweeps it
      assert(Files.exists(base.resolve("ivf").resolve("gen_0")),
        "the superseded generation must survive until the next gc")
      AnnManifest.compact(spark, idx, iters = 0)
      assert(StoredManifest.read(idx)._1 == "gen_2")
      assert(!Files.exists(base.resolve("ivf").resolve("gen_0")),
        "the next compaction's gc sweeps the unreachable generation")
      assert(probedIds(idx) == allIds)
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("compactions release the merged vectors' checkpoint") {
    val base = Files.createTempDirectory("graft-manifest-ckpt")
    val idx = base.resolve("ivf").toString
    try {
      AnnManifest.init(standing, idx, iters = 1)
      AnnManifest.append(batch, idx, "delta_1")
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.size
      (0 until 3).foreach(_ => AnnManifest.compact(spark, idx, iters = 1))
      assert(sc.getPersistentRDDs.size == before,
        s"compactions left persisted RDDs behind: ${sc.getPersistentRDDs.keys}")
      assert(probedIds(idx) == allIds)
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("crash windows: a probe serves one complete generation after ANY compaction step prefix") {
    val nSteps = 3 // gc, write-next-gen, commit-manifest
    for (prefix <- 0 to nSteps) {
      val base = Files.createTempDirectory(s"graft-crash$prefix")
      val idx = base.resolve("ivf").toString
      try {
        AnnManifest.init(standing, idx, iters = 1)
        AnnManifest.append(batch, idx, "delta_1")
        val steps = AnnManifest.compactionSteps(spark, idx, iters = 1)
        assert(steps.length == nSteps, s"spec must cover every step, got ${steps.map(_._1)}")
        steps.take(prefix).foreach { case (_, run) => run() }
        // the crash: nothing else runs. The reader must still see ALL rows
        // through a complete generation — gen_0+delta before the commit
        // flip (prefix < 3), gen_1 after it
        assert(probedIds(idx) == allIds,
          s"after ${steps.take(prefix).map(_._1)} the probe lost rows")
        val (gen, _) = StoredManifest.read(idx)
        assert(gen == (if (prefix < nSteps) "gen_0" else "gen_1"),
          s"prefix $prefix must leave the manifest on the ${if (prefix < nSteps) "old" else "new"} generation, got $gen")
      } finally graft.StoredArtifacts.deleteTree(base.toString)
    }
  }

  test("a half-written next generation is unreachable garbage: the next compaction GCs it and recommits") {
    val base = Files.createTempDirectory("graft-gc")
    val idx = base.resolve("ivf").toString
    try {
      AnnManifest.init(standing, idx, iters = 1)
      AnnManifest.append(batch, idx, "delta_1")
      // crash AFTER writing the next generation but BEFORE the pointer
      // flip: gen_1 sits on disk complete but unreachable — readers still
      // resolve gen_0+delta, and the retried compaction sweeps the orphan
      // before rebuilding (never serving a generation it didn't commit)
      AnnManifest.compactionSteps(spark, idx, iters = 1).take(2)
        .foreach { case (_, run) => run() }
      assert(Files.exists(base.resolve("ivf").resolve("gen_1")), "orphan present")
      assert(StoredManifest.read(idx)._1 == "gen_0")
      AnnManifest.compact(spark, idx, iters = 0)
      assert(StoredManifest.read(idx)._1 == "gen_1")
      assert(probedIds(idx) == allIds,
        "the recommitted generation serves everything")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("time travel: a pinned generation serves bit-identically across compactions; unpin releases it to the sweep") {
    val base = Files.createTempDirectory("graft-pin")
    val idx = base.resolve("ivf").toString
    try {
      AnnManifest.init(standing, idx, iters = 1)
      AnnManifest.append(batch, idx, "delta_1")
      val q = Array(1.0, 0, 0, 0, 0, 0)
      val r0 = AnnManifest.probePinned(spark, idx, "gen_0", q, nprobe = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
      graft.StoredManifest.pin(idx, "gen_0")

      // two compactions: without the pin, the SECOND one's gc sweeps gen_0
      AnnManifest.compact(spark, idx, iters = 1)
      AnnManifest.compact(spark, idx, iters = 0)
      assert(StoredManifest.read(idx)._1 == "gen_2")
      assert(Files.exists(base.resolve("ivf").resolve("gen_0")),
        "a pinned generation must be sweep-exempt")
      val rPinned = AnnManifest.probePinned(spark, idx, "gen_0", q, nprobe = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
      assert(rPinned == r0,
        "the pinned generation must serve bit-identical results while the live pointer advances")

      graft.StoredManifest.unpin(idx, "gen_0")
      AnnManifest.compact(spark, idx, iters = 0)
      assert(!Files.exists(base.resolve("ivf").resolve("gen_0")),
        "an unpinned superseded generation is swept by the next gc")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("rollback: after a bad publish, re-pointing at the prior generation restores probe results bit-identically") {
    val base = Files.createTempDirectory("graft-rollback")
    val idx = base.resolve("ivf").toString
    try {
      AnnManifest.init(standing, idx, iters = 1)
      AnnManifest.append(batch, idx, "delta_1")
      val q = Array(1.0, 0, 0, 0, 0, 0)
      val before = AnnManifest.probe(spark, idx, q, nprobe = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq

      // the "bad publish": a compaction that (say) shipped broken
      // centroids — the generation is committed and live
      AnnManifest.compact(spark, idx, iters = 1)
      assert(StoredManifest.read(idx)._1 == "gen_1")

      AnnManifest.rollback(idx, "gen_0")
      assert(StoredManifest.read(idx) == (("gen_0", Seq("cells", "delta_1"))),
        "rollback must restore the generation with its full segment list")
      val after = AnnManifest.probe(spark, idx, q, nprobe = 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).sortBy(_._1).toSeq
      assert(after == before,
        "the restored generation must serve the prior results bit-identically")

      // the bad generation is now unreachable: the sweep (the next
      // compaction's gc step) collects it...
      graft.StoredManifest.sweepUnreachable(idx)
      assert(!Files.exists(base.resolve("ivf").resolve("gen_1")),
        "the rolled-back-over generation is unreachable and sweepable")
      // ...and the next compaction re-publishes gen_1 FRESH from the
      // restored state (generation names recycle; content does not)
      AnnManifest.compact(spark, idx, iters = 0)
      assert(StoredManifest.read(idx) == (("gen_1", Seq("cells"))))
      assert(probedIds(idx) == allIds)
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("x73 registry entry runs the full lifecycle once, then serves deterministically from the compacted manifest") {
    val got = SparkEntry.queries("x73_ann_ivf_manifest")(spark, sf001).collect()
    assert(got.length == 20)
    val ids = got.map(_.getLong(0)).toSet
    assert(ids.exists(_ >= 250), s"compacted base must serve former delta ids: $ids")
    val again = SparkEntry.queries("x73_ann_ivf_manifest")(spark, sf001).collect()
    assert(got.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq,
      "manifest probe must be deterministic across invocations")
  }
}
