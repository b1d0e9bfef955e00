package graft.queries

import java.nio.file.Files

import graft.{SparkEntry, SparkSpec, StoredManifest, Tables}
import org.apache.spark.sql.functions._

/** The deletion lifecycle on the manifest-committed IVF index (x108):
  * committed tombstones subtract from every probe at once, retried tags
  * are no-ops, compaction folds the tombstones into a physical rewrite,
  * and no crash point can publish a half-delete.
  */
class DeleteAnnSpec extends SparkSpec {

  private def qvecOf(id: Long) = Tables(spark, sf001, "embeddings")
    .where(col("vec_id") === id)
    .select(col("embedding").cast("array<double>"))
    .head().getSeq[Double](0).toArray

  test("delete lifecycle: logical subtract on probe, idempotent tag, physical fold at compaction") {
    val base = Files.createTempDirectory("graft-ivfdel")
    val idx = base.resolve("ivf").toString
    try {
      val e = Tables(spark, sf001, "embeddings")
      AnnManifest.init(e, idx, iters = 2)
      val qvec = qvecOf(1L)
      val before = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      assert(before.nonEmpty)

      // delete every id ≡ 0 (mod 7) — results lose exactly those ids and
      // nothing else (the survivors' scores are untouched: same cells,
      // same kernel)
      import spark.implicits._
      val deleted = before.filter(_ % 7 == 0)
      assert(deleted.nonEmpty, "planted delete set must intersect the probe")
      AnnManifest.delete(
        e.where(col("vec_id") % 7 === 0).select(col("vec_id")), idx, "mod7")
      val after = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      assert(after == before.filterNot(_ % 7 == 0),
        s"probe must subtract exactly the tombstoned ids: ${after.size} vs ${before.size}")

      // retried tag is a committed-segment no-op; a different tag composes
      AnnManifest.delete(Seq(999999L).toDF("vec_id"), idx, "mod7")
      assert(StoredManifest.read(idx)._2.count(_ == "tomb_mod7") == 1,
        "retrying a committed tag must not duplicate or overwrite it")
      AnnManifest.delete(Seq(3L).toDF("vec_id"), idx, "extra")
      val afterExtra = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      assert(afterExtra == after - 3L, "tombstone segments must compose")

      // compaction: physical delete — next generation has NO tombstone
      // segments, the dropped ids are gone from the cells themselves, and
      // the probe result is unchanged
      AnnManifest.compact(spark, idx, iters = 0)
      val (gen, segments) = StoredManifest.read(idx)
      assert(!segments.exists(_.startsWith("tomb_")),
        s"compacted generation must be tombstone-free: $segments")
      val cellsIds = spark.read.parquet(s"$idx/$gen/cells")
        .select("vec_id").collect().map(_.getLong(0)).toSet
      assert(cellsIds.forall(id => id % 7 != 0 && id != 3L),
        "compaction must drop tombstoned rows physically")
      assert(cellsIds.size == e.count() - e.where(col("vec_id") % 7 === 0).count() - 1,
        "compaction keeps every non-deleted vector")
      val afterCompact = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      assert(afterCompact == afterExtra,
        "physical rewrite must serve the same results as the logical form")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("a crash before the tombstone commit leaves the delete invisible") {
    val base = Files.createTempDirectory("graft-ivfdelcrash")
    val idx = base.resolve("ivf").toString
    try {
      val e = Tables(spark, sf001, "embeddings")
      AnnManifest.init(e, idx, iters = 1)
      val qvec = qvecOf(1L)
      val before = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      // simulate the crash window: segment fully written, manifest never
      // updated — exactly what a kill between the two steps leaves behind
      import spark.implicits._
      val (gen, segments) = StoredManifest.read(idx)
      Seq(1L, 2L, 3L).toDF("vec_id").coalesce(1)
        .write.mode("overwrite").parquet(s"$idx/$gen/tomb_orphan")
      assert(StoredManifest.read(idx)._2 == segments,
        "the orphan segment must not be manifest-visible")
      val after = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      assert(after == before, "an uncommitted tombstone must not affect probes")
      // the retried delete commits atop the orphan and then takes effect
      AnnManifest.delete(Seq(1L, 2L, 3L).toDF("vec_id"), idx, "orphan")
      val committed = AnnManifest.probe(spark, idx, qvec, nprobe = 6)
        .collect().map(_.getLong(0)).toSet
      assert(committed == before -- Set(1L, 2L, 3L))
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }

  test("x108 registry entry serves the tombstone-subtracted top-20 deterministically") {
    val got = SparkEntry.queries("x108_ann_delete")(spark, sf001).collect()
    assert(got.length == 20)
    val ids = got.map(_.getLong(0))
    assert(!ids.contains(1L), "query vector excluded")
    assert(ids.forall(_ % 7 != 0), s"tombstoned ids must never serve: ${ids.toSeq}")
    val again = SparkEntry.queries("x108_ann_delete")(spark, sf001)
      .collect().map(_.getLong(0))
    assert(ids.toSeq == again.toSeq, "delete-aware serving must be deterministic")
  }
}
