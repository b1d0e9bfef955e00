package graft.streaming

import graft.{SegmentLog, SparkSpec, StoredManifest, Tables}
import org.apache.spark.sql.functions._

/** Streaming zone-index maintenance (ZoneIndexStream): after replaying
  * the documents table as arrival files, the manifest-served pruned
  * range read must equal the batch filter over the full table; stats
  * must be honest per file; compaction must bound live segments and
  * carry the absorbed-id watermark; and an already-absorbed batch id
  * must no-op (the exactly-once fold).
  */
class ZoneIndexStreamSpec extends SparkSpec {

  test("replayed arrivals serve correct pruned reads through the manifest") {
    val root = java.nio.file.Files.createTempDirectory("zone_stream").toString
    val (srcDir, idxDir, ckpt) = (s"$root/src", s"$root/idx", s"$root/ckpt")
    new java.io.File(srcDir).mkdirs()
    val docs = Tables(spark, sf001, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    // three chronologically-written arrival files, doc_id-residue split so
    // every batch's ranges OVERLAP (the realistic append regime)
    (0 until 3).foreach { r =>
      docs.where(pmod(col("doc_id"), lit(3)) === r)
        .coalesce(1).write.mode("overwrite").parquet(s"$srcDir/arrival_$r")
    }
    // the file source lists files, not dirs; re-lay as flat files
    val flat = s"$root/flat"; new java.io.File(flat).mkdirs()
    (0 until 3).foreach { r =>
      val part = new java.io.File(s"$srcDir/arrival_$r").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$flat/arrival_$r.parquet"))
    }
    val q = ZoneIndexStream.start(spark, flat, idxDir, ckpt, maxSegments = 2)
    q.awaitTermination()

    // compaction fired (3 batches > maxSegments 2): live = one base seg
    val (_, segs) = StoredManifest.read(idxDir)
    assert(segs.length <= 2, segs.toString)
    assert(segs.exists(_.startsWith("base_")), segs.toString)

    // stats honesty for every live segment file
    ZoneIndexStream.liveStats(spark, idxDir).collect().foreach { r =>
      val got = spark.read.parquet(r.getString(0)).agg(
        min(col("doc_id")), max(col("doc_id")), count(lit(1))).collect()(0)
      assert(got.getLong(0) == r.getLong(1) && got.getLong(1) == r.getLong(2)
        && got.getLong(2) == r.getLong(3))
    }

    // pruned read == naive filter, on a mid-corpus range
    val maxId = docs.agg(max(col("doc_id"))).collect()(0).getLong(0)
    val (lo, hi) = (maxId / 5, maxId / 2)
    val served = ZoneIndexStream.rangeRead(spark, idxDir, lo, hi)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val naive = docs.where(col("doc_id").between(lo, hi))
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(served == naive && served.nonEmpty)

    // exactly-once: re-delivering an absorbed batch id is a no-op (the
    // base watermark covers ids compaction erased)
    assert(SegmentLog.applied(idxDir, 0L))
    assert(SegmentLog.applied(idxDir, 2L))
    val before = ZoneIndexStream.rangeRead(spark, idxDir, 0, maxId).count()
    ZoneIndexStream.ingestBatch(
      docs.where(pmod(col("doc_id"), lit(3)) === 1), idxDir, 1L, 2)
    val after = ZoneIndexStream.rangeRead(spark, idxDir, 0, maxId).count()
    assert(before == after, "re-delivered batch must not duplicate rows")
    assert(after == docs.count())
  }
}
