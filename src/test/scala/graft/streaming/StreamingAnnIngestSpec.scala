package graft.streaming

import java.nio.file.Files

import graft.{SegmentLog, SparkSpec, StoredManifest}
import graft.queries.AnnManifest
import org.apache.spark.sql.DataFrame

/** The streaming ANN ingest loop's exactly-once claim, driven literally:
  * micro-batches land in the manifest-committed index through
  * `foreachBatch`, and every at-least-once re-delivery window — including
  * the one a compaction opens by erasing `batch_<id>` segment names — is
  * deduped by the segment-name watermark, with no state outside the
  * manifest's single atomic commit.
  */
class StreamingAnnIngestSpec extends SparkSpec {

  // 3 orthogonal clusters, 5 members each — ManifestAnnSpec's planted
  // corpus with int labels (the arrival schema's type)
  private def standing = {
    import spark.implicits._
    (for { c <- 0 until 3; j <- 0 until 5 } yield {
      val v = Array.fill(6)(0.0f)
      v(c) = 1.0f; v(3) = 0.01f * (j + 1)
      ((c * 10 + j).toLong, v, c)
    }).toDF("vec_id", "embedding", "label")
  }

  private def late = {
    import spark.implicits._
    Seq(
      (500L, Array(1.0f, 0f, 0f, 0.005f, 0f, 0f), 0),
      (501L, Array(0f, 1.0f, 0f, 0f, 0f, 0f), 1)).toDF("vec_id", "embedding", "label")
  }

  private val allIds =
    ((0 until 3).flatMap(c => (0 until 5).map(j => (c * 10 + j).toLong))
      ++ Seq(500L, 501L)).toSet

  private def probedIds(idx: String): Set[Long] =
    AnnManifest.probe(spark, idx, Array(1.0, 0, 0, 0, 0, 0), nprobe = 3)
      .collect().map(_.getLong(0)).toSet

  private def manifestLine(idx: String): String =
    new String(Files.readAllBytes(
      java.nio.file.Paths.get(idx, "MANIFEST")), "UTF-8")

  private def runStream(arrivals: String, idx: String, ckpt: String,
      maxSegments: Int): Unit =
    AnnIngestStream.start(spark, arrivals, idx, ckpt,
      iters = 1, maxSegments = maxSegments).awaitTermination()

  private def writeArrival(df: DataFrame, arrivals: String): Unit =
    df.coalesce(1).write.mode("append").parquet(arrivals)

  test("two arrival files ingest as bootstrap + delta; the probe serves both") {
    val base = Files.createTempDirectory("graft-annstream")
    val idx = base.resolve("idx").toString
    val arrivals = base.resolve("arrivals").toString
    writeArrival(standing, arrivals)
    writeArrival(late, arrivals)
    runStream(arrivals, idx, base.resolve("ckpt").toString, maxSegments = 4)
    assert(StoredManifest.read(idx) == (("gen_0", Seq("base_0", "batch_1"))),
      "batch 0 bootstraps generation 0; batch 1 lands as a named delta")
    assert(probedIds(idx) == allIds)
  }

  test("maxSegments=1 compacts inside the stream; the merged base carries the watermark") {
    val base = Files.createTempDirectory("graft-annstream")
    val idx = base.resolve("idx").toString
    val arrivals = base.resolve("arrivals").toString
    writeArrival(standing, arrivals)
    writeArrival(late, arrivals)
    runStream(arrivals, idx, base.resolve("ckpt").toString, maxSegments = 1)
    assert(StoredManifest.read(idx) == (("gen_1", Seq("base_1"))),
      "the in-loop compaction merged base_0 + batch_1 into generation 1")
    assert(probedIds(idx) == allIds, "nothing is lost across the in-loop compaction")
  }

  test("re-delivered batch ids no-op: by segment name before compaction, by watermark after") {
    val base = Files.createTempDirectory("graft-annstream")
    val idx = base.resolve("idx").toString
    val arrivals = base.resolve("arrivals").toString
    writeArrival(standing, arrivals)
    writeArrival(late, arrivals)
    runStream(arrivals, idx, base.resolve("ckpt").toString, maxSegments = 1)
    val committed = manifestLine(idx)

    // crash-after-commit re-delivery of batch 1: its batch_1 name is gone
    // (compacted away) but the base_1 watermark covers it
    assert(SegmentLog.applied(idx, 0) && SegmentLog.applied(idx, 1))
    AnnIngestStream.ingestBatch(late, idx, batchId = 1, iters = 1, maxSegments = 1)
    assert(manifestLine(idx) == committed, "re-delivered absorbed batch must not recommit")
    assert(probedIds(idx) == allIds, "and must not duplicate rows")

    // a genuinely NEW batch id is not covered by the watermark
    assert(!SegmentLog.applied(idx, 2))
    import org.apache.spark.sql.functions.{col, lit}
    AnnIngestStream.ingestBatch(
      late.select((col("vec_id") + lit(100L)).as("vec_id"),
        col("embedding"), col("label")),
      idx, batchId = 2, iters = 1, maxSegments = 4)
    assert(StoredManifest.read(idx) == (("gen_1", Seq("base_1", "batch_2"))))
    assert(probedIds(idx) == allIds ++ Set(600L, 601L))
  }

  test("an empty batch is a no-op and commits nothing") {
    val base = Files.createTempDirectory("graft-annstream")
    val idx = base.resolve("idx").toString
    AnnIngestStream.ingestBatch(standing.limit(0), idx, batchId = 0,
      iters = 1, maxSegments = 4)
    assert(!StoredManifest.exists(idx), "no manifest may appear for an empty bootstrap")
  }
}
