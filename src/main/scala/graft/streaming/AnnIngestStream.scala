package graft.streaming

import graft.queries.{AnnManifest, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StructField, StructType}

/** Streaming ingest into the manifest-committed ANN index — the write side
  * of the serving story run as a Structured Streaming loop: embedding
  * batches arrive as files, every micro-batch lands in the stored IVF
  * index through [[AnnManifest]]'s atomic pointer commit, and delta
  * accumulation is bounded by in-loop compaction. Probes
  * ([[AnnManifest.probe]] and the batch/PQ variants) serve concurrently
  * through the manifest and are never exposed to a half-applied batch.
  *
  * At-least-once `foreachBatch` is made exactly-once by folding the dedup
  * state into the segment names the manifest already commits atomically —
  * no side ledger whose update could race the index commit:
  *   - an appended batch lands as segment `batch_<id>`; a re-delivered id
  *     finds its name in the live manifest and no-ops
  *     ([[AnnManifest.append]]'s contract);
  *   - the bootstrap batch becomes generation 0 with base segment
  *     `base_<id>`;
  *   - compaction merges the live segments into a generation whose single
  *     segment is `base_<maxAbsorbedId>` — a WATERMARK: stream batch ids
  *     are monotonic, so any id at or below it is known-absorbed even
  *     though compaction erased its `batch_<id>` name. This closes the
  *     re-delivery-across-compaction window an id-per-segment scheme alone
  *     would leave (append batch k, compact, crash before checkpoint:
  *     the re-delivered k must NOT append again).
  * Every crash point therefore lands in one of three states: nothing
  * committed (redo), manifest committed + checkpoint missing (re-delivery
  * no-ops via name or watermark), or both committed (normal). Single
  * WRITER: the one streaming query — its `foreachBatch` invocations are
  * serialized by Structured Streaming, which is exactly the manifest's
  * single-writer requirement.
  *
  * Scale shape: per cycle the batch pays one narrow argmin against the
  * k×dim stored centroids and one cluster-partitioned delta write —
  * standing corpus never rescanned; compaction cost is amortized over
  * `maxSegments` cycles and warm-starts Lloyd from the serving centroids.
  * This is the continuous-indexing layout (stream → delta segments →
  * background merge) of every production vector store, with the
  * Iceberg-style manifest commit supplying reader isolation.
  */
object AnnIngestStream {

  /** Arrival-file schema (a file stream source needs it declared). */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Watch `sourceDir` for embedding parquet arrivals and ingest each
    * micro-batch into the manifest-committed index at `indexDir`.
    * `maxFilesPerTrigger = 1` keeps micro-batches file-sized — the
    * ingest-cycle granularity the delta layout is designed for.
    */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      checkpointDir: String, iters: Int = 2, maxSegments: Int = 4,
      maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("ann-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, batchId, iters, maxSegments)
    }

  /** True iff `batchId` is already absorbed by the live generation —
    * either its `batch_<id>` segment survives, or the base watermark
    * (monotonic stream ids) covers it.
    */
  def applied(indexDir: String, batchId: Long): Boolean =
    AnnManifest.exists(indexDir) &&
      AnnManifest.readManifest(indexDir)._2.exists { seg =>
        seg == s"batch_$batchId" ||
          (seg.startsWith("base_") && seg.stripPrefix("base_").toLong >= batchId)
      }

  /** One ingest cycle: bootstrap or delta-append the batch (idempotent per
    * the scaladoc's naming scheme), then compact if the live generation
    * has grown past `maxSegments` segments.
    */
  def ingestBatch(batch: DataFrame, indexDir: String, batchId: Long,
      iters: Int, maxSegments: Int): Unit = {
    if (applied(indexDir, batchId) || batch.isEmpty) return
    if (!AnnManifest.exists(indexDir)) {
      // bootstrap: generation 0 IS the first batch, trained in place; the
      // base segment is renamed to carry the batch id BEFORE the manifest
      // commit, so the publish is still one atomic flip
      Similarity.writeIvfIndex(batch, s"$indexDir/gen_0", iters)
      val g0 = java.nio.file.Paths.get(indexDir, "gen_0")
      java.nio.file.Files.move(g0.resolve("cells"), g0.resolve(s"base_$batchId"))
      AnnManifest.writeManifest(indexDir, "gen_0", Seq(s"base_$batchId"))
    } else {
      AnnManifest.append(batch, indexDir, s"batch_$batchId")
    }
    maybeCompact(batch.sparkSession, indexDir, iters, maxSegments)
  }

  /** Bound delta accumulation: when the live generation holds more than
    * `maxSegments` segments, merge them into the next generation whose
    * base name records the highest absorbed batch id. Idempotent under
    * re-delivery: a retried cycle whose append no-opped re-reads the
    * manifest, and a completed compaction has already shrunk the segment
    * list below the bound.
    */
  def maybeCompact(s: SparkSession, indexDir: String, iters: Int,
      maxSegments: Int): Unit = {
    val (_, segments) = AnnManifest.readManifest(indexDir)
    if (segments.length > maxSegments) {
      val watermark = segments.map { seg =>
        seg.stripPrefix("batch_").stripPrefix("base_").toLong
      }.max
      AnnManifest.compact(s, indexDir, iters, s"base_$watermark")
    }
  }
}
