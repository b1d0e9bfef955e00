package graft.streaming

import graft.{Checkpoints, SegmentLog, StoredManifest}
import graft.queries.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Streaming EXACT near-dup gate — x227's incremental prefix-filter join
  * run as a Structured Streaming ingest loop: document batches arrive as
  * files, every micro-batch (1) probes the standing prefix-posting index
  * and emits its verified >= 0.8-Jaccard pairs, then (2) appends its own
  * sets and prefix postings so FUTURE batches dedup against it. This is
  * the continuous form of production corpus dedup (today's crawl vs
  * everything ingested so far), with the lossless guarantee the streaming
  * LSH variant (StreamingIncrementalLsh) deliberately trades away.
  *
  * Losslessness under growth — the FROZEN-ORDER rule: prefix filtering
  * only requires that the two docs of a pair pick their prefixes under
  * the SAME total order of the shingle vocabulary; rarest-first is just
  * the performance choice. A df table that shifted with every batch would
  * re-rank the prefixes of ALREADY-INDEXED docs and void the guarantee,
  * so the bootstrap's (df, shingle) order is frozen at generation 0 and
  * every later prefix — appended or probing — is selected under it
  * (unseen shingles default df = 0: they sort first, deterministically,
  * and cannot collide with any standing posting regardless). The trade:
  * prefix LENGTHS stay exact (they depend only on the doc), only the
  * rarest-first OPTIMALITY decays as the true dfs drift — a re-bootstrap
  * into a fresh index restores it, exactly like an ANN re-train.
  *
  * The index is a [[graft.SegmentLog]]: the standing corpus is its first
  * segment, each batch adds one segment of `sets` and `prefix`, and a
  * compaction unions the live segments into one base, so a probe reads a
  * bounded number of segments. `df/`, the frozen order, sits outside the
  * log and is written once. A batch writes its pairs before its segment,
  * so a crash between the two re-probes the same standing side; replay
  * and every other crash point are the log's.
  *
  * Scale shape: per cycle the batch pays its own shingling plus one
  * posting equi-join against standing prefixes — standing TEXT is never
  * re-read, and the shuffle carries (shingle, id, n) postings only.
  */
object DedupIngestStream {

  /** Arrival-file schema (a file stream source needs it declared). */
  val arrivalSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Live segments before a compaction: the other ingest streams' default. */
  private val MaxSegments = 4

  /** The stream id the standing corpus lands under: below every batch's. */
  private val BootstrapId = -1L

  /** Index the standing corpus and FREEZE its (df, shingle) prefix order:
    * `df/` (the frozen order) and the log's first segment.
    */
  def bootstrap(standing: DataFrame, indexDir: String): Unit =
    SegmentLog.ingest(indexDir, BootstrapId, MaxSegments) { (genDir, seg) =>
      Dedup.buildAllPairsIndex(standing, s"$indexDir/df",
        s"$genDir/$seg/sets", s"$genDir/$seg/prefix")
    }(merge(standing.sparkSession))

  /** The standing side, (sets, prefix), under one manifest resolve. */
  def standing(s: SparkSession, indexDir: String): (DataFrame, DataFrame) = {
    val (gen, segments) = StoredManifest.read(indexDir)
    def table(t: String) = s.read.parquet(segments.map(seg => s"$indexDir/$gen/$seg/$t"): _*)
    // array_compact: parquet read-back loses containsNull=false (the x66
    // note) — a semantic no-op that restores JaccardLongs' contract
    (table("sets").select(col("doc_id"), array_compact(col("sh")).as("sh"), col("n")),
      table("prefix").select(col("s"), col("doc_id"), col("n")))
  }

  /** One ingest cycle: probe, emit pairs, append the batch as a segment. */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
      batchId: Long): Unit = {
    val s = batch.sparkSession
    SegmentLog.ingest(indexDir, batchId, MaxSegments) { (genDir, seg) =>
      Checkpoints.scoped { release =>
        val bsets = release(Dedup.shingleSets(batch).localCheckpoint(true))
        val bpost = bsets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
        val bprefix = release(Dedup.prefixPostings(bpost, s.read.parquet(s"$indexDir/df"))
          .localCheckpoint(true))
        val (standSets, standPrefix) = standing(s, indexDir)
        Dedup.probeJoin(bsets, bprefix, standSets, standPrefix)
          .write.mode("overwrite").parquet(s"$pairsDir/seg=batch_$batchId")
        bprefix.write.parquet(s"$genDir/$seg/prefix")
        bsets.write.parquet(s"$genDir/$seg/sets")
      }
    }(merge(s))
  }

  /** Compaction: each table's live segments unioned into the base, at
    * most one file per core, so the base's file count stays bounded
    * however many compactions it absorbs.
    */
  private def merge(s: SparkSession): SegmentLog.Merge =
    (genDir, segments, nextDir, base) =>
      Seq("sets", "prefix").foreach { t =>
        s.read.parquet(segments.map(seg => s"$genDir/$seg/$t"): _*)
          .coalesce(s.sparkContext.defaultParallelism)
          .write.parquet(s"$nextDir/$base/$t")
      }

  /** Watch `sourceDir` for document parquet arrivals; each micro-batch
    * probes-then-joins the standing index at `indexDir` and emits its
    * near-dup pairs under `pairsDir`. Bootstrap must have run first.
    */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      pairsDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("dedup-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, pairsDir, batchId)
    }
}
