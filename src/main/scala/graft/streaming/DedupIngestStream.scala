package graft.streaming

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
  * (new generation) restores it, exactly like an ANN re-train.
  *
  * Exactly-once without a ledger (the ConstraintGateStream discipline):
  * all three writes of a cycle land in `seg=batch_<id>` subdirectories
  * with per-path overwrite. Pairs are written BEFORE the batch's own
  * segments, so every crash point replays deterministically — pairs
  * recompute against the same standing segments (the batch's own are not
  * yet visible), and a fully-applied batch is detected by its sets
  * segment and skipped whole, closing the window where a re-delivery
  * after LATER appends would otherwise see a larger standing side.
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

  /** Index the standing corpus and FREEZE its (df, shingle) prefix order
    * as generation 0: `df/` (the frozen order), `sets/seg=base`,
    * `prefix/seg=base`.
    */
  def bootstrap(standing: DataFrame, indexDir: String): Unit =
    Dedup.buildAllPairsIndex(standing, s"$indexDir/df",
      s"$indexDir/sets/seg=base", s"$indexDir/prefix/seg=base")

  /** True iff `batchId` is fully applied: its sets segment (the LAST
    * write of a cycle) is committed.
    */
  def applied(indexDir: String, batchId: Long): Boolean =
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$indexDir/sets/seg=batch_$batchId/_SUCCESS"))

  /** One ingest cycle: probe, emit pairs, append. Idempotent under
    * at-least-once re-delivery (see the class doc's crash-point walk).
    */
  def ingestBatch(batch: DataFrame, indexDir: String, pairsDir: String,
      batchId: Long): Unit = {
    if (applied(indexDir, batchId)) return
    // replay hygiene: a crash mid-commit can leave part files without
    // _SUCCESS; partition discovery would hand a partially-visible sets
    // segment to the probe and emit self-pairs — drop any partial
    // segment of THIS batch before recomputing (a fully-committed prefix
    // segment is harmless: self-candidates die in the verify join)
    Seq(s"$indexDir/sets/seg=batch_$batchId",
      s"$indexDir/prefix/seg=batch_$batchId",
      s"$pairsDir/seg=batch_$batchId")
      .foreach(graft.queries.Lakehouse.dropPartialSegment)
    val s = batch.sparkSession
    val bsets = Dedup.shingleSets(batch).localCheckpoint(true)
    val frozenDf = s.read.parquet(s"$indexDir/df")
    val bpost = bsets.select(col("doc_id"), col("n"), explode(col("sh")).as("s"))
    val bprefix = Dedup.prefixPostings(bpost, frozenDf).localCheckpoint(true)
    val standSets = s.read.parquet(s"$indexDir/sets")
      .select(col("doc_id"), array_compact(col("sh")).as("sh"), col("n"))
    val standPrefix = s.read.parquet(s"$indexDir/prefix")
      .select(col("s"), col("doc_id"), col("n"))
    Dedup.probeJoin(bsets, bprefix, standSets, standPrefix)
      .write.mode("overwrite").parquet(s"$pairsDir/seg=batch_$batchId")
    // the batch becomes standing AFTER its pairs are out: a replay that
    // died between these writes re-probes the identical standing side
    bprefix.write.mode("overwrite")
      .parquet(s"$indexDir/prefix/seg=batch_$batchId")
    bsets.write.mode("overwrite")
      .parquet(s"$indexDir/sets/seg=batch_$batchId")
  }

  /** Watch `sourceDir` for document parquet arrivals; each micro-batch
    * probes-then-joins the standing index at `indexDir` and emits its
    * near-dup pairs under `pairsDir`. Bootstrap must have run first.
    */
  def start(spark: SparkSession, sourceDir: String, indexDir: String,
      pairsDir: String, checkpointDir: String, maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    Streams.foldBatches("dedup-ingest", checkpointDir, trigger,
      spark.readStream
        .schema(arrivalSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(sourceDir)) { (batch, batchId) =>
      ingestBatch(batch, indexDir, pairsDir, batchId)
    }
}
