package graft.queries

import graft.{Checkpoints, StoredManifest}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-pointer commit protocol for the stored IVF index: no probe
  * can pair one generation's cells with another's centroids, at any crash
  * point or at any instant of a concurrent compaction.
  *
  * Layout: the index root holds immutable GENERATION directories plus one
  * `MANIFEST` file naming the live generation and its segment list:
  *
  * {{{
  *   indexDir/
  *     MANIFEST            # "gen_0|cells,delta_1"  (single line)
  *     gen_0/centroids/  gen_0/cells/  gen_0/delta_1/
  * }}}
  *
  * Every reader resolves paths through the manifest; every writer builds
  * its output COMPLETELY under a new path and then publishes it with ONE
  * atomic manifest replace ([[graft.StoredManifest.write]]). No crash
  * point can publish an incomplete generation:
  *   - append: the delta directory is fully written (parquet `_SUCCESS`)
  *     before the manifest adds it; a crash before the commit leaves an
  *     orphan directory readers never resolve.
  *   - compaction: the ENTIRE next generation (cells + centroids) exists
  *     before the manifest flips to it; the superseded generation is NOT
  *     deleted at the flip — it stays on disk until the NEXT compaction's
  *     gc sweeps unreachable generations, so a reader that resolved the
  *     manifest just before the flip gets a full cycle to finish its read.
  *
  * On a cluster the same protocol holds with the manifest as an
  * atomically-replaced object (rename on HDFS, put-if-match on S3) — the
  * standard table-format commit (Iceberg/Delta do exactly this at file
  * granularity). Single-writer is still assumed for WRITERS (two
  * concurrent compactions would race the pointer); readers are safe at
  * any point. ManifestAnnSpec drives the crash windows: it stops
  * compaction after every step prefix and proves a probe always serves
  * one complete generation.
  */
object AnnManifest {

  /** Build generation 0 and publish it. */
  def init(e: DataFrame, indexDir: String, iters: Int): Unit = {
    Similarity.writeIvfIndex(e, s"$indexDir/gen_0", iters)
    StoredManifest.write(indexDir, "gen_0", Seq("cells"))
  }

  /** Append a batch as a delta segment of the LIVE generation: the segment
    * directory is complete before the manifest commit adds it. A segment
    * the manifest ALREADY names is committed and reader-visible, hence
    * immutable — a retried append with the same name is a no-op, never an
    * in-place overwrite of live data (the overwrite is safe only in the
    * crash-before-commit case, where the orphan directory is unreachable).
    */
  def append(batch: DataFrame, indexDir: String, segment: String): Unit = {
    val (gen, segments) = StoredManifest.read(indexDir)
    if (segments.contains(segment)) return
    Similarity.appendIvfDelta(batch, s"$indexDir/$gen", segment)
    StoredManifest.write(indexDir, gen, segments :+ segment)
  }

  /** Tombstone segment prefix: a segment named `tomb_*` holds deleted
    * vec_ids (one `vec_id` column), not vectors. Probes subtract them;
    * compaction drops the rows physically and starts the next generation
    * tombstone-free — the FAISS `remove_ids` / Milvus delete lifecycle
    * under the same commit protocol as appends.
    */
  private val TombPrefix = "tomb_"

  private def splitSegments(segments: Seq[String]): (Seq[String], Seq[String]) =
    segments.partition(!_.startsWith(TombPrefix))

  /** Delete a set of vec_ids from the LIVE generation: the tombstone
    * segment is complete on disk before the manifest commit names it —
    * the exact crash-safety story of [[append]], and the same idempotency
    * (a committed tombstone segment is immutable; retrying the tag is a
    * no-op). Deletion cost is O(deleted ids) at delete time; the vectors
    * stay on disk until the next compaction rewrites the cells without
    * them (logical-then-physical, the standard LSM/table-format shape).
    */
  def delete(ids: DataFrame, indexDir: String, tag: String): Unit = {
    require(!tag.startsWith(TombPrefix), s"pass the bare tag, not $TombPrefix$tag")
    val segment = s"$TombPrefix$tag"
    val (gen, segments) = StoredManifest.read(indexDir)
    if (segments.contains(segment)) return
    import org.apache.spark.sql.functions.col
    ids.select(col(ids.columns.head).cast("long").as("vec_id")).distinct()
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/$gen/$segment")
    StoredManifest.write(indexDir, gen, segments :+ segment)
  }

  /** Deleted-id frame for an ALREADY-RESOLVED (generation, tombstone
    * segments) pair. Taking the resolved pair instead of re-reading the
    * manifest is what keeps [[probe]] single-snapshot: hits and the
    * anti-join side must come from the SAME generation, or a compaction
    * committing between two manifest reads could pair old-generation data
    * (still holding logically-deleted rows) with the new generation's
    * empty tombstone set and resurface deleted ids.
    */
  private def tombstonesOf(s: SparkSession, genDir: String,
      tombs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (tombs.isEmpty)
      s.range(0).select(col("id").as("vec_id"))
    else tombs.map(t => s.read.parquet(s"$genDir/$t"))
      .reduce(_ unionAll _).distinct()
  }

  /** The live generation's deleted-id set (empty frame if none). */
  def tombstones(s: SparkSession, indexDir: String): DataFrame = {
    val (gen, segments) = StoredManifest.read(indexDir)
    val (_, tombs) = splitSegments(segments)
    tombstonesOf(s, s"$indexDir/$gen", tombs)
  }

  /** Probe through the manifest — always one complete generation, minus
    * committed tombstones (broadcast anti join: the deleted-id set is
    * deletion-sized, never corpus-sized — compaction folds it away before
    * it could grow). The manifest is resolved ONCE; both the hit scan and
    * the tombstone anti-join are built from that single snapshot.
    */
  def probe(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int): DataFrame =
    probeResolved(s, indexDir, StoredManifest.read(indexDir), qvec, nprobe)

  /** TIME-TRAVEL probe: serve a PINNED (or still-retained) generation
    * exactly as its snapshot recorded it, while the live pointer is free
    * to advance — `VERSION AS OF` for the index. Pair with
    * [[graft.StoredManifest.pin]] to make the generation sweep-exempt
    * for as long as the pin holds; ManifestAnnSpec pins bit-identical
    * service across subsequent compactions.
    */
  def probePinned(s: SparkSession, indexDir: String, gen: String,
      qvec: Array[Double], nprobe: Int): DataFrame =
    probeResolved(s, indexDir, StoredManifest.readGen(indexDir, gen),
      qvec, nprobe)

  private def probeResolved(s: SparkSession, indexDir: String,
      resolved: (String, Seq[String]), qvec: Array[Double],
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (gen, segments) = resolved
    val (data, tombs) = splitSegments(segments)
    val hits = Similarity.probeStoredIvf(s, s"$indexDir/$gen", qvec, nprobe, data)
    if (tombs.isEmpty) hits
    else hits.join(broadcast(tombstonesOf(s, s"$indexDir/$gen", tombs)),
      Seq("vec_id"), "left_anti")
  }

  /** Re-point the live manifest at a prior generation ([[graft.StoredManifest.rollback]])
    * — the move after a bad publish. The next probe serves the restored
    * generation bit-identically; the bad generation becomes unreachable
    * and the next compaction's gc collects it.
    */
  def rollback(indexDir: String, gen: String): Unit =
    StoredManifest.rollback(indexDir, gen)

  /** Compaction as an explicit step list so the crash-window spec can stop
    * after any prefix; [[compact]] runs them all. Steps:
    *   1. gc: delete generation dirs the manifest does not name
    *      ([[graft.StoredManifest.sweepUnreachable]]) — garbage from a
    *      previous interrupted compaction AND the generation the previous
    *      compaction superseded, both unreachable. Sweeping HERE rather
    *      than right after a flip gives a reader that resolved the
    *      manifest just before that flip one full compaction cycle to
    *      finish its read — there is no drop-right-after-commit step for
    *      exactly that reason;
    *   2. write-next-gen: [[mergeGeneration]] into a COMPLETE next
    *      generation;
    *   3. commit-manifest: one atomic pointer flip to the next generation
    *      (the superseded generation stays on disk until the next gc).
    */
  def compactionSteps(s: SparkSession, indexDir: String,
      iters: Int): Seq[(String, () => Unit)] = {
    val (gen, segments) = StoredManifest.read(indexDir)
    val next = StoredManifest.successor(gen)
    Seq(
      "gc" -> { () => StoredManifest.sweepUnreachable(indexDir) },
      "write-next-gen" -> { () =>
        mergeGeneration(s, s"$indexDir/$gen", segments, iters,
          s"$indexDir/$next", "cells")
      },
      "commit-manifest" -> { () => StoredManifest.write(indexDir, next, Seq("cells")) })
  }

  /** Merge one resolved generation (`genDir` and its `segments`) into a
    * complete generation at `nextDir`: segment `base` holds the re-assigned
    * cells, `centroids` the coarse quantizer re-refined warm-started from
    * the generation's own. Physical delete: only DATA segments merge, minus
    * the generation's committed tombstones, so the next generation starts
    * tombstone-free. [[compactionSteps]] and
    * [[graft.streaming.AnnIngestStream]]'s compaction both write with it.
    */
  private[graft] def mergeGeneration(s: SparkSession, genDir: String,
      segments: Seq[String], iters: Int, nextDir: String, base: String): Unit = {
    import org.apache.spark.sql.functions.{broadcast, col}
    val (dataSegs, tombSegs) = splitSegments(segments)
    val merged = dataSegs.map(seg =>
        s.read.parquet(s"$genDir/$seg").select(col("vec_id"), col("embedding")))
      .reduce(_ unionAll _)
    Checkpoints.scoped { release =>
      val all = release((if (tombSegs.isEmpty) merged
        else merged.join(broadcast(tombstonesOf(s, genDir, tombSegs)),
          Seq("vec_id"), "left_anti"))
        .localCheckpoint(true))
      Similarity.writeRecelled(all, Similarity.readIvfCentroids(s, genDir),
        iters, s"$nextDir/$base", s"$nextDir/centroids")
    }
  }

  /** Merge the live generation's segments into the next one and flip the
    * manifest pointer — delta accumulation bounded, readers safe at every
    * instant.
    */
  def compact(s: SparkSession, indexDir: String, iters: Int): Unit =
    compactionSteps(s, indexDir, iters).foreach { case (_, step) => step() }
}
