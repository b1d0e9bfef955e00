package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Manifest-pointer commit protocol for the stored IVF index — the fix for
  * [[Similarity.compactIvfIndex]]'s documented crash window (cells swap
  * before centroids, so a concurrent probe between the two renames could
  * pair NEW cells with OLD centroids).
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
  * atomic manifest replace (write `MANIFEST.tmp`, `ATOMIC_MOVE` over
  * `MANIFEST`). No crash point can publish an incomplete generation:
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
  * concurrent compactions would race the pointer); readers are now safe
  * at any point, which is what the non-manifest layout could not give.
  * ManifestAnnSpec drives the crash windows: it stops compaction after
  * every step prefix and proves a probe always serves one complete
  * generation.
  */
object AnnManifest {

  /** Atomically publish (generation, segments) — [[graft.StoredManifest]],
    * which this index shares with every other generation-directory
    * artifact (e.g. the streaming dashboard).
    */
  def writeManifest(indexDir: String, gen: String, segments: Seq[String]): Unit =
    graft.StoredManifest.write(indexDir, gen, segments)

  /** The live (generation, segments) — what every read path resolves. */
  def readManifest(indexDir: String): (String, Seq[String]) =
    graft.StoredManifest.read(indexDir)

  def exists(indexDir: String): Boolean = graft.StoredManifest.exists(indexDir)

  /** Build generation 0 and publish it. */
  def init(e: DataFrame, indexDir: String, iters: Int): Unit = {
    Similarity.writeIvfIndex(e, s"$indexDir/gen_0", iters)
    writeManifest(indexDir, "gen_0", Seq("cells"))
  }

  /** Append a batch as a delta segment of the LIVE generation: the segment
    * directory is complete before the manifest commit adds it. A segment
    * the manifest ALREADY names is committed and reader-visible, hence
    * immutable — a retried append with the same name is a no-op, never an
    * in-place overwrite of live data (the overwrite is safe only in the
    * crash-before-commit case, where the orphan directory is unreachable).
    */
  def append(batch: DataFrame, indexDir: String, segment: String): Unit = {
    val (gen, segments) = readManifest(indexDir)
    if (segments.contains(segment)) return
    Similarity.appendIvfDelta(batch, s"$indexDir/$gen", segment)
    writeManifest(indexDir, gen, segments :+ segment)
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
    val (gen, segments) = readManifest(indexDir)
    if (segments.contains(segment)) return
    import org.apache.spark.sql.functions.col
    ids.select(col(ids.columns.head).cast("long").as("vec_id")).distinct()
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$indexDir/$gen/$segment")
    writeManifest(indexDir, gen, segments :+ segment)
  }

  /** Deleted-id frame for an ALREADY-RESOLVED (generation, tombstone
    * segments) pair. Taking the resolved pair instead of re-reading the
    * manifest is what keeps [[probe]] single-snapshot: hits and the
    * anti-join side must come from the SAME generation, or a compaction
    * committing between two manifest reads could pair old-generation data
    * (still holding logically-deleted rows) with the new generation's
    * empty tombstone set and resurface deleted ids.
    */
  private def tombstonesOf(s: SparkSession, indexDir: String, gen: String,
      tombs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (tombs.isEmpty)
      s.range(0).select(col("id").as("vec_id"))
    else tombs.map(t => s.read.parquet(s"$indexDir/$gen/$t"))
      .reduce(_ unionAll _).distinct()
  }

  /** The live generation's deleted-id set (empty frame if none). */
  def tombstones(s: SparkSession, indexDir: String): DataFrame = {
    val (gen, segments) = readManifest(indexDir)
    val (_, tombs) = splitSegments(segments)
    tombstonesOf(s, indexDir, gen, tombs)
  }

  /** Probe through the manifest — always one complete generation, minus
    * committed tombstones (broadcast anti join: the deleted-id set is
    * deletion-sized, never corpus-sized — compaction folds it away before
    * it could grow). The manifest is resolved ONCE; both the hit scan and
    * the tombstone anti-join are built from that single snapshot.
    */
  def probe(s: SparkSession, indexDir: String, qvec: Array[Double],
      nprobe: Int): DataFrame =
    probeResolved(s, indexDir, readManifest(indexDir), qvec, nprobe)

  /** TIME-TRAVEL probe: serve a PINNED (or still-retained) generation
    * exactly as its snapshot recorded it, while the live pointer is free
    * to advance — `VERSION AS OF` for the index. Pair with
    * [[graft.StoredManifest.pin]] to make the generation sweep-exempt
    * for as long as the pin holds; ManifestAnnSpec pins bit-identical
    * service across subsequent compactions.
    */
  def probePinned(s: SparkSession, indexDir: String, gen: String,
      qvec: Array[Double], nprobe: Int): DataFrame =
    probeResolved(s, indexDir, graft.StoredManifest.readGen(indexDir, gen),
      qvec, nprobe)

  private def probeResolved(s: SparkSession, indexDir: String,
      resolved: (String, Seq[String]), qvec: Array[Double],
      nprobe: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (gen, segments) = resolved
    val (data, tombs) = splitSegments(segments)
    val hits = Similarity.probeStoredIvf(s, s"$indexDir/$gen", qvec, nprobe, data)
    if (tombs.isEmpty) hits
    else hits.join(broadcast(tombstonesOf(s, indexDir, gen, tombs)),
      Seq("vec_id"), "left_anti")
  }

  /** Re-point the live manifest at a prior generation ([[graft.StoredManifest.rollback]])
    * — the move after a bad publish. The next probe serves the restored
    * generation bit-identically; the bad generation becomes unreachable
    * and the next compaction's gc collects it.
    */
  def rollback(indexDir: String, gen: String): Unit =
    graft.StoredManifest.rollback(indexDir, gen)

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
    *   2. write-next-gen: merge the live segments into a COMPLETE next
    *      generation (re-assigned cells + refreshed centroids), warm-
    *      started from the live centroids;
    *   3. commit-manifest: one atomic pointer flip to the next generation
    *      (the superseded generation stays on disk until the next gc).
    */
  def compactionSteps(s: SparkSession, indexDir: String,
      iters: Int, baseSegment: String = "cells"): Seq[(String, () => Unit)] = {
    import org.apache.spark.sql.functions.col
    val (gen, segments) = readManifest(indexDir)
    val genNum = gen.stripPrefix("gen_").toInt
    val next = s"gen_${genNum + 1}"
    Seq(
      "gc" -> { () => graft.StoredManifest.sweepUnreachable(indexDir) },
      "write-next-gen" -> { () =>
        // physical delete: merge only DATA segments, subtract committed
        // tombstones — the next generation starts tombstone-free
        val (dataSegs, tombSegs) = splitSegments(segments)
        val merged = dataSegs.map(seg =>
            s.read.parquet(s"$indexDir/$gen/$seg")
              .select(col("vec_id"), col("embedding")))
          .reduce(_ unionAll _)
        val all = (if (tombSegs.isEmpty) merged
          else merged.join(
            org.apache.spark.sql.functions.broadcast(tombstones(s, indexDir)),
            Seq("vec_id"), "left_anti"))
          .localCheckpoint(true)
        Similarity.writeRecelled(all, Similarity.readIvfCentroids(s, s"$indexDir/$gen"),
          iters, s"$indexDir/$next/$baseSegment", s"$indexDir/$next/centroids")
      },
      "commit-manifest" -> { () => writeManifest(indexDir, next, Seq(baseSegment)) })
  }

  /** Merge the live generation's segments into the next one and flip the
    * manifest pointer — delta accumulation bounded, readers safe at every
    * instant. `baseSegment` names the merged generation's single segment:
    * "cells" for the plain index, a watermark name (e.g. `base_<batchId>`)
    * for [[graft.streaming.AnnIngestStream]], which folds its at-least-once
    * dedup state into the segment names the manifest already commits.
    */
  def compact(s: SparkSession, indexDir: String, iters: Int,
      baseSegment: String = "cells"): Unit =
    compactionSteps(s, indexDir, iters, baseSegment)
      .foreach { case (_, step) => step() }
}
