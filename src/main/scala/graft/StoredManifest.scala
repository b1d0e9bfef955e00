package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The atomic pointer-file commit shared by every generation-directory
  * artifact (the IVF index's [[graft.queries.AnnManifest]], the
  * stream-maintained summaries and reports, the ingest streams' and the
  * merge-on-read tables' [[SegmentLog]]s): immutable generation
  * directories plus one `MANIFEST` file naming the live generation and
  * its segment list, replaced atomically (write `MANIFEST.tmp`,
  * `ATOMIC_MOVE` over `MANIFEST`). A
  * reader resolving through the manifest sees one complete generation at
  * every instant; writers publish only after their generation is fully on
  * disk. Single WRITER assumed (two concurrent publishers would race the
  * pointer); on a cluster the same protocol is an atomically-replaced
  * object — rename on HDFS, put-if-match on S3, the Iceberg/Delta-style
  * table commit.
  *
  * A stream that republishes a whole artifact per micro-batch commits
  * through one of two entry points, so no stream keeps its own copy of the
  * replay rule:
  *   - [[publish]] for a generation recomputed from scratch, or merged by
  *     an idempotent rule: the dashboard
  *     ([[graft.streaming.DashboardStream]]), the drift monitors
  *     ([[graft.streaming.DriftMonitorStream]],
  *     [[graft.streaming.RankDriftStream]]) and the HLL sketches
  *     ([[graft.streaming.SketchMaintainStream]]);
  *   - [[fold]] for a generation that adds the batch onto the live one:
  *     the summaries of [[graft.streaming.MvMaintainStream]] (both
  *     forms), [[graft.streaming.StatsMaintainStream]],
  *     [[graft.streaming.BootstrapStream]],
  *     [[graft.streaming.FreqMaintainStream]] and
  *     [[graft.streaming.SrmMaintainStream]].
  */
object StoredManifest {

  private def manifestPath(dir: String) = Paths.get(dir, "MANIFEST")

  private def snapshotPath(dir: String, gen: String) =
    Paths.get(dir, s"MANIFEST.$gen")

  private def pinPath(dir: String, gen: String) = Paths.get(dir, s"PIN.$gen")

  /** Atomically publish (generation, segments). Each publish also
    * refreshes the generation's SNAPSHOT file (`MANIFEST.<gen>`, same
    * atomic replace) — the per-generation segment record that makes
    * [[readGen]]/[[rollback]] possible after the live pointer moves on.
    */
  def write(dir: String, gen: String, segments: Seq[String]): Unit = {
    require(gen.nonEmpty && !gen.contains(",") && !gen.contains("|"),
      s"generation name must be non-empty and ','/'|'-free: '$gen'")
    require(segments.nonEmpty &&
        segments.forall(s => s.nonEmpty && !s.contains(",") && !s.contains("|")),
      s"segment names must be non-empty and ','/'|'-free: $segments")
    Files.createDirectories(Paths.get(dir))
    val line = s"$gen|${segments.mkString(",")}".getBytes("UTF-8")
    val snapTmp = Paths.get(dir, s"MANIFEST.$gen.tmp")
    Files.write(snapTmp, line)
    Files.move(snapTmp, snapshotPath(dir, gen),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val tmp = Paths.get(dir, "MANIFEST.tmp")
    Files.write(tmp, line)
    Files.move(tmp, manifestPath(dir),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The live (generation, segments) — what every read path resolves. */
  def read(dir: String): (String, Seq[String]) = {
    val line = new String(Files.readAllBytes(manifestPath(dir)), "UTF-8").trim
    line.split('|') match {
      case Array(gen, segs) => (gen, segs.split(',').toSeq)
      case _ => throw new IllegalStateException(
        s"malformed MANIFEST under $dir: '$line'")
    }
  }

  /** TIME-TRAVEL read: resolve a specific generation's segment list from
    * its snapshot, regardless of where the live pointer is — the
    * Iceberg/Delta `VERSION AS OF` shape. The generation's data outlives
    * the live pointer for one compaction cycle by the sweep schedule;
    * [[pin]] extends that indefinitely.
    */
  def readGen(dir: String, gen: String): (String, Seq[String]) = {
    val p = snapshotPath(dir, gen)
    require(Files.exists(p),
      s"no snapshot for generation '$gen' under $dir — " +
        "it predates the snapshot protocol or never committed")
    val line = new String(Files.readAllBytes(p), "UTF-8").trim
    line.split('|') match {
      case Array(g, segs) => (g, segs.split(',').toSeq)
      case _ => throw new IllegalStateException(
        s"malformed snapshot for $gen under $dir: '$line'")
    }
  }

  def exists(dir: String): Boolean = Files.exists(manifestPath(dir))

  /** The live generation's name. */
  def live(dir: String): String = read(dir)._1

  /** Whether `gen` is already the live generation — every publisher's
    * at-least-once guard: `foreachBatch` re-delivers a batch whose
    * manifest flip landed before its checkpoint commit, and rewriting the
    * live generation in place would un-publish it mid-overwrite.
    */
  def isLive(dir: String, gen: String): Boolean = exists(dir) && live(dir) == gen

  /** The live generation's directory and segment list, if one is published. */
  private def resolve(dir: String): Option[(String, Seq[String])] =
    if (exists(dir)) Some(read(dir) match { case (gen, segs) => (s"$dir/$gen", segs) })
    else None

  /** Segment `segment` of the live generation, if one is published. */
  def liveSegment(spark: SparkSession, dir: String,
      segment: String): Option[DataFrame] =
    resolve(dir).map { case (genDir, _) => spark.read.parquet(s"$genDir/$segment") }

  /** Commit stream batch `batchId` as generation `gen_<batchId>`. A no-op
    * when that generation is already live: the batch is a re-delivery
    * whose commit landed. Otherwise sweep unreachable generations (an
    * uncommitted earlier try of this batch among them), write each
    * segment as one file, and commit the names, in the given order, once.
    * A crash before the commit leaves the previous generation live, and
    * the re-delivered batch is computed again against it.
    */
  def publish(dir: String, batchId: Long)(
      segments: => Seq[(String, DataFrame)]): Unit = {
    val gen = s"gen_$batchId"
    if (isLive(dir, gen)) return
    sweepUnreachable(dir)
    val segs = segments
    segs.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$gen/$name")
    }
    write(dir, gen, segs.map(_._1))
  }

  /** [[publish]] for a generation that adds the batch onto the live one:
    * `build` gets the live generation (its directory and segments), read
    * once, and returns the next generation's segments.
    *
    * Additive merges (counts, sums) are not replay-safe by algebra, so the
    * batch id doubles as a high-water mark. An id equal to the live
    * generation's is a same-checkpoint re-delivery and a no-op. An id
    * below it can only come from a fresh-checkpoint restart over a dir
    * that outlived its checkpoint, and that fails: re-folding would double
    * every count, and skipping would silently drop events that arrived
    * after the last fold (a renumbered batch 0 re-lists every file). The
    * operator resets the dir together with the checkpoint. Residual edge:
    * a restart whose first batch lands on the live id 0 cannot be told
    * apart from a replay of batch 0 and is skipped.
    */
  def fold(dir: String, batchId: Long)(
      build: Option[(String, Seq[String])] => Seq[(String, DataFrame)]): Unit = {
    val live = resolve(dir)
    live.foreach { case (genDir, _) =>
      val liveId = genDir.stripPrefix(s"$dir/gen_").toLong
      require(batchId >= liveId,
        s"batch id $batchId regressed below live generation gen_$liveId: " +
          s"fresh-checkpoint restart over an existing dir — reset $dir " +
          "together with the checkpoint")
    }
    publish(dir, batchId)(build(live))
  }

  /** Read one segment of the live generation — always a complete
    * generation, never a mid-write mixture; a segment the generation
    * does not list fails.
    */
  def readSegment(spark: SparkSession, dir: String, segment: String): DataFrame = {
    val (gen, segments) = read(dir)
    require(segments.contains(segment),
      s"unknown segment '$segment'; published: ${segments.mkString(", ")}")
    spark.read.parquet(s"$dir/$gen/$segment")
  }

  /** Pin a generation: its directory becomes sweep-exempt until [[unpin]],
    * so a reader can keep serving a historical snapshot while compactions
    * advance the live pointer (the Iceberg snapshot-retention contract in
    * marker-file form). Requires the generation to still be resolvable.
    */
  def pin(dir: String, gen: String): Unit = {
    readGen(dir, gen) // fails fast if the snapshot is gone
    require(Files.isDirectory(Paths.get(dir, gen)),
      s"generation directory '$gen' no longer on disk under $dir — " +
        "pin before the sweep, not after")
    Files.write(pinPath(dir, gen), Array.emptyByteArray)
  }

  def unpin(dir: String, gen: String): Unit =
    Files.deleteIfExists(pinPath(dir, gen))

  def isPinned(dir: String, gen: String): Boolean =
    Files.exists(pinPath(dir, gen))

  /** ROLLBACK after a bad publish: re-point the live manifest at a prior
    * generation exactly as its snapshot recorded it. One atomic pointer
    * flip — the superseded (bad) generation becomes unreachable and the
    * next sweep collects it; readers mid-flight keep their own snapshot
    * semantics throughout.
    */
  def rollback(dir: String, gen: String): Unit = {
    val (_, segments) = readGen(dir, gen)
    require(Files.isDirectory(Paths.get(dir, gen)),
      s"cannot roll back to '$gen' under $dir: generation directory " +
        "already swept (pin generations you may need to return to)")
    write(dir, gen, segments)
  }

  /** Delete generation directories (by `prefix`) the manifest does NOT
    * name — garbage from interrupted or superseded publishes, unreachable
    * by construction — EXCEPT pinned generations ([[pin]]). A swept
    * generation's snapshot and pin marker are removed with it. Callers
    * choose WHEN: sweeping at the start of the next publish (rather than
    * right after a flip) leaves the previous generation on disk through
    * one full cycle, so a reader that resolved the manifest just before a
    * flip can still finish its read.
    */
  def sweepUnreachable(dir: String, prefix: String = "gen_"): Unit = {
    if (!exists(dir)) return
    val (live, _) = read(dir)
    StoredArtifacts.list(dir)
      .filter(p => Files.isDirectory(p) &&
        p.getFileName.toString.startsWith(prefix) &&
        p.getFileName.toString != live &&
        !isPinned(dir, p.getFileName.toString))
      .foreach { p =>
        val gen = p.getFileName.toString
        StoredArtifacts.deleteTree(p.toString)
        Files.deleteIfExists(snapshotPath(dir, gen))
        Files.deleteIfExists(pinPath(dir, gen))
      }
  }

  /** The generation a compaction of `gen` (`gen_<n>`) commits: `gen_<n+1>`. */
  def successor(gen: String): String = s"gen_${gen.stripPrefix("gen_").toInt + 1}"
}

/** The one replay and compaction rule of a stream-maintained segment log,
  * committed through [[StoredManifest]]. The IVF
  * ([[graft.streaming.AnnIngestStream]]), zone-map
  * ([[graft.streaming.ZoneIndexStream]]), HNSW
  * ([[graft.streaming.HnswIngestStream]]) and exact near-dup
  * ([[graft.streaming.DedupIngestStream]]) ingest streams all call it, and
  * so does a merge-on-read table's change log
  * ([[graft.queries.Lakehouse.mergeMoR]],
  * [[graft.streaming.DeleteVectorStream]] and the
  * [[graft.streaming.MergeStream]] change stream); how a segment is
  * written or merged stays each caller's own.
  *
  * Layout: `dir/MANIFEST` names the live generation `gen_<n>` and its
  * segments, and segment `s` lives at `dir/gen_<n>/s`.
  *   - Stream batch `id` lands as segment `base_<id>` of `gen_0` when the
  *     log is empty, else as `batch_<id>` of the live generation. The
  *     segment is written completely, then one manifest commit names it.
  *   - Compaction merges the live segments into `base_<max absorbed id>`
  *     of `gen_<n+1>`, commits that generation, then deletes the
  *     superseded one: the directory holding every segment it absorbed.
  *   - Batch `id` is [[applied]] when `batch_<id>` is live or a live
  *     `base_<w>` has `w >= id`. Stream batch ids are monotonic, so a base's
  *     id is a watermark over the ids its compaction erased.
  *
  * So at-least-once `foreachBatch` becomes exactly-once with no side
  * ledger: every crash point leaves nothing committed (the batch is
  * redone), or a committed manifest whose names make the re-delivered
  * batch a no-op. Readers resolve the manifest once and see one complete
  * generation. Single writer: a streaming query's `foreachBatch` calls are
  * serialized, which is the manifest's single-writer requirement.
  */
object SegmentLog {

  /** Writes the merged segment: (live generation dir, its segments,
    * next generation dir, merged segment name).
    */
  type Merge = (String, Seq[String], String, String) => Unit

  private def idOf(segment: String): Long =
    segment.stripPrefix("batch_").stripPrefix("base_").toLong

  def applied(dir: String, id: Long): Boolean =
    StoredManifest.exists(dir) && StoredManifest.read(dir)._2.exists { seg =>
      seg == s"batch_$id" || (seg.startsWith("base_") && idOf(seg) >= id)
    }

  /** Deliver stream batch `id`: unless [[applied]], `write(genDir, segment)`
    * writes its segment and one commit names it; then compact when more
    * than `maxSegments` segments are live.
    */
  def ingest(dir: String, id: Long, maxSegments: Int)(
      write: (String, String) => Unit)(merge: Merge): Unit = {
    if (applied(dir, id)) return
    val (gen, live) =
      if (StoredManifest.exists(dir)) StoredManifest.read(dir) else ("gen_0", Nil)
    val seg = if (live.isEmpty) s"base_$id" else s"batch_$id"
    StoredArtifacts.deleteTree(s"$dir/$gen/$seg") // an uncommitted earlier try
    write(s"$dir/$gen", seg)
    StoredManifest.write(dir, gen, live :+ seg)
    if (live.length + 1 > maxSegments)
      compactionSteps(dir, merge).foreach { case (_, step) => step() }
  }

  /** Compaction as named steps, so a spec can stop after any prefix. */
  def compactionSteps(dir: String, merge: Merge): Seq[(String, () => Unit)] = {
    val (gen, segments) = StoredManifest.read(dir)
    val next = StoredManifest.successor(gen)
    val base = s"base_${segments.map(idOf).max}"
    Seq(
      "write-segment" -> { () =>
        StoredArtifacts.deleteTree(s"$dir/$next") // orphan of an interrupted try
        merge(s"$dir/$gen", segments, s"$dir/$next", base)
      },
      "commit-manifest" -> { () => StoredManifest.write(dir, next, Seq(base)) },
      "delete-absorbed" -> { () => StoredManifest.sweepUnreachable(dir) })
  }
}
