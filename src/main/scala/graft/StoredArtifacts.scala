package graft

/** Locations for DERIVED stored artifacts — indexes, learned vocabularies,
  * centroid tables — keyed by the source dataset directory: the
  * build-once / probe-many serving layout (the posting-index and bigram-LM
  * stored paths demonstrated in StoredIndexSpec, promoted to a shared
  * convention for registry queries).
  *
  * Registry entries that read a stored artifact (x62 IVF, x63 BPE) build it
  * on first touch and then only READ it — so a repeated Verify/Bench run
  * measures the serving path, exactly as production would (the index is an
  * ingest-time cost, amortized over every query). The key hashes the source
  * dir, so sf0.01 and sf0.1 never share an artifact; a `_vN` suffix in the
  * artifact name versions the format. Paths live under java.io.tmpdir on
  * this single-JVM harness; on a cluster the same layout lands on shared
  * storage — nothing below assumes a local filesystem except [[ready]],
  * which checks the parquet committer's `_SUCCESS` marker.
  */
object StoredArtifacts {

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Artifact directory for (source dataset dir, artifact name). The key is
    * `<pathHash>_<stateHash>`: the state half hashes every top-level entry's
    * (name, size, file mtime) — FILE mtimes, because a fixture regenerated
    * by truncate+overwrite changes no directory mtime and no entry name —
    * so any regeneration re-keys and the old index is never served against
    * vanished data (a re-build is re-paid once — cheap; a stale index is
    * silently wrong). The path half is stable per source dir, which lets
    * [[dir]] SWEEP superseded generations of the same source on each call
    * (lease-protected, see below): disk holds at most one LIVE artifact
    * generation per fixture plus superseded ones inside the grace
    * window. Builder-CODE
    * changes are still the `_vN` suffix's job: bump it whenever the
    * artifact format or training behavior changes.
    */
  def dir(sfDir: String, name: String): String = {
    val state =
      if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(sfDir)))
        list(sfDir).sortBy(_.toString)
          .map(f => s"${f.getFileName}:${java.nio.file.Files.size(f)}:" +
            s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}")
          .mkString("|")
      else "absent"
    val pathKey = md5(sfDir).take(8)
    val stateKey = md5(state).take(8)
    val root = java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft_artifacts")
    val current = s"${pathKey}_$stateKey"
    val curDir = root.resolve(current)
    // Lease-then-sweep (the r10 "cross-process safety" finding): every
    // serving process REFRESHES a `.lease` marker in the generation it is
    // about to read, and the sweep only deletes superseded generations of
    // THIS source (same path hash, other state) whose lease is older than
    // [[SweepGraceMs]]. A second JVM still mid-read on a superseded
    // generation has, by construction, refreshed that generation's lease
    // at its own dir() call, so no concurrent process can delete it under
    // the reader as long as one query fits inside the grace window (30
    // min vs. per-query seconds). The residual race — lease check and
    // delete interleaving with a first-ever touch — is a millisecond
    // window instead of the whole serve duration; a shared multi-writer
    // deployment with longer-lived readers would promote this to the
    // manifest/lease protocol AnnManifest uses for the IVF index proper.
    // Disk stays bounded: superseded generations outlive their
    // replacement by at most the grace window.
    java.nio.file.Files.createDirectories(curDir)
    touchLease(curDir)
    val cutoff = System.currentTimeMillis() - SweepGraceMs
    list(root.toString)
      .filter { d =>
        val n = d.getFileName.toString
        n.startsWith(s"${pathKey}_") && n != current &&
          lastLeaseMillis(d) < cutoff
      }
      .foreach(d => deleteTree(d.toString))
    s"$root/$current/$name"
  }

  /** How long a superseded generation is retained after its last lease
    * refresh. Must exceed the longest single artifact-serving query by a
    * wide margin (queries run seconds-to-minutes; the grace is 30 min).
    */
  private[graft] val SweepGraceMs: Long = 30L * 60 * 1000

  private def touchLease(genDir: java.nio.file.Path): Unit = {
    val lease = genDir.resolve(".lease")
    java.nio.file.Files.write(lease, Array.emptyByteArray)
    java.nio.file.Files.setLastModifiedTime(lease,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
  }

  /** A generation's last lease refresh; generations written before the
    * lease protocol (no `.lease` file) fall back to the directory mtime.
    */
  private[graft] def lastLeaseMillis(genDir: java.nio.file.Path): Long = {
    val lease = genDir.resolve(".lease")
    val p = if (java.nio.file.Files.exists(lease)) lease else genDir
    java.nio.file.Files.getLastModifiedTime(p).toMillis
  }

  /** True iff a parquet write to `path` COMPLETED (committer `_SUCCESS`
    * marker present) — a crashed half-write rebuilds instead of serving
    * partial data.
    */
  def ready(path: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(path, "_SUCCESS"))

  /** The entries of directory `dir` (empty if it is not one). The listing
    * stream is closed before returning: an unclosed one holds its file
    * descriptor until the JVM happens to finalize it.
    */
  def list(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p)) Nil
    else {
      val stream = java.nio.file.Files.list(p)
      try stream.iterator().asScala.toList finally stream.close()
    }
  }

  /** Recursively delete a file tree, deepest entries first (no-op if
    * absent); the walk is closed before returning.
    */
  def deleteTree(path: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val stream = java.nio.file.Files.walk(p)
      try stream.iterator().asScala.toList.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally stream.close()
    }
  }
}
