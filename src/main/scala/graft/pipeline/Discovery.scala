package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Discovery source — operators A1-A8 (dags/msconvert_dag.py:175-221).
  *
  * Listing is two-level: the driver lists plate directories (one cheap
  * readdir), then the per-plate run listing fans out across executors —
  * the parallel-listing shape that holds at 100 TB where a single
  * driver-side walk would not (SURVEY.md §7.4.5). Filters (is-dir, `.d`
  * suffix, output/archive exclusion) run inside the listing closure so no
  * non-run path is ever shuffled.
  */
object Discovery {

  /** A1-A5: list runs as RunRecord(path, plateRel, base). */
  def discover(spark: SparkSession, cfg: GraftConfig): Dataset[RunRecord] = {
    import spark.implicits._
    val watch = Paths.get(cfg.watchDir)
    // A4: never rescan our own outputs (reference compares names, :197-199)
    val excluded = Set(Paths.get(cfg.outputDir).getFileName.toString,
      Paths.get(cfg.archiveDir).getFileName.toString)
    val plates: Seq[String] =
      if (!Files.isDirectory(watch)) Seq.empty
      else listDir(watch)
        .filter(Files.isDirectory(_)) // A2
        .filterNot(p => excluded.contains(p.getFileName.toString))
        .map(_.toString).sorted
    if (plates.isEmpty) spark.emptyDataset[RunRecord]
    else
      spark.createDataset(plates)
        .repartition(math.min(plates.size, spark.sparkContext.defaultParallelism))
        .flatMap { plateStr =>
          val plate = Paths.get(plateStr)
          val plateRel = Paths.get(cfg.watchDir).relativize(plate).toString
          listRuns(plate).map { run =>
            val name = run.getFileName.toString
            RunRecord(run.toString, plateRel, name.dropRight(2)) // A5: strip ".d"
          }
        }
  }

  /** One level of `.d` directories inside a plate (A2, A3). */
  private def listRuns(plate: Path): Seq[Path] =
    if (!Files.isDirectory(plate)) Seq.empty
    else listDir(plate)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.endsWith(".d"))

  /** Strict directory listing that closes the underlying Files.list stream
    * (JDK requires explicit close for timely fd disposal — a long-running
    * poller would otherwise leak one handle per cycle per directory).
    */
  private def listDir(p: Path): Seq[Path] = {
    val stream = Files.list(p)
    try stream.iterator().asScala.toList finally stream.close()
  }

  /** A6-A8: dedup anti-join against the converted ledger + skip set, then the
    * deterministic sorted batch cap (pending.sort()[:MAX_MAP], :212-220).
    *
    * The ledger join replaces the reference's per-run glob of the output dir
    * (:112-122) — same keys (base, plate_rel), O(1) scans instead of
    * O(pending) filesystem globs, and it broadcasts when small / shuffles on
    * the composite key when not.
    */
  def dedup(
      discovered: Dataset[RunRecord],
      ledger: LedgerStore,
      cfg: GraftConfig): Dataset[RunRecord] = {
    val spark = discovered.sparkSession
    import spark.implicits._
    discovered
      .join(ledger.doneKeys, Seq("base", "plateRel"), "left_anti")
      .as[RunRecord]
      .orderBy(col("path"))
      .limit(cfg.maxMap)
  }

  /** Recursive byte size tolerant of concurrent deletion
    * (dir_size_bytes, dags/msconvert_dag.py:78-88).
    */
  def dirSizeBytes(p: Path): Long = {
    var total = 0L
    try {
      val stream = Files.walk(p)
      try {
        val it = stream.iterator()
        while (it.hasNext) {
          val f = it.next()
          try { if (Files.isRegularFile(f)) total += Files.size(f) }
          catch { case _: java.io.IOException => () } // vanished mid-walk
        }
      } finally stream.close()
    } catch { case _: java.io.IOException => () }
    total
  }

  /** Remove a file tree, deepest entries first; a missing path is a no-op. */
  private[pipeline] def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val stream = Files.walk(p)
      try stream.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
      finally stream.close()
    }
}
