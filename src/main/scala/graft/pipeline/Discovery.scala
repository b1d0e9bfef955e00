package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Discovery source — operators A1-A8 (dags/msconvert_dag.py:175-221).
  *
  * Listing is two-level: the driver lists plate directories (one cheap
  * readdir), then the per-plate run listing fans out across executors —
  * the parallel-listing shape that holds at 100 TB where a single
  * driver-side walk would not (SURVEY.md §7.4.5). The fan-out comes from
  * the `parallelize` slices of the plate names (one plate per task up to
  * the session's parallelism), so the listing plans no exchange. Filters
  * (is-dir, `.d` suffix, output/archive exclusion) run inside the listing
  * closure so no non-run path ever leaves the task that listed it.
  */
object Discovery {

  /** A1-A5: list runs as RunRecord(path, plateRel, base). */
  def discover(spark: SparkSession, cfg: GraftConfig): Dataset[RunRecord] = {
    import spark.implicits._
    // A4: never rescan our own outputs (reference compares names, :197-199)
    val excluded = Set(Paths.get(cfg.outputDir).getFileName.toString,
      Paths.get(cfg.archiveDir).getFileName.toString)
    val plates: Seq[String] = graft.StoredArtifacts.list(cfg.watchDir)
      .filter(Files.isDirectory(_)) // A2
      .filterNot(p => excluded.contains(p.getFileName.toString))
      .map(_.toString).sorted
    if (plates.isEmpty) spark.emptyDataset[RunRecord]
    else
      spark.createDataset(spark.sparkContext
          .parallelize(plates, math.min(plates.size, spark.sparkContext.defaultParallelism)))
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
    graft.StoredArtifacts.list(plate.toString)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.endsWith(".d"))

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

}
