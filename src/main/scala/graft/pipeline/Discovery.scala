package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.unsafe.types.UTF8String

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

  /** A6-A8: drop the runs the ledger holds as done ([[dedupLedger]]), then
    * take the deterministic sorted batch cap (pending.sort()[:MAX_MAP],
    * :212-220) over the remaining driver rows.
    *
    * The ledger filter replaces the reference's per-run glob of the output
    * dir (:112-122): same keys (base, plate_rel), one scan of the ledger
    * instead of O(pending) filesystem globs.
    */
  def dedup(listed: Seq[RunRecord], ledger: LedgerStore, cfg: GraftConfig): Seq[RunRecord] =
    // UTF-8 byte order: the order Spark sorts strings in, and Python's code-point order
    dedupLedger(listed, ledger).sortBy(r => UTF8String.fromString(r.path)).take(cfg.maxMap)

  /** A6: `runs` less those whose (base, plateRel) is in the ledger's
    * [[LedgerStore.doneKeys]], collected in one job and filtered on the
    * driver. Runs no job when `runs` is empty.
    */
  def dedupLedger(runs: Seq[RunRecord], ledger: LedgerStore): Seq[RunRecord] =
    if (runs.isEmpty) runs
    else {
      val done = ledger.doneKeys.collect().map(k => (k.getString(0), k.getString(1))).toSet
      runs.filterNot(r => done((r.base, r.plateRel)))
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
