package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Engine-owned state tables replacing the reference's filesystem sentinels
  * and output-dir globs (SURVEY.md §7.2.e, hard part #3).
  *
  *   - `converted`: (base, plateRel, outfile, ts) — one row per successful
  *     conversion; existence ⇒ "done" exactly like the reference's
  *     `{base}-*.{ext}` glob (dags/msconvert_dag.py:112-122). Append-only.
  *   - `attempts`: (base, plateRel, attempts) — the cross-run failure counter
  *     the reference keeps in `.attempts` files (:145-152). Rows reaching
  *     `maxAttempts` are the permanent skip set (`.skip` sentinel, :153-158).
  *     Snapshot-swap updated.
  *   - `quiet`: (path, lastSize, stableSince) — the quiescence clocks of
  *     pending runs not yet ready (A9, see [[Quiescence]]). Snapshot-swap
  *     updated.
  *
  * Scale note: at 100 TB these are partitioned tables and the snapshot
  * updates become MERGEs in a table format with transactions (Delta/Iceberg);
  * the API here (appendConverted / recordFailures / replaceQuiet / keys) is
  * the seam — callers never see the storage layout. The snapshot swap uses
  * temp-dir + atomic rename, the same commit protocol as the archive sink
  * (local-FS assumption documented there).
  */
final class LedgerStore(spark: SparkSession, stateDir: String, maxAttempts: Int = 3) {
  import spark.implicits._

  private val convertedPath = s"$stateDir/converted"
  private val attemptsPath = s"$stateDir/attempts"
  private val quietPath = s"$stateDir/quiet"

  /** The table at `path` read with `empty`'s schema (no inference job), or
    * `empty` itself before the first write.
    */
  private def readOr(path: String, empty: DataFrame): DataFrame =
    if (Files.exists(Paths.get(path))) spark.read.schema(empty.schema).parquet(path) else empty

  def converted: DataFrame = readOr(convertedPath,
    Seq.empty[(String, String, String, java.sql.Timestamp)]
      .toDF("base", "plateRel", "outfile", "ts"))

  def attempts: DataFrame = readOr(attemptsPath,
    Seq.empty[(String, String, Int)].toDF("base", "plateRel", "attempts"))

  def quiet: DataFrame = readOr(quietPath,
    Seq.empty[(String, Long, Long)].toDF("path", "lastSize", "stableSince"))

  /** Keys permanently skipped — attempts >= maxAttempts (`.skip` semantics). */
  def skipKeys: DataFrame =
    attempts.where(col("attempts") >= maxAttempts).select("base", "plateRel")

  /** Keys that never enter a batch again: converted or skipped (A6 anti-join
    * right side).
    */
  def doneKeys: DataFrame =
    converted.select("base", "plateRel").union(skipKeys).distinct()

  /** Record successful conversions (append-only, idempotent downstream via
    * the anti-join).
    */
  def appendConverted(statuses: DataFrame): Unit = {
    val rows = statuses.where(col("state") === "success")
      .select(col("base"), col("plateRel"), col("outfile"), col("endTs").as("ts"))
    if (!rows.isEmpty)
      rows.coalesce(1).write.mode(SaveMode.Append).parquet(convertedPath)
  }

  /** Increment attempt counters for this cycle's failures — the
    * _on_convert_failure semantics (read counter, +1; at maxAttempts the row
    * becomes part of skipKeys; reference also deletes the counter file on
    * skip, which a row-based ledger doesn't need).
    */
  def recordFailures(statuses: DataFrame): Unit = {
    val failed = statuses.where(col("state") === "failed")
    if (failed.isEmpty) return
    val updated = attempts
      .join(failed.groupBy("base", "plateRel").agg(count(lit(1)).cast("int").as("delta")),
        Seq("base", "plateRel"), "full_outer")
      .select(col("base"), col("plateRel"),
        (coalesce(col("attempts"), lit(0)) + coalesce(col("delta"), lit(0)))
          .as("attempts"))
    swapSnapshot(updated, attemptsPath)
  }

  /** Replace the quiescence clocks with `clocks` (run path → state). */
  def replaceQuiet(clocks: Map[String, Quiescence.QuietState]): Unit =
    swapSnapshot(clocks.toSeq.map { case (p, s) => (p, s.lastSize, s.stableSinceEpochS) }
      .toDF("path", "lastSize", "stableSince"), quietPath)

  /** Snapshot-swap commit: write one file to a temp dir, then atomically
    * replace the live dir. Readers either see the old or the new snapshot,
    * never a partial write — the `.partial` → rename protocol of the archive
    * sink applied to a table.
    */
  private def swapSnapshot(df: DataFrame, livePath: String): Unit = {
    val tmp = livePath + ".swap"
    val old = livePath + ".old"
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val live = Paths.get(livePath)
    if (Files.exists(live))
      Files.move(live, Paths.get(old), StandardCopyOption.REPLACE_EXISTING)
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    Discovery.deleteRecursive(Paths.get(old))
  }
}
