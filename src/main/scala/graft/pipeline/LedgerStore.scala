package graft.pipeline

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Engine-owned state tables replacing the reference's filesystem sentinels
  * and output-dir globs (SURVEY.md §7.2.e, hard part #3).
  *
  *   - `converted`: (base, plateRel, outfile, ts) — one row per successful
  *     conversion; existence ⇒ "done" exactly like the reference's
  *     `{base}-*.{ext}` glob (dags/msconvert_dag.py:112-122). Appended, one
  *     file per batch, and [[compact]]ed into one file when the files add up
  *     to [[LedgerStore.CompactAt]].
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
  * (local-FS assumption documented there). Every table is read through
  * [[LedgerStore.snapshotDir]], which also finds a table that a crash inside
  * the swap left only as `<table>.old`.
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
    LedgerStore.snapshotDir(path).fold(empty)(spark.read.schema(empty.schema).parquet(_))

  private def emptyConverted: DataFrame =
    Seq.empty[(String, String, String, java.sql.Timestamp)].toDF("base", "plateRel", "outfile", "ts")

  def converted: DataFrame = readOr(convertedPath, emptyConverted)

  def attempts: DataFrame = readOr(attemptsPath,
    Seq.empty[(String, String, Int)].toDF("base", "plateRel", "attempts"))

  def quiet: DataFrame = readOr(quietPath,
    Seq.empty[(String, Long, Long)].toDF("path", "lastSize", "stableSince"))

  /** Keys permanently skipped — attempts >= maxAttempts (`.skip` semantics). */
  def skipKeys: DataFrame =
    attempts.where(col("attempts") >= maxAttempts).select("base", "plateRel")

  /** Keys that never enter a batch again: converted or skipped. Meant only to
    * be collected into the key set of [[Discovery.dedupLedger]] (A6), so it
    * may hold a key more than once: a key both converted and skipped, or one
    * an at-least-once replay converted twice. The set absorbs duplicates, and
    * not removing them keeps the collect one stage without an exchange.
    */
  def doneKeys: DataFrame =
    converted.select("base", "plateRel").union(skipKeys)

  /** Record successful conversions (one appended file, idempotent downstream
    * via the ledger filter), then [[compact]] the table.
    */
  def appendConverted(statuses: DataFrame): Unit = {
    val rows = statuses.where(col("state") === "success")
      .select(col("base"), col("plateRel"), col("outfile"), col("endTs").as("ts"))
    if (rows.isEmpty) return
    LedgerStore.reopen(convertedPath)
    rows.coalesce(1).write.mode(SaveMode.Append).parquet(convertedPath)
    compact(convertedPath, emptyConverted.schema)
  }

  /** Rewrite the append-only table at `path` into one file, through
    * [[swapSnapshot]], once it holds [[LedgerStore.CompactAt]] parquet files.
    * Read with `schema`, so a file written before a column existed reads it
    * as null, as an uncompacted read would.
    */
  private[pipeline] def compact(path: String, schema: StructType): Unit =
    if (LedgerStore.parquetFiles(path) >= LedgerStore.CompactAt)
      swapSnapshot(spark.read.schema(schema).parquet(path), path)

  /** Increment attempt counters for this cycle's failures — the
    * _on_convert_failure semantics (read counter, +1; at maxAttempts the row
    * becomes part of skipKeys; reference also deletes the counter file on
    * skip, which a row-based ledger doesn't need).
    *
    * The counters plus one row per failure, summed per key in one partition:
    * the table is metadata-sized, and one partition lets the group-by run in
    * the write's own stage, with no exchange.
    */
  def recordFailures(statuses: DataFrame): Unit = {
    val failed = statuses.where(col("state") === "failed")
    if (failed.isEmpty) return
    val updated = attempts
      .union(failed.select(col("base"), col("plateRel"), lit(1).as("attempts")))
      .coalesce(1)
      .groupBy("base", "plateRel")
      .agg(sum("attempts").cast("int").as("attempts"))
    swapSnapshot(updated, attemptsPath)
  }

  /** Replace the quiescence clocks with `clocks` (run path → state). */
  def replaceQuiet(clocks: Map[String, Quiescence.QuietState]): Unit =
    swapSnapshot(clocks.toSeq.map { case (p, s) => (p, s.lastSize, s.stableSinceEpochS) }
      .toDF("path", "lastSize", "stableSince"), quietPath)

  /** Snapshot-swap commit: write one file to a temp dir, then atomically
    * replace the live dir. Readers either see the old or the new snapshot,
    * never a partial write — the `.partial` → rename protocol of the archive
    * sink applied to a table. A crash between the two renames leaves only
    * `.old`, which [[LedgerStore.snapshotDir]] reads and `df` may read from:
    * the next swap then proceeds from it.
    */
  private def swapSnapshot(df: DataFrame, livePath: String): Unit = {
    val tmp = livePath + ".swap"
    val old = Paths.get(livePath + ".old")
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(tmp)
    val live = Paths.get(livePath)
    if (Files.exists(live)) {
      graft.StoredArtifacts.deleteTree(old.toString) // left by a crash after the second rename
      Files.move(live, old)
    }
    Files.move(Paths.get(tmp), live, StandardCopyOption.ATOMIC_MOVE)
    graft.StoredArtifacts.deleteTree(old.toString)
  }
}

object LedgerStore {

  /** Parquet files at which an append-only table is compacted. Reads of it
    * then open at most 16 files, not one per busy cycle of the deployment's
    * age, and the rewrite costs one table scan per 16 busy cycles. Each
    * batch still appends exactly one file.
    */
  private[pipeline] val CompactAt = 16

  /** The directory holding table `path`'s rows: the live dir, or
    * `<table>.old` when a crash inside a snapshot swap fell between its two
    * renames; None before the table's first write.
    */
  private[pipeline] def snapshotDir(path: String): Option[String] =
    Seq(path, path + ".old").find(p => Files.isDirectory(Paths.get(p)))

  /** Before an append: move a table left only as `<table>.old` back to its
    * live dir, so the appended file lands beside its rows.
    */
  private[pipeline] def reopen(path: String): Unit =
    if (snapshotDir(path).exists(_ != path)) Files.move(Paths.get(path + ".old"), Paths.get(path))

  private def parquetFiles(path: String): Int =
    Option(new java.io.File(path).list()).fold(0)(_.count(_.endsWith(".parquet")))
}
