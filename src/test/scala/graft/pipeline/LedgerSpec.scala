package graft.pipeline

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scale behavior of the attempts ledger (SURVEY.md §7.4): recordFailures is
  * one per-key sum over the ledger's counters and this cycle's failures —
  * O(failed + ledger) — and must be a no-op on cycles with no failures: the snapshot on
  * disk is not rewritten, so a long-running poller's steady state does zero
  * ledger IO. (At 100 TB the snapshot swap becomes a MERGE in a
  * transactional table format; the API seam is unchanged.)
  */
class LedgerSpec extends SparkSpec {
  import spark.implicits._

  private def status(base: String, state: String): RunStatus =
    RunStatus(base, "p", s"/in/$base.d", s"$base.mzML", state, "",
      new Timestamp(0L), new Timestamp(1000L), archived = false)

  private def snapshotFiles(stateDir: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(stateDir, "attempts")
    if (!Files.isDirectory(p)) Map.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala.map(f =>
        f.getFileName.toString -> Files.getLastModifiedTime(f).toMillis).toMap
      finally s.close()
    }
  }

  test("recordFailures: empty cycles never rewrite the attempts snapshot") {
    val stateDir = Files.createTempDirectory("graft-ledger").toString
    val ledger = new LedgerStore(spark, stateDir, maxAttempts = 3)
    ledger.recordFailures(Seq(status("a", "failed"), status("b", "failed"),
      status("c", "success")).toDS().toDF())
    val after1 = snapshotFiles(stateDir)
    assert(after1.nonEmpty, "first failure cycle writes the snapshot")

    // steady state: repeated cycles with no failures must not rewrite
    for (_ <- 1 to 3)
      ledger.recordFailures(Seq(status("c", "success"), status("d", "skipped"))
        .toDS().toDF())
    assert(snapshotFiles(stateDir) == after1,
      "no-failure cycles must leave the snapshot untouched (same files, same mtimes)")

    val counts = ledger.attempts.collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(counts == Map("a" -> 1, "b" -> 1))
  }

  test("recordFailures: increments accumulate; untouched rows carry over") {
    val stateDir = Files.createTempDirectory("graft-ledger2").toString
    val ledger = new LedgerStore(spark, stateDir, maxAttempts = 3)
    ledger.recordFailures(Seq(status("a", "failed"), status("b", "failed")).toDS().toDF())
    ledger.recordFailures(Seq(status("a", "failed")).toDS().toDF())
    ledger.recordFailures(Seq(status("a", "failed"), status("z", "failed")).toDS().toDF())
    val counts = ledger.attempts.collect()
      .map(r => r.getString(0) -> r.getInt(2)).toMap
    assert(counts == Map("a" -> 3, "b" -> 1, "z" -> 1))
    assert(ledger.skipKeys.as[(String, String)].collect().toSet == Set(("a", "p")),
      "only the 3-strike row enters the skip set")
  }

  test("a snapshot swap cut between its renames: readers and the next write use <table>.old") {
    val stateDir = Files.createTempDirectory("graft-ledger3").toString
    val ledger = new LedgerStore(spark, stateDir, maxAttempts = 2)
    ledger.recordFailures(Seq(status("a", "failed"), status("a", "failed"), status("b", "failed"))
      .toDS().toDF())
    ledger.appendConverted(Seq(status("c", "success"), status("d", "success")).toDS().toDF())
    def keys(df: org.apache.spark.sql.DataFrame) = df.as[(String, String)].collect().toSet
    val (skip, done) = (keys(ledger.skipKeys), keys(ledger.doneKeys))
    assert(skip == Set(("a", "p")) && done == Set(("a", "p"), ("c", "p"), ("d", "p")))

    // the crash window: live renamed to .old, the new snapshot not yet moved in
    for (t <- Seq("attempts", "converted"))
      Files.move(java.nio.file.Paths.get(stateDir, t), java.nio.file.Paths.get(stateDir, s"$t.old"))
    assert(keys(ledger.skipKeys) == skip && keys(ledger.doneKeys) == done)

    ledger.recordFailures(Seq(status("b", "failed")).toDS().toDF())
    ledger.appendConverted(Seq(status("e", "success")).toDS().toDF())
    val dirs = Files.list(java.nio.file.Paths.get(stateDir)).iterator().asScala
      .map(_.getFileName.toString).toSet
    assert(dirs == Set("attempts", "converted"), dirs)
    assert(keys(ledger.skipKeys) == Set(("a", "p"), ("b", "p")))
    assert(keys(ledger.converted.select("base", "plateRel")) ==
      Set(("c", "p"), ("d", "p"), ("e", "p")))
  }

  test("the dedup anti-join excludes keys doneKeys holds twice, and the cap stays exact") {
    val root = Files.createTempDirectory("graft-ledger-dup")
    val cfg = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      maxAttempts = 2,
      maxMap = 3)
    val ledger = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)
    // "a": skipped at maxAttempts and converted; "b": converted twice, as an
    // at-least-once replay of its batch stores it
    ledger.recordFailures(Seq(status("a", "failed"), status("a", "failed")).toDS().toDF())
    ledger.appendConverted(Seq(status("a", "success"), status("b", "success")).toDS().toDF())
    ledger.appendConverted(Seq(status("b", "success")).toDS().toDF())
    val done = ledger.doneKeys.as[(String, String)].collect().toSeq
    assert(done.count(_ == ("a", "p")) == 2 && done.count(_ == ("b", "p")) == 2, done)

    val discovered = Seq("f", "e", "d", "c", "b", "a")
      .map(b => RunRecord(s"/in/p/$b.d", "p", b))
    val pending = Discovery.dedup(discovered, ledger, cfg)
    assert(pending.map(_.base) == Seq("c", "d", "e"), pending)
    assert(Discovery.dedup(discovered, ledger, cfg.copy(maxMap = 10))
      .map(_.base) == Seq("c", "d", "e", "f"))
    assert(Discovery.dedupLedger(discovered, ledger).map(_.base) == Seq("f", "e", "d", "c"),
      "the uncapped filter keeps its input's order")
  }
}
