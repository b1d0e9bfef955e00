package graft.pipeline

import java.nio.file.{Files, Path, Paths}
import java.time.Instant
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** The append-only state tables stay a bounded number of files: each busy
  * cycle appends one file to `converted` and `history`, and a table is
  * compacted into one file once it holds `CompactAt`, with every row and
  * every dashboard value unchanged.
  */
class CompactionSpec extends SparkSpec {

  private val t0 = Instant.parse("2026-01-01T00:00:00Z")

  private def parquetFiles(dir: String): Int = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) 0
    else {
      val s = Files.list(p)
      try s.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
      finally s.close()
    }
  }

  /** Two runs that convert and, every fourth cycle, one that always fails
    * (it is retried until maxAttempts puts it in the skip set).
    */
  private def land(watch: Path, cycle: Int): Unit =
    (Seq(s"ok${cycle}_a", s"ok${cycle}_b") ++ Option.when(cycle % 4 == 0)(s"bad$cycle"))
      .foreach { run =>
        val d = watch.resolve(f"plate${cycle % 3}%02d").resolve(s"$run.d")
        Files.createDirectories(d)
        Files.writeString(d.resolve(if (run.startsWith("bad")) "FAIL" else "raw.bin"), run)
      }

  test("CompactAt + 2 busy cycles: bounded files, every row and panel value kept") {
    val root = Files.createTempDirectory("graft-compact")
    val cfg = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      command = Seq("/bin/sh", "-c",
        """if [ -e "$IN/FAIL" ]; then exit 3; fi; cat "$IN"/* > "$OUTDIR/$OUTFILE""""))
    val ledger = new LedgerStore(spark, cfg.stateDir, cfg.maxAttempts)
    val cycles = LedgerStore.CompactAt + 2
    val results = (0 until cycles).map { i =>
      land(Paths.get(cfg.watchDir), i)
      val now = t0.plusSeconds(300L * i)
      val r = PipelineRunner.runCycle(spark, cfg, now)
      assert(r.stats.succeeded == 2, s"cycle $i: $r")
      for (t <- Seq("converted", "history")) {
        val n = parquetFiles(s"${cfg.stateDir}/$t")
        assert(n > 0 && n < LedgerStore.CompactAt, s"cycle $i: $n files in $t")
      }
      now -> r.stats
    }
    val stats = results.map(_._2)
    assert(stats.map(_.failed).sum > 0 && stats.map(_.failed).sum < stats.map(_.total).sum)
    assert(ledger.converted.count() == stats.map(_.succeeded).sum)
    assert(PipelineRunner.history(spark, cfg).count() == stats.map(_.total).sum)

    val panels = RunAnalytics.dashboard(spark, cfg).map { case (k, df) => k -> df.collect() }
    val succeeded = stats.map(_.succeeded).sum
    assert(panels("converted_24h").head.getLong(0) == succeeded)
    assert(panels("per_hour").map(_.getLong(1)).sum == succeeded)
    assert(panels("run_details").length == math.min(100L, stats.map(_.total).sum))
    val recent = panels("recent_cycles").map(r =>
      (r.getTimestamp(0).toInstant, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(recent == results.reverse.map { case (now, s) =>
      (now, s.total, s.succeeded, s.failed, 0L)
    })
  }
}
