package graft.pipeline

import java.nio.file.{Files, Path}
import java.time.Instant
import graft.{GraftSession, SparkSpec}
import org.apache.spark.metrics.source.CodegenMetrics

/** A long-lived poller replans the same cycle and panel shapes every five
  * minutes, so once warm it should find every generated class in Spark's
  * code cache: a steady-state cycle and dashboard refresh compile nothing,
  * and building the dashboard runs no job.
  */
class SteadyStateCodegenSpec extends SparkSpec {

  private val t0 = Instant.parse("2026-01-01T00:00:00Z")

  /** Every cycle sees the same mix: two runs that convert, one that fails
    * (and, with maxAttempts = 1, is skipped from the next cycle on).
    */
  private def land(watch: Path, cycle: Int): Unit =
    Seq(s"ok${cycle}_a", s"ok${cycle}_b", s"bad$cycle").foreach { run =>
      val d = watch.resolve(f"plate${cycle % 2}%02d").resolve(s"$run.d")
      Files.createDirectories(d)
      Files.writeString(d.resolve(if (run.startsWith("bad")) "FAIL" else "raw.bin"), run)
    }

  private def config(name: String): GraftConfig = {
    val root = Files.createTempDirectory(name)
    GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      maxAttempts = 1,
      command = Seq("/bin/sh", "-c",
        """if [ -e "$IN/FAIL" ]; then exit 3; fi; cat "$IN"/* > "$OUTDIR/$OUTFILE""""))
  }

  /** One poll: land runs, run a cycle, refresh every panel. */
  private def poll(cfg: GraftConfig, cycle: Int): Map[String, Long] = {
    land(Path.of(cfg.watchDir), cycle)
    val r = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(300L * cycle))
    assert(r.stats.succeeded == 2 && r.stats.failed == 1, s"cycle $cycle: $r")
    RunAnalytics.dashboard(spark, cfg).map { case (k, df) => k -> df.collect().length.toLong }
  }

  test("sessions read the sized codegen cache") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    assert(GraftSession.CodegenCacheEntries >= 2000)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") == "false")
  }

  test("building the dashboard runs no job") {
    val cfg = config("graft-dash-jobs")
    poll(cfg, 0)
    val group = "dashboard-build"
    spark.sparkContext.setJobGroup(group, "build the dashboard panels")
    try RunAnalytics.dashboard(spark, cfg)
    finally spark.sparkContext.clearJobGroup()
    assert(SparkSpec.jobsInGroup(spark, group) == 0)
  }

  test("a warm cycle and dashboard refresh compile no code") {
    val cfg = config("graft-steady-codegen")
    // the first cycle creates the state tables, the second runs on them
    // as every later cycle does
    poll(cfg, 0)
    poll(cfg, 1)
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val panels = poll(cfg, 2)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled)
    assert(panels("converted_24h") == 1 && panels("run_details") == 9)
  }
}
