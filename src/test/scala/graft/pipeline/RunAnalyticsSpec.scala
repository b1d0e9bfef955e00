package graft.pipeline

import java.nio.file.Files
import java.time.Instant
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The five dashboard queries over history produced by REAL pipeline cycles —
  * the loop the reference closes between its DAG and its Grafana panels.
  */
class RunAnalyticsSpec extends SparkSpec {

  private lazy val cfg: GraftConfig = {
    val root = Files.createTempDirectory("graft-analytics")
    val watch = root.resolve("watch")
    for (p <- Seq("p1", "p2"); r <- Seq("a", "b")) {
      val d = watch.resolve(p).resolve(s"run_${p}_$r.d")
      Files.createDirectories(d)
      Files.writeString(d.resolve("raw.bin"), s"payload $p$r")
    }
    val c = GraftConfig(
      watchDir = watch.toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      command = Seq("/bin/sh", "-c", """cat "$IN"/* > "$OUTDIR/$OUTFILE""""))
    PipelineRunner.runCycle(spark, c, Instant.parse("2026-01-01T10:00:00Z"))
    c
  }

  test("dashboard panels compute over engine-produced history") {
    val d = RunAnalytics.dashboard(spark, cfg)
    assert(d("converted_24h").head().getLong(0) == 4)
    assert(d("avg_minutes").head().getDouble(0) >= 0.0)
    val perHour = d("per_hour").collect()
    assert(perHour.map(_.getLong(1)).sum == 4)
    val cycles = d("recent_cycles").collect()
    assert(cycles.length == 1 && cycles.head.getAs[Long]("converted") == 4)
    val details = d("run_details").collect()
    assert(details.length == 4)
    assert(details.forall(_.getAs[String]("output_path").contains(cfg.outputDir)))
    val comp = d("compression").head()
    assert(comp.getAs[Long]("orig_bytes") > 0)
    assert(comp.getAs[Long]("archive_bytes") > 0)
    assert(!comp.isNullAt(comp.fieldIndex("saved_pct")))
  }

  test("dashboard on an empty history returns empty/zero panels, not nulls") {
    val root = Files.createTempDirectory("graft-analytics-empty")
    val empty = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString)
    val d = RunAnalytics.dashboard(spark, empty).map { case (k, df) => k -> df.collect().toSeq }
    assert(d("converted_24h").map(_.getLong(0)) == Seq(0L))
    assert(d("avg_minutes").size == 1 && d("avg_minutes").head.isNullAt(0))
    assert(d("per_hour").isEmpty && d("recent_cycles").isEmpty && d("run_details").isEmpty)
    assert(d("compression").map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      Seq((0L, 0L, 0.0)))
  }

  test("per-hour series matches the flagship entry query shape") {
    val h = PipelineRunner.history(spark, cfg)
    val series = RunAnalytics.conversionsPerHour(h)
    assert(series.columns.toSeq == Seq("time", "converted"))
    assert(series.count() == 1) // all 4 runs in one cycle => one hour bucket
  }
}
