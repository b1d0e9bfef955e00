package graft.streaming

import java.nio.file.Files
import java.time.Instant
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.pipeline.{GraftConfig, PipelineRunner, RunAnalytics}
import org.apache.spark.sql.streaming.Trigger

/** The Grafana refresh loop inside the engine: real pipeline cycles append
  * history, the dashboard stream notices and re-publishes every panel as a
  * manifest-committed generation, and a reader through the manifest always
  * sees one complete refresh.
  */
class StreamingDashboardSpec extends SparkSpec {

  private def mkRuns(cfg: GraftConfig, plate: String, names: Seq[String]): Unit =
    for (n <- names) {
      val d = java.nio.file.Paths.get(cfg.watchDir).resolve(plate).resolve(s"$n.d")
      Files.createDirectories(d)
      Files.writeString(d.resolve("raw.bin"), s"payload $plate/$n")
    }

  private def runStreamOnce(cfg: GraftConfig): Unit = {
    val q = DashboardStream.start(spark, cfg, Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow refresh must drain and stop")
  }

  test("cycles publish manifest-committed panel generations that track the history") {
    val root = Files.createTempDirectory("graft-dashstream")
    val cfg = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      command = Seq("/bin/sh", "-c", """cat "$IN"/* > "$OUTDIR/$OUTFILE""""))
    try {
      mkRuns(cfg, "p1", Seq("run_a", "run_b"))
      PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T10:00:00Z"))
      runStreamOnce(cfg)

      assert(DashboardStream.published(cfg), "first refresh must publish a manifest")
      val gen1 = DashboardStream.liveGeneration(cfg)
      for (panel <- RunAnalytics.dashboard(spark, cfg).keys) {
        val files = Files.list(root.resolve("state").resolve("dashboard").resolve(gen1).resolve(panel))
        try assert(files.iterator().asScala.count(_.toString.endsWith(".parquet")) == 1, panel)
        finally files.close()
      }
      assert(DashboardStream.readPanel(spark, cfg, "converted_24h")
        .head().getLong(0) == 2)
      // published panels agree with the live batch dashboard, column for column
      val live = RunAnalytics.dashboard(spark, cfg)
      for (panel <- Seq("avg_minutes", "recent_cycles", "compression")) {
        val pub = DashboardStream.readPanel(spark, cfg, panel)
          .collect().map(_.toSeq).toSet
        val direct = live(panel).collect().map(_.toSeq).toSet
        assert(pub == direct, s"panel $panel: published != live batch result")
      }

      // a second cycle with NEW runs → the stream sees new history rows and
      // republishes; the reader's view advances atomically
      mkRuns(cfg, "p2", Seq("run_c", "run_d"))
      PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T11:00:00Z"))
      runStreamOnce(cfg)
      val gen2 = DashboardStream.liveGeneration(cfg)
      assert(gen2 != gen1, "new history must advance the refresh generation")
      assert(DashboardStream.readPanel(spark, cfg, "converted_24h")
        .head().getLong(0) == 4)
      assert(DashboardStream.readPanel(spark, cfg, "recent_cycles").count() == 2)

      // deferred GC: the PREVIOUS generation survives its successor's flip
      // (readers mid-flight stay safe) and is swept by the NEXT refresh
      val dash = root.resolve("state").resolve("dashboard")
      assert(Files.exists(dash.resolve(gen1)),
        "previous generation must survive until the next refresh's sweep")
      DashboardStream.refresh(spark, cfg, 99)
      assert(!Files.exists(dash.resolve(gen1)),
        "the next refresh's sweep removes the generation superseded one flip ago")
      assert(Files.exists(dash.resolve(gen2)),
        "the just-superseded generation survives until the following sweep")
      assert(DashboardStream.liveGeneration(cfg) == "gen_99")
      assert(DashboardStream.readPanel(spark, cfg, "converted_24h")
        .head().getLong(0) == 4)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("an idle stream with no new history publishes nothing new") {
    val root = Files.createTempDirectory("graft-dashidle")
    val cfg = GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 0,
      command = Seq("/bin/sh", "-c", """cat "$IN"/* > "$OUTDIR/$OUTFILE""""))
    try {
      mkRuns(cfg, "p1", Seq("run_a"))
      PipelineRunner.runCycle(spark, cfg, Instant.parse("2026-01-01T10:00:00Z"))
      runStreamOnce(cfg)
      val gen = DashboardStream.liveGeneration(cfg)
      // no new cycle: re-running the stream from its checkpoint emits no
      // batch, so the published generation is untouched (refresh cost is
      // zero when nothing changed — the polling-loop economics)
      runStreamOnce(cfg)
      assert(DashboardStream.liveGeneration(cfg) == gen,
        "no new history must mean no republish")
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("a refresh recognizes a file or path that vanished under it as a missing-file error") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-vanish").resolve("t").toString
    Seq(1, 2).toDF("x").coalesce(1).write.parquet(dir)
    val listed = spark.read.parquet(dir) // files listed now, read at collect
    Files.list(java.nio.file.Paths.get(dir)).forEach(Files.delete(_))
    assert(DashboardStream.missingFile(intercept[Exception](listed.collect())))
    Files.delete(java.nio.file.Paths.get(dir))
    assert(DashboardStream.missingFile(intercept[Exception](spark.read.parquet(dir))))
    assert(!DashboardStream.missingFile(new RuntimeException("boom", new IllegalStateException)))
  }
}
