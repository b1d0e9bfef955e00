package graft.pipeline

import graft.GraftSession
import graft.streaming.PipelinePoller

/** CLI entry point for the watch-convert-archive pipeline.
  *
  * Usage (local cores from `SPARK_GRAFT_CPUS`, see [[graft.GraftSession.env]]):
  *   runMain graft.pipeline.PipelineMain <watchDir> <outputDir> <archiveDir> \
  *     <stateDir> <cycles> <intervalS> <quietS> -- <command...>
  *
  * The command template receives {IN} {BASE} {STEM} {OUTFILE} {PLATE_REL}
  * {OUTDIR} substitutions and the same values as env vars (the reference's
  * msconvert contract, dags/msconvert_dag.py:265-339). Example stand-in:
  *   -- /bin/sh -c 'cat "$IN"/raw.bin > "$OUTDIR/$OUTFILE"'
  */
object PipelineMain {
  def main(args: Array[String]): Unit = {
    val (opts, cmd) = args.span(_ != "--")
    require(opts.length == 7, "expected: watch out arch state cycles intervalS quietS -- cmd...")
    val Array(watch, out, arch, state, cycles, intervalS, quietS) = opts
    val cfg = GraftConfig(
      watchDir = watch, outputDir = out, archiveDir = arch, stateDir = state,
      quietS = quietS.toInt, command = cmd.drop(1).toSeq)
    val spark = GraftSession.local("graft-pipeline", GraftSession.env()._1)
    val results = new PipelinePoller(spark, cfg, intervalS.toInt)
      .run(cycles.toInt)
    results.zipWithIndex.foreach {
      case (Right(r), i) =>
        println(s"CYCLE $i: discovered=${r.discovered} pending=${r.pending} " +
          s"ready=${r.ready} success=${r.stats.succeeded} failed=${r.stats.failed} " +
          s"skipped=${r.stats.skipped}")
      case (Left(msg), i) => println(s"CYCLE $i: VERIFY-FAILED: $msg")
    }
    // dashboard refresh over the run-history the cycles just wrote (the
    // engine's Grafana-panel equivalents)
    if (!PipelineRunner.history(spark, cfg).isEmpty) {
      val dash = RunAnalytics.dashboard(spark, cfg)
      println(s"DASH converted_24h=${dash("converted_24h").head().getLong(0)} " +
        s"avg_minutes=${dash("avg_minutes").head().get(0)}")
      val comp = dash("compression").head()
      println(s"DASH orig_bytes=${comp.getAs[Long]("orig_bytes")} " +
        s"archive_bytes=${comp.getAs[Long]("archive_bytes")} " +
        s"saved_pct=${comp.getAs[Double]("saved_pct")}")
      dash("per_hour").collect().foreach(r => println(s"DASH hour=${r.get(0)} n=${r.get(1)}"))
      dash("recent_cycles").collect().foreach(r =>
        println(s"DASH cycle=${r.get(0)} total=${r.get(1)} ok=${r.get(2)} " +
          s"failed=${r.get(3)} skipped=${r.get(4)}"))
    }
    spark.stop()
  }
}
