package cpubench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.pipeline.{GraftConfig, PipelineRunner}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Spark's code generator counters: (classes compiled, compile seconds). */
object Codegen {
  def now(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e9)

  def emit(ctx: Ctx, from: (Long, Double), per: Double): Unit = {
    val (n, s) = now()
    ctx.layer("codegen.compiles", (n - from._1) / per, "count")
    ctx.layer("codegen.compile_s", (s - from._2) / per, "s")
  }
}

/** Per-layer accounting of traced poll cycles. Each `runCycle`'s Spark jobs
  * are attributed to phases by call site ([[Phases]]); the time no job ran
  * is the driver gap, so a cycle's phases plus its gap add up to its wall
  * time. `stubLog` is where the traced converter stub logs its runs.
  */
final class CycleTrace(val stubLog: Path) {
  private val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val walls = mutable.ArrayBuffer.empty[Double]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private var gapMs, cycleJobs, cycleTasks, listed, filesRead = 0L
  private var stubRuns, stubNs, bytesIn, bytesOut, historyFiles = 0L
  private val refreshCpu, refreshWall = mutable.ArrayBuffer.empty[Double]
  private var lastCycle: Seq[(String, Long)] = Nil
  private val codegen0 = Codegen.now()
  private val sourceLine = Phases.sourceLines(Path.of("src/main/scala/graft/pipeline"))

  /** Run one cycle (`body`) under block span `parent` and account it. */
  def cycle(ctx: Ctx, cfg: GraftConfig, parent: Int, model: PipelineModel, index: Int)(
      body: => Option[PipelineRunner.CycleResult]): Unit = {
    filesRead += Pipeline.parquetFiles(s"${cfg.stateDir}/converted") +
      Pipeline.parquetFiles(s"${cfg.stateDir}/attempts")
    val archived0 = Pipeline.archiveBytesOnDisk(cfg)
    val ms0 = System.currentTimeMillis()
    val ns0 = System.nanoTime()
    var span = 0
    val (result, _) = ctx.spans.timed(parent, "cycle") { id => span = id; body }
    val ms1 = System.currentTimeMillis()
    JobListener.drain(ctx.spark)
    val js = ctx.listener.get.jobsBetween(ms0, ms1)
    jobs ++= js
    val phased = js.map(j => (j, Phases.phaseOf(j.callSite, sourceLine)))
    val (owned, gap) =
      Phases.attribute(phased.map { case (j, p) => (j.startMs, j.endMs, p) }, ms0, ms1)
    owned.foreach { case (p, ms) => phaseMs(p) += ms }
    lastCycle = Phases.all.map(p => p -> owned.getOrElse(p, 0L)) :+ ("driver_gap" -> gap)
    walls += (ms1 - ms0) / 1000.0
    gapMs += gap
    cycleJobs += js.size
    cycleTasks += js.map(_.tasks).sum
    listed += result.map(_.discovered).getOrElse(0L)
    phased.foreach { case (j, p) =>
      val off = (j.startMs - ms0) * 1000000L
      ctx.spans.add(span, p, ns0 + off, ns0 + off + (j.endMs - j.startMs) * 1000000L,
        attrs = Map("job" -> j.id.toString, "call_site" -> j.callSite.takeWhile(_ != '\n')))
    }
    model.logs.lastOption.filter(_.index == index).foreach { c =>
      bytesIn += c.ready.collect { case (r, true) => r.bytes }.sum
    }
    bytesOut += Pipeline.archiveBytesOnDisk(cfg) - archived0
    if (Files.exists(stubLog)) {
      Files.readAllLines(stubLog).asScala.foreach { l =>
        l.trim.split(" ") match {
          case Array(a, b) => stubRuns += 1; stubNs += b.toLong - a.toLong
          case _ => ()
        }
      }
      Files.delete(stubLog)
    }
  }

  /** Run one dashboard refresh (`body`) under block span `parent`. */
  def dashboard(ctx: Ctx, cfg: GraftConfig, parent: Int)(body: => Unit): Unit = {
    val ms0 = System.currentTimeMillis()
    val ((), cpu) = ctx.spans.timed(parent, "dashboard")(_ => body)
    val ms1 = System.currentTimeMillis()
    refreshCpu += cpu.totalS
    refreshWall += (ms1 - ms0) / 1000.0
    JobListener.drain(ctx.spark)
    jobs ++= ctx.listener.get.jobsBetween(ms0, ms1)
    historyFiles = Pipeline.parquetFiles(s"${cfg.stateDir}/history")
  }

  /** Emit the per-layer metrics: phases, jobs and bytes per cycle; refresh
    * figures per refresh; executor and code generator figures per block.
    */
  def emit(ctx: Ctx, cfg: GraftConfig, blocks: Int): Unit = {
    val n = walls.size.toDouble
    def s(ms: Long) = ms / 1000.0 / n
    import Phases._
    ctx.layer("discovery.list_s", s(phaseMs(DiscoveryList)), "s")
    ctx.layer("discovery.runs_listed", listed / n, "count")
    ctx.layer("discovery.dedup_s", s(phaseMs(DiscoveryDedup)), "s")
    ctx.layer("quiescence.gate_s", s(phaseMs(Quiescence)), "s")
    val convertS = s(phaseMs(Convert))
    ctx.layer("externalprocess.convert_s", convertS, "s")
    ctx.layer("externalprocess.invocations", stubRuns / n, "count")
    ctx.layer("externalprocess.slot_util",
      if (convertS > 0) stubNs / 1e9 / n / (Pipeline.PoolSlots * convertS) else 0.0, "ratio")
    ctx.layer("archivesink.archive_s", s(phaseMs(Archive)), "s")
    ctx.layer("archivesink.bytes_in", bytesIn / n, "B")
    ctx.layer("archivesink.bytes_out", bytesOut / n, "B")
    ctx.layer("ledgerstore.write_s", s(phaseMs(Ledger)), "s")
    ctx.layer("ledgerstore.files_read", filesRead / n, "count")
    ctx.layer("pipelinerunner.history_s", s(phaseMs(History)), "s")
    ctx.layer("pipelinerunner.other_s", s(phaseMs(Other)), "s")
    ctx.layer("pipelinerunner.jobs_per_cycle", cycleJobs / n, "count")
    ctx.layer("pipelinerunner.tasks_per_cycle", cycleTasks / n, "count")
    ctx.layer("pipelinerunner.driver_gap_s", s(gapMs), "s")
    ctx.layer("pipelinerunner.cycle_wall_s", Stats.median(walls.toSeq), "s")
    ctx.layer("pipelinerunner.state_files", Pipeline.parquetFiles(cfg.stateDir).toDouble, "count")
    ctx.layer("verifygate.stats_s", s(phaseMs(Verify)), "s")
    ctx.layer("runanalytics.refresh_cpu_s", Stats.mean(refreshCpu.toSeq), "s")
    ctx.layer("runanalytics.refresh_wall_s", Stats.mean(refreshWall.toSeq), "s")
    ctx.layer("runanalytics.history_files", historyFiles.toDouble, "count")
    ExecTotals.emit(ctx, ExecTotals.of(jobs.toSeq), blocks)
    Codegen.emit(ctx, codegen0, blocks)
    ctx.info("cycle_wall_mean_s", Stats.mean(walls.toSeq))
    Main.log("  last traced cycle (ms): " +
      lastCycle.map { case (p, ms) => s"$p=$ms" }.mkString(" ") +
      s" | wall=${lastCycle.map(_._2).sum}")
  }
}
