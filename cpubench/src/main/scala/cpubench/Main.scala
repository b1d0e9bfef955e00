package cpubench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import graft.GraftSession
import org.apache.spark.sql.SparkSession

/** State shared by a workload run: the session, the scratch directory,
  * the outcome tally and the metrics reported so far.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, seconds: Double,
    val trace: Boolean, val listener: Option[JobListener]) {
  val tally = new Tally
  val spans = new Spans
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infoM = mutable.LinkedHashMap.empty[String, Double]

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerM(name) = (v, unit)
  /** A figure printed to standard error and kept in the result file, but
    * not a benchmark metric.
    */
  def info(name: String, v: Double): Unit = infoM(name) = v

  /** Set-up ends here: `setup_s` is the processor time since JVM start,
    * children included (raw; reported scaled by [[cpuScale]], like every
    * processor time).
    */
  def setupDone(): Unit = e2e("setup_s", ProcCpu.sinceStart(), "s")

  /** Run the timed part: `units` blocks or rounds. Reports `work_cpu_s`
    * (processor time per unit), `live_heap_mb` and the processor-time
    * split; `body` gets the span id of the timed part. The calibration
    * kernel runs just before and just after it, outside the measurement.
    */
  def timedPart(units: Int)(body: Int => Unit): Unit = {
    calibrate(warm = true)
    val gc0 = ProcCpu.gcPauseS()
    val wall0 = System.nanoTime()
    val s0 = ProcCpu.sample()
    val top = spans.open(0, "timed")
    body(top)
    val s1 = ProcCpu.sample()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val d = ProcCpu.delta(s0, s1)
    spans.close(top, d.totalS)
    e2e("work_cpu_s", d.totalS / units, "s")
    ProcCpu.Classes.foreach(c => layer(s"cpu.${c}_s", d.byClass(c) / units, "s"))
    layer("host.steal_pct", ProcCpu.steal(s0, s1), "%")
    layer("jvm.run_delay_s", d.runDelayS / units, "s")
    layer("jvm.gc_pause_s", (ProcCpu.gcPauseS() - gc0) / units, "s")
    calibrate(warm = false)
    info("steal_pct", ProcCpu.steal(s0, s1))
    info("timed_wall_s", wallS)
    e2e("live_heap_mb", Main.liveHeapMb(), "MB")
  }

  private val calibrations = mutable.ArrayBuffer.empty[Double]

  /** Run the calibration kernel `Calibration.Reps` times on every
    * processor, after one unrecorded run when `warm`.
    */
  private def calibrate(warm: Boolean): Unit = {
    val threads = Runtime.getRuntime.availableProcessors()
    if (warm) Calibration.run(threads)
    calibrations ++= (0 until Calibration.Reps).map(_ => Calibration.run(threads))
  }

  /** Factor from this run's processor times to the reference host speed:
    * the kernel's reference time over the median of its runs around the
    * timed part (1 when it did not run).
    */
  def cpuScale: Double =
    if (calibrations.isEmpty) 1.0 else Calibration.RefS / Stats.median(calibrations.toSeq)

  /** Run one step (of set-up, or a block or round of the timed part),
    * logging its wall time and its processor time split by thread class.
    */
  def step[A](name: String)(body: => A): A = {
    val c0 = ProcCpu.sample()
    val (a, wall) = Stats.timed(body)
    val d = ProcCpu.delta(c0, ProcCpu.sample())
    Main.log(f"  step $name%-8s wall $wall%7.2f s  cpu ${d.totalS}%7.2f s  " +
      ProcCpu.Classes.map(c => f"$c=${d.byClass(c)}%.2f").mkString(" ") +
      f" delay=${d.runDelayS}%.2f")
    a
  }

  /** Timed blocks or rounds for the run's `--seconds`, when one takes about
    * `unitSeconds` of wall time: a fixed count for a given `--seconds`, so
    * every run does the same work however fast the host is.
    */
  def units(unitSeconds: Double): Int = math.max(1, math.round(seconds / unitSeconds).toInt)

  def freshDir(prefix: String): Path = Files.createTempDirectory(work, prefix + "-")
}

/** Entry point: `cpubench.Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --result FILE`. Prints a summary to standard error and writes the
  * outcome and the metrics as one JSON object to FILE: `correct`,
  * `attempted`, `failed`, `end_to_end`, `per_layer` and `info`. Traced
  * runs also write their spans to `spans.jsonl` in DIR.
  */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "pipeline-poll" -> Pipeline.poll,
    "registry-dedup" -> Registry.run)

  def log(s: String): Unit = System.err.println(s)

  def main(args: Array[String]): Unit = {
    org.apache.logging.log4j.core.config.Configurator.setRootLevel(
      org.apache.logging.log4j.Level.OFF)
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val workload = opts("--workload")
    val body = Workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val work = Path.of(opts("--work"))
    Files.createDirectories(work)
    val trace = opts.getOrElse("--trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = GraftSession.local("cpubench", cores)
    log(f"  session ready at cpu ${ProcCpu.sinceStart()}%.2f s")
    spark.sparkContext.setLogLevel("OFF")
    val listener = if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new Ctx(spark, work, opts("--seed").toLong, opts("--seconds").toDouble, trace,
      listener)
    try body(ctx)
    catch {
      case scala.util.control.NonFatal(e) =>
        ctx.tally.record(Seq(s"workload aborted: $e"))
        e.printStackTrace()
    }
    if (trace) ctx.spans.write(work.resolve("spans.jsonl"))
    spark.stop()

    // every processor time is reported at the reference host speed; the
    // summary also shows the raw value
    val scale = ctx.cpuScale
    ctx.info("cpu_scale", scale)
    def cpuTime(name: String) =
      name == "setup_s" || name.startsWith("cpu.") || name.endsWith("cpu_s")
    def scaled(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> (if (cpuTime(k)) v * scale else v, u, v) }
    val (e2e, layer) = (scaled(ctx.e2eM), scaled(ctx.layerM))
    log(s"[cpubench] $workload (${if (trace) "traced" else "untraced"}): " +
      s"attempted=${ctx.tally.attempted} failed=${ctx.tally.failed}")
    (e2e ++ (if (trace) layer else Nil)).foreach { case (k, (v, u, raw)) =>
      log(f"  $k%-34s $v%14.6f $u" + (if (cpuTime(k)) f"  (raw $raw%.3f)" else ""))
    }
    ctx.infoM.foreach { case (k, v) => log(f"  ${"(" + k + ")"}%-34s $v%14.6f") }
    ctx.tally.problems.take(20).foreach(p => log("  PROBLEM " + p))

    def metrics(m: mutable.LinkedHashMap[String, (Double, String, Double)]) =
      m.map { case (k, (v, u, _)) => k -> Map("value" -> v, "unit" -> u) }
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    Files.writeString(Path.of(opts("--result")), org.json4s.jackson.Serialization.write(Map(
      "correct" -> (ctx.tally.failed == 0 && ctx.tally.attempted > 0),
      "attempted" -> ctx.tally.attempted,
      "failed" -> ctx.tally.failed,
      "end_to_end" -> metrics(e2e),
      "per_layer" -> metrics(layer),
      "info" -> ctx.infoM)) + "\n")
  }

  /** Heap in use after forced collections, in MB: collect until the heap
    * stops shrinking, since Spark's cleaner threads release references
    * asynchronously after the last job.
    */
  def liveHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed }
    var best = collect()
    var rounds = 1
    var next = collect()
    while (next < best && rounds < 10) { best = next; next = collect(); rounds += 1 }
    math.min(best, next) / 1e6
  }
}
