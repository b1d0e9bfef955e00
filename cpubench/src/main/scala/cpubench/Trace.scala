package cpubench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One Spark job as the listener saw it: wall interval (epoch ms), the call
  * site that launched it and the summed metrics of its tasks.
  */
final case class JobRec(
    id: Int, startMs: Long, endMs: Long, callSite: String,
    tasks: Long, cpuNs: Long, shuffleWriteB: Long, spillB: Long, peakExecMemB: Long)

/** The benchmark's own SparkListener. It is installed only in traced runs;
  * everything it records stays in memory until the run ends.
  */
final class JobListener extends SparkListener {
  private final class Acc(val id: Int, val startMs: Long, val callSite: String) {
    var tasks, cpuNs, sw, spill, peak = 0L
  }
  private val sqlCallSites = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val open = new ConcurrentHashMap[Int, Acc]()
  private val done = ArrayBuffer.empty[JobRec]

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => sqlCallSites.put(e.executionId, e.details)
    case _ => ()
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    // The SQL execution's call site covers jobs launched off the caller's
    // thread (broadcasts); plain RDD jobs carry it on their result stage.
    val execSite = Option(js.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => Option(sqlCallSites.get(id.toLong)))
    val stageSite = js.stageInfos.sortBy(-_.stageId).headOption.map(_.details)
    js.stageIds.foreach(s => stageJob.put(s, js.jobId))
    open.put(js.jobId, new Acc(js.jobId, js.time, execSite.orElse(stageSite).getOrElse("")))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val acc = Option(stageJob.get(te.stageId)).flatMap(j => Option(open.get(j)))
    for (a <- acc; m <- Option(te.taskMetrics)) a.synchronized {
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.sw += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peak = math.max(a.peak, m.peakExecutionMemory)
    }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(open.remove(je.jobId)).foreach { a =>
      a.synchronized {
        done.synchronized {
          done += JobRec(a.id, a.startMs, je.time, a.callSite, a.tasks, a.cpuNs, a.sw, a.spill,
            a.peak)
        }
      }
    }

  /** Ended jobs that started within [fromMs, toMs]. */
  def jobsBetween(fromMs: Long, toMs: Long): Seq[JobRec] =
    done.synchronized(done.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toList)
}

object JobListener {
  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit =
    org.apache.spark.BusAccess.waitUntilEmpty(spark.sparkContext)
}

/** Executor-layer totals of a set of jobs. */
final case class ExecTotals(jobs: Long, tasks: Long, cpuNs: Long, shuffleWriteB: Long,
    spillB: Long, peakB: Long)

object ExecTotals {
  def of(js: Seq[JobRec]): ExecTotals = ExecTotals(js.size.toLong, js.map(_.tasks).sum,
    js.map(_.cpuNs).sum, js.map(_.shuffleWriteB).sum, js.map(_.spillB).sum,
    if (js.isEmpty) 0L else js.map(_.peakExecMemB).max)

  /** The `exec.*` metrics, per block or round (`per` of them). */
  def emit(ctx: Ctx, t: ExecTotals, per: Double): Unit = {
    ctx.layer("exec.jobs", t.jobs / per, "count")
    ctx.layer("exec.tasks", t.tasks / per, "count")
    ctx.layer("exec.task_cpu_s", t.cpuNs / 1e9 / per, "s")
    ctx.layer("exec.shuffle_write_mb", t.shuffleWriteB / 1e6 / per, "MB")
    ctx.layer("exec.spill_mb", t.spillB / 1e6 / per, "MB")
    ctx.layer("exec.peak_exec_mem_mb", t.peakB / 1e6, "MB")
  }
}

/** Maps the call site of a job run inside `PipelineRunner.runCycle` to the
  * pipeline phase (layer) that launched it. The innermost `graft.` frame
  * decides: its class names the layer; frames in `runCycle` itself are
  * resolved by the identifiers on that source line, so the map does not
  * depend on line numbers. `pipelinerunner.other` is the fallback.
  */
object Phases {
  val DiscoveryList = "discovery.list"
  val DiscoveryDedup = "discovery.dedup"
  val Quiescence = "quiescence.gate"
  val Convert = "externalprocess.convert"
  val Archive = "archivesink.archive"
  val Ledger = "ledgerstore.write"
  val History = "pipelinerunner.history"
  val Verify = "verifygate.stats"
  val Other = "pipelinerunner.other"

  val all: Seq[String] =
    Seq(DiscoveryList, DiscoveryDedup, Quiescence, Convert, Archive, Ledger, History, Verify, Other)

  private val Frame = """\s*(?:at\s+)?(graft\.[\w.$]+)\.([\w$]+)\((\w+\.scala):(\d+)\).*""".r

  /** The (class, method, file, line) of the innermost graft frame. */
  def graftFrame(callSite: String): Option[(String, String, String, Int)] =
    callSite.split("\n").iterator.collectFirst {
      case Frame(cls, method, file, line) => (cls.stripSuffix("$"), method, file, line.toInt)
    }

  /** `sourceLine(file, n)` returns line n of a graft source file, if known. */
  def phaseOf(callSite: String, sourceLine: (String, Int) => Option[String]): String =
    graftFrame(callSite) match {
      case None => Other
      case Some((cls, method, file, line)) =>
        cls.split('.').last match {
          case "Discovery" => if (method.contains("dedup")) DiscoveryDedup else DiscoveryList
          case "LedgerStore" => Ledger
          case "VerifyGate" => Verify
          case "ExternalProcess" => Convert
          case "ArchiveSink" => Archive
          case "PipelineRunner" =>
            if (method.contains("quiesce") || method.contains("swapState")) Quiescence
            else if (method.contains("appendHistory") || method == "history") History
            else sourceLine(file, line).map(byIdentifier).getOrElse(Other)
          case _ => Other
        }
    }

  /** Reader of line n of a pipeline source file under `dir` (the engine
    * sources are part of the checkout the benchmark builds from).
    */
  def sourceLines(dir: java.nio.file.Path): (String, Int) => Option[String] = {
    val cache = scala.collection.mutable.Map.empty[String, Option[IndexedSeq[String]]]
    (file, n) => cache.getOrElseUpdate(file, {
      val p = dir.resolve(file)
      if (java.nio.file.Files.exists(p))
        Some(scala.jdk.CollectionConverters.ListHasAsScala(
          java.nio.file.Files.readAllLines(p)).asScala.toIndexedSeq)
      else None
    }).flatMap(_.lift(n - 1))
  }

  /** Phase of a `runCycle` source line by the identifiers it uses. */
  def byIdentifier(src: String): String = {
    val rules = Seq(
      "ExternalProcess" -> Convert, "ArchiveSink" -> Archive, "VerifyGate" -> Verify,
      "appendHistory" -> History, "ledger." -> Ledger, "quiesce" -> Quiescence,
      "ready" -> Quiescence, "pending" -> DiscoveryDedup, "Discovery.dedup" -> DiscoveryDedup,
      "discover" -> DiscoveryList)
    rules.collectFirst { case (k, p) if src.contains(k) => p }.getOrElse(Other)
  }

  /** Split the wall interval [t0, t1] (ms) among phases: at each instant
    * covered by at least one job, the earliest-started running job owns it.
    * The owned spans sum to the covered time, so
    * sum(phases) + gap == t1 - t0, where gap is the time no job ran.
    */
  def attribute(jobs: Seq[(Long, Long, String)], t0: Long, t1: Long): (Map[String, Long], Long) = {
    val clipped = jobs.map { case (s, e, p) => (math.max(s, t0), math.min(math.max(e, s), t1), p) }
      .filter { case (s, e, _) => e > s }.sortBy(_._1)
    val owned = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var covered = t0 // everything before `covered` is already assigned
    clipped.foreach { case (s, e, p) =>
      val from = math.max(s, covered)
      if (e > from) { owned(p) += e - from; covered = e }
    }
    (owned.toMap, (t1 - t0) - owned.values.sum)
  }
}

final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long,
    cpuS: Double, attrs: Map[String, String])

/** Spans recorded at the benchmark's layer boundaries (block, cycle, phase,
  * job; round, row, build, action), each with the process CPU it covered
  * when that was sampled. Kept in memory; written out as JSON lines when a
  * traced run ends.
  */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, startNs: Long, endNs: Long, cpuS: Double = Double.NaN,
      attrs: Map[String, String] = Map.empty): Int = {
    val id = buf.size + 1
    buf += Span(id, parent, name, startNs, endNs, cpuS, attrs)
    id
  }

  def open(parent: Int, name: String): Int = add(parent, name, System.nanoTime(), -1L)

  def close(id: Int, cpuS: Double): Unit =
    buf(id - 1) = buf(id - 1).copy(endNs = System.nanoTime(), cpuS = cpuS)

  /** Run `body` as a span under `parent`, sampling process CPU at its
    * edges; returns the result and the span's CPU delta.
    */
  def timed[A](parent: Int, name: String)(body: Int => A): (A, CpuDelta) = {
    val id = open(parent, name)
    val c0 = ProcCpu.sample()
    val a = body(id)
    val d = ProcCpu.delta(c0, ProcCpu.sample())
    close(id, d.totalS)
    (a, d)
  }

  def write(path: java.nio.file.Path): Unit = {
    implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
    val lines = buf.map { s =>
      org.json4s.jackson.Serialization.write(Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "cpu_s" -> (if (s.cpuS.isNaN) None else Some(s.cpuS)), "attrs" -> s.attrs))
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
