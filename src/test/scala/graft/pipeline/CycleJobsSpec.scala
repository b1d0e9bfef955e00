package graft.pipeline

import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** How many Spark jobs each phase of one `runCycle` runs. Every job costs
  * the driver a closure clean and a Hadoop configuration copy per file, so
  * a poll cycle's CPU follows its job count, not its row count: the listing
  * is collected once, the ledger filter runs over driver rows against one
  * collect of the done keys, and the attempts update and the verify count
  * are one single-partition stage each. An idle cycle runs no batch job.
  */
class CycleJobsSpec extends SparkSpec {

  /** The call site of every job started in job group `group`: the SQL
    * execution's call site when the job belongs to one (AQE stage jobs),
    * else its last stage's.
    */
  private final class CallSites(group: String) extends SparkListener {
    private val sqlSites = new ConcurrentHashMap[Long, String]()
    val sites = new ConcurrentLinkedQueue[String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.details)
      case _ => ()
    }

    override def onJobStart(js: SparkListenerJobStart): Unit =
      for (props <- Option(js.properties) if props.getProperty("spark.jobGroup.id") == group)
        sites.add(Option(props.getProperty("spark.sql.execution.id"))
          .flatMap(id => Option(sqlSites.get(id.toLong)))
          .getOrElse(js.stageInfos.maxBy(_.stageId).details))
  }

  private val Frame = """\s*(?:at\s+)?graft\.pipeline\.(\w+)\$?\.([\w$]+)\(.*""".r

  /** A job's phase by the innermost pipeline frame of its call site. The
    * only job `runCycle` launches itself is the listing's collect.
    */
  private def phase(callSite: String): String =
    callSite.split("\n").iterator.collectFirst { case Frame(cls, m) => (cls, m) } match {
      case Some(("Discovery", m)) if m.contains("dedup") => "discovery.dedup"
      case Some(("Discovery", _) | ("PipelineRunner", "runCycle")) => "discovery.list"
      case Some(("PipelineRunner", m)) if m.contains("quiesce") => "quiescence.gate"
      case Some(("PipelineRunner", m)) if m.contains("appendHistory") => "pipelinerunner.history"
      case Some(("ExternalProcess", _)) => "externalprocess.convert"
      case Some(("ArchiveSink", _)) => "archivesink.archive"
      case Some(("LedgerStore", _)) => "ledgerstore.write"
      case Some(("VerifyGate", _)) => "verifygate.stats"
      case _ => s"other: ${callSite.takeWhile(_ != '\n')}"
    }

  /** Jobs per phase that `body` runs, counted in job group `group`. */
  private def jobsByPhase[A](group: String)(body: => A): (A, Map[String, Int]) = {
    val listener = new CallSites(group)
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    val a = try body finally sc.clearJobGroup()
    val n = SparkSpec.jobsInGroup(spark, group)
    // this listener's queue may lag the status store's
    val deadline = System.currentTimeMillis() + 10000
    while (listener.sites.size < n && System.currentTimeMillis() < deadline) Thread.sleep(50)
    sc.removeSparkListener(listener)
    val seen = listener.sites.asScala.toSeq
    assert(seen.size == n, s"listener saw ${seen.size} of $n jobs")
    (a, seen.groupBy(phase).map { case (p, s) => p -> s.size })
  }

  private def addRuns(watch: Path, names: Seq[String]): Unit =
    for (n <- names) {
      val d = Files.createDirectories(watch.resolve("plate").resolve(s"$n.d"))
      Files.writeString(d.resolve("raw.bin"), s"payload $n")
    }

  /** A deployment whose ledger holds converted, attempts, history and quiet
    * tables, with a burst of four new runs plus the failed "bad" run
    * observed once: they turn quiet at `t0 + 180`, not before.
    */
  private def deployment(): (GraftConfig, Instant) = {
    val root = Files.createTempDirectory("graft-cycle-jobs")
    val watch = root.resolve("watch")
    val cfg = GraftConfig(
      watchDir = watch.toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString,
      quietS = 60,
      command = Seq("/bin/sh", "-c",
        """test "$BASE" != bad && cat "$IN"/* > "$OUTDIR/$OUTFILE""""))
    val t0 = Instant.parse("2026-01-01T00:00:00Z")
    addRuns(watch, Seq("a1", "a2", "a3", "bad"))
    PipelineRunner.runCycle(spark, cfg, t0)
    val first = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(60))
    assert(first.stats == VerifyGate.BatchStats(4, 1, 0))
    addRuns(watch, Seq("b1", "b2", "b3", "b4"))
    val seen = PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(120))
    assert(seen.pending == 5 && seen.ready == 0)
    (cfg, t0)
  }

  test("a burst cycle with one failing run: one job per listing, dedup, attempts update and verify") {
    val (cfg, t0) = deployment()
    val (r, jobs) = jobsByPhase("cycle-jobs-burst") {
      PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(180))
    }
    assert(r == PipelineRunner.CycleResult(8, 5, 5, VerifyGate.BatchStats(5, 1, 0)))
    assert(jobs == Map(
      "discovery.list" -> 1, // collected once
      "discovery.dedup" -> 1, // the done keys; the filter and cap run on the driver
      "quiescence.gate" -> 2, // size walk, clock read
      "externalprocess.convert" -> 1,
      "archivesink.archive" -> 1,
      // clock rewrite, converted append, attempts update in one stage
      "ledgerstore.write" -> 3,
      "pipelinerunner.history" -> 1,
      "verifygate.stats" -> 1), jobs)
    val attempts = new LedgerStore(spark, cfg.stateDir).attempts.collect()
      .map(a => a.getString(0) -> a.getInt(2)).toMap
    assert(attempts == Map("bad" -> 2))
  }

  test("an idle cycle runs only the listing, dedup and quiescence jobs") {
    val (cfg, t0) = deployment()
    val (r, jobs) = jobsByPhase("cycle-jobs-idle") {
      PipelineRunner.runCycle(spark, cfg, t0.plusSeconds(150))
    }
    assert(r == PipelineRunner.CycleResult(8, 5, 0, VerifyGate.BatchStats(0, 0, 0)))
    assert(jobs == Map("discovery.list" -> 1, "discovery.dedup" -> 1, "quiescence.gate" -> 2), jobs)
  }
}
