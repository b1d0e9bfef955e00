package cpubench

import java.nio.file.{Files, Path}
import graft.pipeline.{GraftConfig, RunAnalytics}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The generated long-lived state against the state real cycles leave, and
  * the call-site phase map against the jobs of real cycles.
  */
class PipelineStateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private var spark: SparkSession = _
  private val scratch = Files.createDirectories(Path.of("target", "spec-scratch"))

  override def beforeAll(): Unit = spark = graft.GraftSession.local("cpubench-spec", 2)
  override def afterAll(): Unit = spark.stop()

  private def deployment(trace: Boolean = false): (Ctx, GraftConfig, PipelineModel) = {
    val work = Files.createTempDirectory(scratch, "run-")
    val listener = if (trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val ctx = new Ctx(spark, work, 7L, Pipeline.BlockSeconds, trace, listener)
    val cfg = Pipeline.config(ctx.freshDir("poll"), Pipeline.writeStub(work, None))
    (ctx, cfg, new PipelineModel(cfg.maxAttempts))
  }

  private def files(cfg: GraftConfig): Seq[Long] =
    Seq("converted", "attempts", "history", "quiet")
      .map(t => Pipeline.parquetFiles(s"${cfg.stateDir}/$t"))

  /** The dashboard's values, with run details as a set of rows and their
    * output paths relative to the deployment's output dir.
    */
  private def panels(cfg: GraftConfig): Map[String, Any] = {
    val rows = RunAnalytics.dashboard(spark, cfg).map { case (k, df) => k -> df.collect() }
    Map(
      "converted_24h" -> rows("converted_24h").head.getLong(0),
      "avg_minutes" -> rows("avg_minutes").head.getDouble(0),
      "per_hour total" -> rows("per_hour").map(_.getLong(1)).sum,
      "recent_cycles" -> rows("recent_cycles").map(_.toSeq).toSeq,
      "run_details" -> rows("run_details").map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3).stripPrefix(cfg.outputDir)))
        .toSet,
      "orig_bytes" -> rows("compression").head.getLong(0),
      "archive_bytes" -> rows("compression").head.getLong(1))
  }

  test("generated state and replayed cycles give the same counts and dashboard") {
    val prior = 2 * Pipeline.BlockCycles
    val follow = 2 * Pipeline.BlockCycles
    val (ctxA, cfgA, modelA) = deployment()
    (0 until prior).foreach(i => Pipeline.cycle(ctxA, cfgA, modelA, i))
    val (ctxB, cfgB, modelB) = deployment()
    Pipeline.seedState(ctxB, cfgB, modelB, prior)
    assert(files(cfgB) == files(cfgA))

    (prior until prior + follow).foreach { i =>
      val a = Pipeline.cycle(ctxA, cfgA, modelA, i)
      val b = Pipeline.cycle(ctxB, cfgB, modelB, i)
      assert(a.isDefined && a == b, s"cycle $i")
    }
    Pipeline.dashboard(ctxA, cfgA, modelA)
    Pipeline.dashboard(ctxB, cfgB, modelB)
    assert(ctxA.tally.failed == 0, ctxA.tally.problems.mkString("; "))
    assert(ctxB.tally.failed == 0, ctxB.tally.problems.mkString("; "))
    assert(files(cfgB) == files(cfgA))

    // archive sizes of the generated runs are estimates (the same entries
    // and compression, other random bytes and header times)
    val (pa, pb) = (panels(cfgA), panels(cfgB))
    assert(pa - "archive_bytes" == pb - "archive_bytes")
    val (arcA, arcB) = (pa("archive_bytes").asInstanceOf[Long], pb("archive_bytes").asInstanceOf[Long])
    assert(math.abs(arcA - arcB) <= arcA / 100, s"archive bytes $arcA vs $arcB")
  }

  private val src = Phases.sourceLines(Path.of("../src/main/scala/graft/pipeline"))

  test("phase attribution plus the driver gap adds up to the wall time") {
    val jobs = Seq((10L, 40L, "a"), (20L, 30L, "b"), (35L, 60L, "c"), (80L, 90L, "a"),
      (95L, 200L, "d"))
    val (owned, gap) = Phases.attribute(jobs, 0L, 100L)
    assert(owned == Map("a" -> 40L, "c" -> 20L, "d" -> 5L))
    assert(owned.values.sum + gap == 100L)
  }

  test("every job of a real runCycle maps to a named phase") {
    val (ctx, cfg, model) = deployment(trace = true)
    val t0 = System.currentTimeMillis()
    (0 until 3).foreach(i => Pipeline.cycle(ctx, cfg, model, i))
    val t1 = System.currentTimeMillis()
    assert(ctx.tally.failed == 0, ctx.tally.problems.mkString("; "))
    JobListener.drain(spark)
    val phases = ctx.listener.get.jobsBetween(t0, t1).map(j => j.callSite -> Phases.phaseOf(j.callSite, src))
    val unmapped = phases.filter(_._2 == Phases.Other).map(_._1.takeWhile(_ != '\n'))
    assert(unmapped.isEmpty, unmapped.mkString("; "))
    assert(Set(Phases.DiscoveryList, Phases.DiscoveryDedup, Phases.Quiescence, Phases.Convert,
      Phases.Archive, Phases.Ledger, Phases.History, Phases.Verify)
      .subsetOf(phases.map(_._2).toSet))
  }
}
