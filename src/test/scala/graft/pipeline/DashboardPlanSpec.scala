package graft.pipeline

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant
import scala.jdk.CollectionConverters._
import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row, SaveMode}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions.lit

/** The poll block's metadata-sized queries plan without exchanges: each
  * dashboard panel is one single-partition stage whose collect runs one
  * job, and the run listing fans out by `parallelize` slices, not a
  * shuffle. The panels' values do not depend on how many files the history
  * table is split into.
  */
class DashboardPlanSpec extends SparkSpec {
  import spark.implicits._

  private val t0 = Instant.parse("2026-01-01T00:00:00Z")
  private val Cycles = 15

  private def config(name: String): GraftConfig = {
    val root = Files.createTempDirectory(name)
    GraftConfig(
      watchDir = root.resolve("watch").toString,
      outputDir = root.resolve("out").toString,
      archiveDir = root.resolve("arch").toString,
      stateDir = root.resolve("state").toString)
  }

  /** Cycle `i`'s history rows, two hours after cycle `i - 1` (so the 15
    * cycles span more than the 24 h panel window): two archived successes,
    * one failure, one skip, every `endTs` distinct.
    */
  private def cycleRows(i: Int): (Timestamp, Seq[RunStatus]) = {
    val cycle = t0.plusSeconds(7200L * i)
    val rows = Seq("success", "success", "failed", "skipped").zipWithIndex.map {
      case (state, k) =>
        val end = cycle.plusSeconds(60L * (k + 1))
        RunStatus(s"run${i}_$k", s"plate${i % 3}", s"/in/run${i}_$k.d",
          s"run${i}_$k.mzML", state, "", Timestamp.from(end.minusSeconds(90L * (k + 1))),
          Timestamp.from(end), archived = state == "success",
          origBytes = if (state == "success") 1000L + i else 0L,
          archiveBytes = if (state == "success") 400L + k else 0L)
    }
    (Timestamp.from(cycle), rows)
  }

  private def historyRows(i: Int): DataFrame = {
    val (cycleTs, rows) = cycleRows(i)
    rows.toDS().withColumn("cycleTs", lit(cycleTs))
  }

  /** `cfg` with a fresh state dir whose history holds the [[Cycles]] cycles
    * as one appended file per cycle, or as the one file a compaction leaves.
    */
  private def withHistory(cfg0: GraftConfig, compacted: Boolean): GraftConfig = {
    val cfg = cfg0.copy(stateDir = Files.createTempDirectory("graft-dash-state").toString)
    val path = s"${cfg.stateDir}/history"
    if (compacted)
      (0 until Cycles).map(historyRows).reduce(_ union _)
        .coalesce(1).write.parquet(path)
    else
      for (i <- 0 until Cycles)
        historyRows(i).coalesce(1).write.mode(SaveMode.Append).parquet(path)
    cfg
  }

  private lazy val appended = withHistory(config("graft-dash"), compacted = false)

  private def exchanges(df: DataFrame): Seq[String] =
    SparkSpec.allPlanNodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec => e.nodeName
      case e: BroadcastExchangeExec => e.nodeName
    }

  private def panelRows(cfg: GraftConfig): Map[String, Seq[Row]] =
    RunAnalytics.dashboard(spark, cfg).map { case (k, df) => k -> df.collect().toSeq }

  test("no dashboard panel plans a shuffle or broadcast exchange") {
    val files = Files.list(Paths.get(appended.stateDir, "history"))
    try assert(files.iterator().asScala.count(_.toString.endsWith(".parquet")) == Cycles)
    finally files.close()
    for ((name, df) <- RunAnalytics.dashboard(spark, appended)) {
      df.collect()
      assert(exchanges(df).isEmpty, s"panel $name:\n${df.queryExecution.executedPlan}")
    }
  }

  test("collecting the six panels one by one runs six jobs") {
    val panels = RunAnalytics.dashboard(spark, appended)
    assert(panels.size == 6)
    val group = "dashboard-collect"
    spark.sparkContext.setJobGroup(group, "collect every dashboard panel")
    try panels.values.foreach(_.collect())
    finally spark.sparkContext.clearJobGroup()
    assert(SparkSpec.jobsInGroup(spark, group) == 6)
  }

  test("the run listing plans no exchange") {
    val cfg = config("graft-dash-discover")
    for (p <- 1 to 6; r <- 1 to 2)
      Files.createDirectories(Paths.get(cfg.watchDir, s"plate$p", s"run$r.d"))
    val ds = Discovery.discover(spark, cfg)
    assert(ds.collect().length == 12)
    assert(exchanges(ds.toDF()).isEmpty, ds.queryExecution.executedPlan.toString)
  }

  test("panel values are the same over 15 appended files and one compacted file") {
    val split = panelRows(appended)
    val whole = panelRows(withHistory(appended, compacted = true))
    assert(split.keySet == whole.keySet && split.size == 6)
    for (name <- split.keys) assert(split(name) == whole(name), s"panel $name")

    // and both are the history's values, recounted here
    val all = (0 until Cycles).flatMap(i => cycleRows(i)._2)
    val ok = all.filter(_.state == "success")
    val latest = all.map(_.endTs.getTime).max
    assert(split("converted_24h").head.getLong(0) ==
      ok.count(_.endTs.getTime > latest - 24L * 3600 * 1000))
    assert(split("per_hour").map(_.getLong(1)).sum == ok.size)
    assert(split("recent_cycles").map(_.getLong(1)) == Seq.fill(Cycles)(4L))
    assert(split("recent_cycles").map(_.getTimestamp(0)) ==
      (0 until Cycles).reverse.map(i => cycleRows(i)._1))
    assert(split("run_details").map(_.getString(0)) ==
      all.sortBy(s => (-s.endTs.getTime, s.base)).map(_.base))
    assert(split("compression").head.getLong(0) == ok.map(_.origBytes).sum)
    assert(split("compression").head.getLong(1) == ok.map(_.archiveBytes).sum)
  }
}
