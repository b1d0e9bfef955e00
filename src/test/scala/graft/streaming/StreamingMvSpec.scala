package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp

import graft.{SparkSpec, StoredManifest}
import graft.plans.SummaryRewrite
import graft.queries.Lakehouse
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Incremental materialized-view maintenance gates: micro-batches fold
  * into the summary algebraically (never re-scanning history), generations
  * publish atomically under the manifest, re-delivery is a no-op, and the
  * rewrite rule serves day-grain aggregates from the freshly maintained
  * generation bit-identically to a direct recompute over all facts.
  */
class StreamingMvSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private def rows1 = Seq(
    (ts("2026-01-01 08:00:00"), "view", 10.0),
    (ts("2026-01-01 09:30:00"), "view", 20.5),
    (ts("2026-01-01 10:00:00"), "click", 5.0),
    (ts("2026-01-02 11:00:00"), "view", 7.25))

  private def rows2 = Seq(
    (ts("2026-01-01 23:00:00"), "view", 1.5), // merges into an existing group
    (ts("2026-01-02 01:00:00"), "click", -3.0), // new group, negative min
    (ts("2026-01-03 02:00:00"), "purchase", 99.0)) // new day

  private def writeFacts(dir: String, rows: Seq[(Timestamp, String, Double)],
      part: String): Unit = {
    import spark.implicits._
    rows.toDF("ts", "event_type", "value")
      .coalesce(1).write.mode("append").parquet(dir)
    val _ = part
  }

  private def runOnce(factDir: String, mvDir: String, ckpt: String): Unit = {
    val q = MvMaintainStream.start(spark, factDir, mvDir, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(!q.isActive)
  }

  private def factDf(dir: String): DataFrame =
    spark.read.schema(MvMaintainStream.factSchema).parquet(dir)

  private def direct(dir: String): Array[org.apache.spark.sql.Row] =
    Lakehouse.dailyRollup(factDf(dir)).collect()

  private def scanPaths(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectLeaves().flatMap {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            fs.location.rootPaths.map(_.toString)
          case _ => Nil
        }
      case _ => Nil
    }

  test("bootstrap, incremental fold, atomic publish, and rewrite serving") {
    val root = Files.createTempDirectory("graft-mvstream")
    val factDir = root.resolve("facts").toString
    val mvDir = root.resolve("mv").toString
    val ckpt = root.resolve("ckpt").toString
    try {
      // ---- batch 1: bootstrap
      writeFacts(factDir, rows1, "b1")
      runOnce(factDir, mvDir, ckpt)
      assert(StoredManifest.exists(mvDir))
      val gen1 = StoredManifest.read(mvDir)._1
      val sum1 = MvMaintainStream.currentSummary(spark, mvDir).get.collect()
      assert(sum1.length == 3) // (jan1 view)(jan1 click)(jan2 view)

      MvMaintainStream.serve(spark, factDir, mvDir)
      val served1 = Lakehouse.dailyRollup(factDf(factDir))
      assert(scanPaths(served1).forall(_.contains(gen1)),
        s"rollup must scan $gen1: ${scanPaths(served1)}")
      assert(served1.collect().toSeq ==
        withRuleOff(direct(factDir).toSeq), "served != direct after bootstrap")

      // ---- batch 2: incremental fold (existing group, new group, new day)
      writeFacts(factDir, rows2, "b2")
      runOnce(factDir, mvDir, ckpt)
      val gen2 = StoredManifest.read(mvDir)._1
      assert(gen2 != gen1, "second batch must publish a new generation")

      MvMaintainStream.serve(spark, factDir, mvDir)
      val served2 = Lakehouse.dailyRollup(factDf(factDir)).collect().toSeq
      val direct2 = withRuleOff(direct(factDir).toSeq)
      assert(served2 == direct2, "served != direct after incremental fold")
      // the merged group really merged (jan1 view: 2 rows + 1 row)
      val jan1view = served2.find(r =>
        r.getTimestamp(0) == ts("2026-01-01 00:00:00") && r.getString(1) == "view").get
      assert(jan1view.getLong(2) == 3)
      // new group's negative min survived the min-fold
      val jan2click = served2.find(r =>
        r.getTimestamp(0) == ts("2026-01-02 00:00:00") && r.getString(1) == "click").get
      assert(jan2click.getDouble(3) == -3.0 || jan2click.getDouble(4) == -3.0)

      // ---- re-delivery of the live batch id is a byte-level no-op
      val genDir = java.nio.file.Paths.get(
        MvMaintainStream.summaryPath(mvDir, gen2))
      val before = Files.walk(genDir).iterator()
      val stamps = new java.util.ArrayList[(String, Long)]()
      before.forEachRemaining(p =>
        stamps.add(p.toString -> Files.getLastModifiedTime(p).toMillis))
      val liveId = gen2.stripPrefix("gen_").toLong
      MvMaintainStream.maintain(spark, factDf(factDir), mvDir, liveId)
      stamps.forEach { case (p, t) =>
        assert(Files.getLastModifiedTime(java.nio.file.Paths.get(p)).toMillis == t,
          s"re-delivery touched $p")
      }
      assert(StoredManifest.read(mvDir)._1 == gen2)
    } finally {
      SummaryRewrite.uninstall(spark)
      graft.StoredArtifacts.deleteTree(root.toString)
    }
  }

  test("changelog maintenance: retractions splice recomputed groups over the fold") {
    val root = Files.createTempDirectory("graft-mvcdc")
    val mvDir = root.resolve("mv").toString
    import spark.implicits._
    try {
      val v1 = rows1.toDF("ts", "event_type", "value")
      MvMaintainStream.maintain(spark, v1, mvDir, 0L)

      // delete jan1-view's MAX row (min/max are not subtractable — forces
      // the recompute path), delete jan2-view's ONLY row (group must
      // vanish), and insert a brand-new jan3 group in the same batch
      val changelog = Seq(
        (ts("2026-01-01 09:30:00"), "view", 20.5, "D"),
        (ts("2026-01-02 11:00:00"), "view", 7.25, "D"),
        (ts("2026-01-03 05:00:00"), "click", 2.0, "I"))
        .toDF("ts", "event_type", "value", "op")
      val post = Seq(rows1(0), rows1(2), (ts("2026-01-03 05:00:00"), "click", 2.0))
        .toDF("ts", "event_type", "value")
      MvMaintainStream.maintainChangelog(spark, changelog, post, mvDir, 1L)

      val got = MvMaintainStream.currentSummary(spark, mvDir).get
        .collect().map(_.toSeq).toSet
      val want = Lakehouse.summarize(post).collect().map(_.toSeq).toSet
      assert(got == want,
        s"summary after changelog != summary of post-change facts:\n$got\n$want")
      assert(!got.exists(r => r(0) == ts("2026-01-02 00:00:00") && r(1) == "view"),
        "fully-deleted group must vanish")

      // re-delivery of the live batch id returns without touching anything
      MvMaintainStream.maintainChangelog(spark, changelog, post, mvDir, 1L)
      assert(graft.StoredManifest.read(mvDir)._1 == "gen_1")
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("a fold below the live generation fails and leaves the summary intact") {
    val root = Files.createTempDirectory("graft-mvrestart")
    val mvDir = root.resolve("mv").toString
    import spark.implicits._
    try {
      MvMaintainStream.maintain(spark, rows1.toDF("ts", "event_type", "value"), mvDir, 0L)
      MvMaintainStream.maintain(spark, rows2.toDF("ts", "event_type", "value"), mvDir, 1L)
      val live = MvMaintainStream.currentSummary(spark, mvDir).get.collect().toSeq
      // a fresh-checkpoint restart renumbers from 0: re-folding batch 0
      // would double its counts, so the fold must refuse it
      val ex = intercept[IllegalArgumentException] {
        MvMaintainStream.maintain(spark, rows1.toDF("ts", "event_type", "value"), mvDir, 0L)
      }
      assert(ex.getMessage.contains("fresh-checkpoint restart"))
      assert(StoredManifest.read(mvDir)._1 == "gen_1")
      assert(MvMaintainStream.currentSummary(spark, mvDir).get.collect().toSeq == live,
        "a refused fold must leave the live summary row-identical")
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  private def withRuleOff[A](body: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_.isInstanceOf[SummaryRewrite])
    try body finally spark.experimental.extraOptimizations = saved
  }
}
