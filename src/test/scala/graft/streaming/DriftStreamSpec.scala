package graft.streaming

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The x103 drift monitor wired to arriving data: each landed events file
  * re-publishes the drift grid + alarms as a manifest-committed generation,
  * row-identical to the batch operator on the data seen so far.
  */
class DriftStreamSpec extends SparkSpec {

  /** Two planted days: day 1 balanced (no drift at 200 per-mille), day 2
    * floods `error` events — the alarm the monitor exists to raise.
    */
  private def plantedDay(day: Int, errorHeavy: Boolean) = {
    // balanced day dominates the global baseline (20/20/20), so the
    // error-flood day (30/1/1) lifts error to
    // 1000·30·92 div (32·50) = 1725 — far over the 200-per-mille gate
    val types =
      if (errorHeavy) Seq.fill(30)("error") ++ Seq("view", "click")
      else Seq.fill(20)("view") ++ Seq.fill(20)("click") ++ Seq.fill(20)("error")
    types.zipWithIndex.map { case (t, i) =>
      (day * 1000L + i, java.sql.Timestamp.valueOf(f"2026-02-0$day%d 10:00:${i % 60}%02d"), t)
    }
  }

  private def writeDay(dir: String, day: Int, errorHeavy: Boolean): Unit = {
    import spark.implicits._
    // a flat FILE per arrival (not a directory): both the stream source
    // and the refresh's batch read list the watch dir non-recursively,
    // like the fixture layout
    val tmp = Files.createTempDirectory("graft-driftday").toString
    plantedDay(day, errorHeavy).toDF("event_id", "ts", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    import scala.jdk.CollectionConverters._
    val found = Files.list(java.nio.file.Paths.get(tmp)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet"))
      .getOrElse(fail(s"no part file under $tmp"))
    Files.createDirectories(java.nio.file.Paths.get(dir))
    Files.move(found, java.nio.file.Paths.get(dir, s"day$day.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    graft.StoredArtifacts.deleteTree(tmp)
  }

  private def runOnce(eventsDir: String, stateDir: String, schema: org.apache.spark.sql.types.StructType): Unit = {
    val q = DriftMonitorStream.start(spark, eventsDir, stateDir,
      driftMilli = 200L, schema = schema, trigger = Trigger.AvailableNow(),
      pathGlobFilter = "*.parquet")
    q.awaitTermination(60000)
    assert(!q.isActive, "AvailableNow refresh must drain and stop")
  }

  private def batchDrift(eventsDir: String): DataFrame =
    graft.queries.Events.typeDriftByDay(
      spark.read.parquet(eventsDir), driftMilli = 200L)

  test("arriving files publish manifest-committed drift generations row-identical to the batch op") {
    val root = Files.createTempDirectory("graft-driftstream")
    val eventsDir = root.resolve("events").toString
    val stateDir = root.resolve("state").toString
    try {
      writeDay(eventsDir, 1, errorHeavy = false)
      val schema = spark.read.parquet(eventsDir).schema
      runOnce(eventsDir, stateDir, schema)

      assert(DriftMonitorStream.published(stateDir), "first refresh publishes")
      val gen1 = DriftMonitorStream.liveGeneration(stateDir)
      // one balanced day: every type's share IS the corpus share -> lift
      // 1000 everywhere, zero alarms
      val drift1 = DriftMonitorStream.read(spark, stateDir, "drift").collect()
      assert(drift1.nonEmpty && drift1.forall(_.getLong(5) == 1000L),
        s"single balanced day must lift 1000 everywhere: ${drift1.mkString(";")}")
      assert(DriftMonitorStream.read(spark, stateDir, "alarms").count() == 0)

      // day 2 floods errors -> republished generation flags it
      writeDay(eventsDir, 2, errorHeavy = true)
      runOnce(eventsDir, stateDir, schema)
      assert(DriftMonitorStream.liveGeneration(stateDir) != gen1)
      val alarms = DriftMonitorStream.read(spark, stateDir, "alarms")
        .collect().map(r => (r.getDate(0).toString, r.getString(1))).toSet
      assert(alarms.contains(("2026-02-02", "error")),
        s"the error flood must raise an alarm: $alarms")

      // two paths, one result: the published grid equals the batch
      // operator over the same files
      val pub = DriftMonitorStream.read(spark, stateDir, "drift")
        .collect().map(_.toSeq).toSet
      val direct = batchDrift(eventsDir).collect().map(_.toSeq).toSet
      assert(pub == direct, "published drift != batch typeDriftByDay")

      // at-least-once re-delivery of the live batchId is a no-op
      val genLive = DriftMonitorStream.liveGeneration(stateDir)
      DriftMonitorStream.refresh(spark, eventsDir, stateDir, 200L,
        genLive.stripPrefix("gen_").toLong)
      assert(DriftMonitorStream.liveGeneration(stateDir) == genLive)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("refreshes leave no persisted RDDs behind") {
    val root = Files.createTempDirectory("graft-driftpins")
    val eventsDir = root.resolve("events").toString
    val stateDir = root.resolve("state").toString
    try {
      writeDay(eventsDir, 1, errorHeavy = false)
      writeDay(eventsDir, 2, errorHeavy = true)
      val sc = spark.sparkContext
      // RDD ids only grow: a persisted RDD above the mark was left by a refresh
      val mark = sc.emptyRDD[Int].id
      (0L until 3L).foreach(DriftMonitorStream.refresh(spark, eventsDir, stateDir, 200L, _))
      val pinned = sc.getPersistentRDDs.keys.filter(_ > mark).toSeq
      assert(pinned.isEmpty, s"refreshes left persisted RDDs behind: $pinned")
      assert(DriftMonitorStream.liveGeneration(stateDir) == "gen_2")
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }
}
