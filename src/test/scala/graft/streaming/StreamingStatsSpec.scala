package graft.streaming

import java.nio.file.Files

import graft.{SparkSpec, StoredManifest, Tables}
import graft.plans.{StatsBroadcastJoin, StatsCbo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** Streaming re-ANALYZE gates: appended batches fold into mergeable
  * column statistics (count adds, min/max fold, HLL registers max-merge —
  * the x200 algebra), generations publish atomically under the manifest,
  * and serve() refreshes the StatsCbo registry so a selectively-filtered
  * dimension flips to a broadcast join with NO manual ANALYZE — while
  * results stay bit-identical (a hint changes strategy, never rows).
  */
class StreamingStatsSpec extends SparkSpec {

  private val dimSchema: StructType = new StructType()
    .add("c_custkey", LongType)
    .add("c_mktsegment", StringType)

  private def runOnce(dimDir: String, statsDir: String, ckpt: String): Unit = {
    val q = StatsMaintainStream.start(spark, dimDir, dimSchema, statsDir, ckpt,
      Trigger.AvailableNow())
    q.awaitTermination(60000)
    assert(!q.isActive)
  }

  private def join(dimDir: String): DataFrame = {
    val dim = spark.read.schema(dimSchema).parquet(dimDir)
      .where(col("c_custkey") <= 2)
    Tables(spark, sf001, "orders")
      .select(col("o_custkey"), col("o_totalprice"))
      .join(dim, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
      .orderBy("c_mktsegment")
  }

  private def strategyOf(df: DataFrame): String = {
    val p = df.queryExecution.sparkPlan.toString
    if (p.contains("BroadcastHashJoin")) "broadcast"
    else if (p.contains("SortMergeJoin")) "sortmerge"
    else "other"
  }

  test("appended batches maintain stats; the dim flips to broadcast; rows invariant") {
    StatsBroadcastJoin.install(spark)
    val root = Files.createTempDirectory("graft-statsstream")
    val dimDir = root.resolve("dim").toString
    val statsDir = root.resolve("stats").toString
    val ckpt = root.resolve("ckpt").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.graft.cbo.broadcastThreshold", "default")
      StatsCbo.clear()

      val customer = Tables(spark, sf001, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      // batch 1: first half of the dimension arrives
      customer.where(col("c_custkey") <= 10)
        .coalesce(1).write.mode("append").parquet(dimDir)
      runOnce(dimDir, statsDir, ckpt)
      assert(StoredManifest.exists(statsDir))

      // planner BEFORE serving: no stats registered -> sort-merge
      val before = join(dimDir)
      assert(strategyOf(before) == "sortmerge", strategyOf(before))
      val expected = before.collect().map(_.toSeq).toSeq

      // serve the maintained stats: the filtered dim estimate clears the
      // threshold -> broadcast, with NOBODY having run ANALYZE
      StatsMaintainStream.serve(spark, dimDir, statsDir)
      val after = join(dimDir)
      assert(strategyOf(after) == "broadcast",
        after.queryExecution.sparkPlan.toString)
      assert(after.collect().map(_.toSeq).toSeq == expected,
        "the stats-driven hint must never change results")

      // batch 2: the rest of the dimension appends; stats FOLD (no
      // re-scan of batch 1's files) and serving refreshes the registry
      customer.where(col("c_custkey") > 10)
        .coalesce(1).write.mode("append").parquet(dimDir)
      runOnce(dimDir, statsDir, ckpt)
      StatsMaintainStream.serve(spark, dimDir, statsDir)

      val n = spark.read.schema(dimSchema).parquet(dimDir).count()
      val st = StatsCbo.lookup(dimDir).get
      assert(st.rows == n, s"maintained row count ${st.rows} != $n")
      val ck = st.cols("c_custkey")
      val bounds = customer.agg(min(col("c_custkey")).cast("double"),
        max(col("c_custkey")).cast("double")).collect()(0)
      assert(ck.lo.contains(bounds.getDouble(0)) &&
        ck.hi.contains(bounds.getDouble(1)),
        s"folded min/max must cover both batches: $ck")
      // HLL ndv estimate lands within the sketch's error band of exact
      val exactNdv = n.toDouble
      assert(ck.ndv > exactNdv * 0.8 && ck.ndv < exactNdv * 1.2,
        s"ndv estimate ${ck.ndv} vs exact $exactNdv")

      // still broadcast after the refresh; rows still invariant
      spark.catalog.refreshByPath(dimDir)
      val again = join(dimDir)
      assert(strategyOf(again) == "broadcast",
        again.queryExecution.sparkPlan.toString)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.cbo.broadcastThreshold")
      StatsCbo.clear()
      graft.StoredArtifacts.deleteTree(root.toString)
    }
  }

  test("mergeable fold is exact: incremental scalar stats equal a one-shot build") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-statsmerge")
    val statsDir = root.resolve("stats").toString
    try {
      val all = Seq((1L, "aa"), (2L, "bb"), (3L, "cc"), (4L, "dddd"), (5L, "e"))
        .toDF("k", "s")
      val b1 = all.where(col("k") <= 2)
      val b2 = all.where(col("k") > 2)
      StatsMaintainStream.maintain(spark, b1, statsDir, 0L)
      StatsMaintainStream.maintain(spark, b2, statsDir, 1L)
      val (gen, _) = StoredManifest.read(statsDir)
      val scalar = spark.read.parquet(s"$statsDir/$gen/scalar")
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), Option(r.get(2)), Option(r.get(3)), r.getLong(4)))).toMap
      assert(scalar("_rows")._1 == 5L)
      assert(scalar("k")._2.map(_.toString.toDouble).contains(1.0))
      assert(scalar("k")._3.map(_.toString.toDouble).contains(5.0))
      assert(scalar("s")._4 == 11L, s"summed lengths: ${scalar("s")}")
      // registers: incremental max-merge equals a direct build over all rows
      val inc = spark.read.parquet(s"$statsDir/$gen/registers")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
      val direct = StatsMaintainStream.registerPartials(all)
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap
      assert(inc == direct, "incremental registers must equal one-shot registers")
      // and the registers are the HLL rule, recounted in plain Scala: reg =
      // first 2 hex digits of md5(v), rho = leading zero bits of the next
      // 32 plus one (33 when all 32 are zero), max rho per (column, reg)
      val recount = all.collect().toSeq
        .flatMap(r => Seq("k" -> r.getLong(0).toString, "s" -> r.getString(1)))
        .map { case (c, v) =>
          val hex = java.security.MessageDigest.getInstance("MD5")
            .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
          val bits = java.lang.Long.parseLong(hex.substring(2, 10), 16).toInt
          val rho = if (bits == 0) 33 else Integer.numberOfLeadingZeros(bits) + 1
          (c, hex.take(2)) -> rho
        }
        .groupBy(_._1).map { case (key, rs) => key -> rs.map(_._2).max }
      assert(direct == recount, "registers must match the plain-Scala recount")
      // re-delivery of the last batch id is a no-op (exactly-once)
      StatsMaintainStream.maintain(spark, b1, statsDir, 1L)
      assert(StoredManifest.read(statsDir)._1 == gen)
    } finally graft.StoredArtifacts.deleteTree(root.toString)
  }

  test("log-bucket CDF interpolation concentrates boundaries where the mass is") {
    // 900 rows in [0,1), 100 rows in [8,16): with 4 equi-depth bounds,
    // the first three quantiles (0%, 25%, 50%, 75% <= 900/1000) stay in
    // the dense bucket and only the last reaches the tail
    val b = StatsMaintainStream.boundariesFrom(Seq((0, 900L), (4, 100L)), 4)
    assert(b.length == 5, b.toString)
    assert(b.head == 0.0 && b.last == 16.0, b.toString)
    assert(b(1) < 1.0 && b(2) < 1.0 && b(3) < 1.0,
      s"quantiles within the 90% mass must stay in [0,1): $b")
    // monotone
    b.sliding(2).foreach { case Seq(x, y) => assert(x <= y, b.toString) }
  }

  test("streamed histogram gives the CBO skew-aware range selectivity") {
    StatsBroadcastJoin.install(spark)
    import spark.implicits._
    val root = Files.createTempDirectory("graft-statshist")
    val dimDir = root.resolve("dim").toString
    val statsDir = root.resolve("stats").toString
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // 90% of values in [0, 1), thin tail to 1024: `v >= 8` keeps ~8%,
      // the min/max-linear estimate says ~99%
      val rows = (0 until 900).map(i => (i.toLong, (i % 10) / 10.0)) ++
        (0 until 100).map(i => (900L + i, 8.0 + i * 10.0))
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(dimDir)
      StatsMaintainStream.maintain(spark,
        spark.read.parquet(dimDir), statsDir, 0L)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.graft.cbo.broadcastThreshold", "default")
      StatsCbo.clear()
      StatsMaintainStream.serve(spark, dimDir, statsDir)
      val st = StatsCbo.lookup(dimDir).get
      assert(st.cols("v").hist.nonEmpty,
        "streamed stats must carry interpolated histogram boundaries")
      val tableBytes = st.rows * st.avgRowBytes
      spark.conf.set("spark.graft.cbo.broadcastThreshold",
        (tableBytes / 2).toString)
      val dim = spark.read.parquet(dimDir).where(col("v") >= 8.0)
      val j = Tables(spark, sf001, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(dim, col("o_custkey") === col("id"))
      assert(strategyOf(j) == "broadcast",
        s"streamed histogram estimate (~8%) must clear the 50% threshold:\n" +
          j.queryExecution.sparkPlan)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.graft.cbo.broadcastThreshold")
      StatsCbo.clear()
      graft.StoredArtifacts.deleteTree(root.toString)
    }
  }
}
