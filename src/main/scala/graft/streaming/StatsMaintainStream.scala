package graft.streaming

import graft.StoredManifest
import graft.plans.StatsCbo
import graft.queries.Events
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{NumericType, StringType, StructType}

/** Streaming re-ANALYZE — the x200 mergeable-statistics algebra run as a
  * maintenance loop that keeps [[graft.plans.StatsCbo]]'s registry fresh
  * with NO manual ANALYZE: each appended micro-batch of a table folds
  * into per-column statistics at O(state + batch), the generation commits
  * through [[graft.StoredManifest.fold]], and [[serve]] folds the live
  * generation into the CBO registry
  * so the NEXT query plans against current statistics. This is the
  * Delta/Iceberg auto-stats pipeline expressed over plain parquet
  * appends: a dimension that grows — or becomes selectively filterable —
  * flips to a broadcast join at the planner with nobody running ANALYZE.
  *
  * Everything maintained is MERGEABLE, which is the 100 TB point (x200's
  * self-certified identity: merged-by-shard equals direct):
  *   - row count: adds;
  *   - per-column min/max: folds;
  *   - per-column string length sum (row-width estimate): adds;
  *   - per-column ndv: 256-register HLL sketches ([[Events.hllRegisterRows]]'
  *     md5 arithmetic, generalized to any column), merged by register
  *     max — associative, so incremental maintenance is bit-identical to
  *     a one-shot build over the same rows;
  *   - per-column distribution: signed floor-log2 bucket COUNTS (add
  *     across batches); [[serve]] interpolates equi-depth boundaries
  *     from the bucket CDF, so the streaming path feeds [[StatsCbo]]'s
  *     histogram selectivity too (equi-depth boundaries themselves are
  *     not mergeable — bucket counts are the mergeable carrier).
  * Nothing ever re-scans previously analyzed files.
  *
  * State layout per generation: `scalar` (column, n, lo, hi, len_sum —
  * one row per column plus the `_rows` total) and `registers`
  * (column, reg, mr). Both are column-domain-sized — the state a 100 TB
  * table carries is KBs.
  */
object StatsMaintainStream {

  private val RowsKey = "_rows"

  /** Start the maintenance stream over `tableDir` (parquet appends). */
  def start(spark: SparkSession, tableDir: String, schema: StructType,
      statsDir: String, ckpt: String,
      trigger: Trigger = Trigger.ProcessingTime("5 minutes")): StreamingQuery =
    Streams.foldBatches("stats-maintain", ckpt, trigger,
      spark.readStream
        .schema(schema)
        .parquet(tableDir)) { (batch, batchId) =>
      maintain(spark, batch, statsDir, batchId)
    }

  private def numericCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
  private def stringCols(df: DataFrame): Seq[String] =
    df.schema.fields.filter(_.dataType == StringType).map(_.name).toSeq

  /** Per-batch scalar partials: one row per column (lo/hi for numerics,
    * length sum for strings) plus the `_rows` row-count row. ONE pass
    * over the batch (a single wide aggregate, the StatsCbo.analyze
    * shape); the 1-row result reshapes driver-side — it is column-domain-
    * sized, the same artifact-sized collect every trainer makes.
    */
  private[streaming] def scalarPartials(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    val nums = numericCols(batch)
    val strs = stringCols(batch)
    val aggs = count(lit(1)).as("_n") +:
      (nums.flatMap(c => Seq(
        min(col(c)).cast("double").as(s"${c}__lo"),
        max(col(c)).cast("double").as(s"${c}__hi"))) ++
        strs.map(c =>
          coalesce(sum(length(col(c)).cast("long")), lit(0L)).as(s"${c}__len")))
    val r = batch.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = r.getAs[Long]("_n")
    val rows =
      (RowsKey, n, None: Option[Double], None: Option[Double], 0L) +:
        (nums.map { c =>
          (c, n, Option(r.getAs[java.lang.Double](s"${c}__lo")).map(_.doubleValue),
            Option(r.getAs[java.lang.Double](s"${c}__hi")).map(_.doubleValue), 0L)
        } ++ strs.map { c => (c, n, None: Option[Double], None: Option[Double],
          r.getAs[Long](s"${c}__len")) })
    rows.toDF("column", "n", "lo", "hi", "len_sum")
  }

  /** Per-batch HLL register partials over every tracked column —
    * [[Events.hllRho]] applied to the column's string form, one
    * (column, reg, mr) row per register seen.
    * ONE pass: columns stack through a generator, so the batch is
    * scanned once however many columns are tracked.
    */
  private[streaming] def registerPartials(batch: DataFrame): DataFrame = {
    val cols = numericCols(batch) ++ stringCols(batch)
    val stacked = batch
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("v"))): _*)).as("s"))
      .select(col("s.column").as("column"), col("s.v").as("v"))
      .where(col("v").isNotNull)
    Events.hllRho(stacked, Seq(col("column")), col("v"))
      .groupBy(col("column"), col("reg")).agg(max(col("rho")).as("mr"))
  }

  /** Per-batch MERGEABLE histogram partials over numeric columns: counts
    * per signed floor-log2 bucket (bucket 0 = [0,1), b ≥ 1 = [2^(b−1),
    * 2^b), negatives mirrored) — counts ADD across batches, unlike
    * equi-depth boundaries, which is the whole trick: the stream keeps
    * ~128 bucket counters per column and [[serve]] interpolates
    * equi-depth boundaries from the bucket CDF (piecewise-uniform within
    * a bucket), giving [[StatsCbo]]'s histogram selectivity the same
    * skew-awareness the batch ANALYZE gets from approx_percentile —
    * without ever re-scanning analyzed files.
    */
  private[streaming] def histogramPartials(batch: DataFrame): DataFrame = {
    val cols = numericCols(batch)
    if (cols.isEmpty)
      return batch.sparkSession.emptyDataFrame
        .selectExpr("CAST(null AS STRING) column", "CAST(null AS INT) bkt",
          "CAST(null AS BIGINT) n").limit(0)
    batch
      .select(explode(array(cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("double").as("v"))): _*)).as("s"))
      .select(col("s.column").as("column"), col("s.v").as("v"))
      .where(col("v").isNotNull)
      .withColumn("mag", abs(col("v")))
      .withColumn("bkt",
        when(col("mag") < 1.0, lit(0))
          .otherwise(least(lit(62), (floor(log2(col("mag"))) + 1).cast("int")))
          * when(col("v") < 0, -1).otherwise(1))
      .groupBy(col("column"), col("bkt")).agg(count(lit(1)).as("n"))
  }

  /** Equi-depth boundaries interpolated from merged log-bucket counts —
    * driver-side over ≤ ~128 buckets per column (artifact-sized).
    */
  private[streaming] def boundariesFrom(
      buckets: Seq[(Int, Long)], nBounds: Int): Seq[Double] = {
    if (buckets.isEmpty) return Nil
    def range(b: Int): (Double, Double) = {
      val m = math.abs(b)
      val (lo, hi) =
        if (m == 0) (0.0, 1.0) else (math.pow(2, m - 1), math.pow(2, m))
      if (b >= 0) (lo, hi) else (-hi, -lo)
    }
    val sorted = buckets.sortBy(_._1)
    val total = sorted.map(_._2).sum.toDouble
    val cum = sorted.scanLeft(0L)(_ + _._2).init // cumulative BEFORE bucket
    (0 to nBounds).map { q =>
      val target = q.toDouble * total / nBounds
      val i = cum.lastIndexWhere(_ <= target) match {
        case -1 => 0
        case j => math.min(j, sorted.length - 1)
      }
      val (lo, hi) = range(sorted(i)._1)
      val within =
        if (sorted(i)._2 == 0) 0.0
        else math.min(1.0, (target - cum(i)) / sorted(i)._2)
      lo + within * (hi - lo)
    }
  }

  private def genPath(statsDir: String, gen: String, seg: String): String =
    s"$statsDir/$gen/$seg"

  /** Fold one micro-batch into the statistics. */
  def maintain(spark: SparkSession, batch: DataFrame, statsDir: String,
      batchId: Long): Unit =
    StoredManifest.fold(statsDir, batchId) { live =>
      // the batch's partials unioned with the live generation's `seg`, when
      // it lists one (generations from before the histogram carry none)
      def withLive(seg: String, partials: DataFrame): DataFrame = live match {
        case Some((liveDir, segs)) if segs.contains(seg) =>
          spark.read.parquet(s"$liveDir/$seg").unionByName(partials)
        case _ => partials
      }
      Seq(
        "scalar" -> withLive("scalar", scalarPartials(batch))
          .groupBy("column")
          .agg(sum(col("n")).as("n"), min(col("lo")).as("lo"),
            max(col("hi")).as("hi"), sum(col("len_sum")).as("len_sum")),
        "registers" -> withLive("registers", registerPartials(batch))
          .groupBy("column", "reg").agg(max(col("mr")).as("mr")),
        "histogram" -> withLive("histogram", histogramPartials(batch))
          .groupBy("column", "bkt").agg(sum(col("n")).as("n")))
    }

  /** Fold the live statistics generation into [[StatsCbo]]'s registry for
    * `tablePath` — after this, [[graft.plans.StatsBroadcastJoin]] plans
    * joins over `tablePath` against the maintained statistics. Call after
    * each refresh of interest (or on a cadence); registration replaces,
    * never stacks.
    */
  def serve(spark: SparkSession, tablePath: String, statsDir: String): Unit = {
    val (gen, segs) = StoredManifest.read(statsDir)
    val scalar = spark.read.parquet(genPath(statsDir, gen, "scalar"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1),
        Option(r.get(2)).map(_.toString.toDouble),
        Option(r.get(3)).map(_.toString.toDouble),
        r.getLong(4))))
      .toMap
    val ndv = Events.hllEstimate(
        spark.read.parquet(genPath(statsDir, gen, "registers")), Seq("column"))
      .select(col("column"), col("est_n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val hists: Map[String, Seq[(Int, Long)]] =
      if (segs.contains("histogram"))
        spark.read.parquet(genPath(statsDir, gen, "histogram"))
          .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
          .groupBy(_._1).view
          .mapValues(_.map(t => (t._2, t._3)).toSeq).toMap
      else Map.empty
    val rows = scalar.get(RowsKey).map(_._1).getOrElse(0L)
    val cols = (scalar - RowsKey).map { case (c, (_, lo, hi, _)) =>
      // equi-depth boundaries interpolated from the mergeable log-bucket
      // counts, clamped into the exact maintained [lo, hi] envelope (the
      // bucket edges are powers of two; min/max are exact)
      val bounds = hists.get(c)
        .map(b => boundariesFrom(b, StatsCbo.HistBuckets)).getOrElse(Nil)
      val clamped = (lo, hi) match {
        case (Some(l), Some(h)) if bounds.nonEmpty =>
          bounds.map(x => math.max(l, math.min(h, x)))
        case _ => bounds
      }
      c -> StatsCbo.ColStats(math.max(1L, ndv.getOrElse(c, 1L)), lo, hi,
        clamped)
    }
    val strBytes = (scalar - RowsKey).values.map(_._4).sum
    val numericCount = (scalar - RowsKey).count(_._2._2.isDefined)
    val width = math.max(8L, 8L * numericCount +
      math.ceil(strBytes.toDouble / math.max(1L, rows)).toLong)
    StatsCbo.register(tablePath, StatsCbo.TableStats(rows, width, cols))
  }
}
