package graft.queries

import graft.{GQuery, SegmentLog, StoredArtifacts, StoredManifest, Tables}
import graft.functions.ZOrder
import graft.plans.SummaryRewrite
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Lakehouse-layout and serving-acceleration operators: the Z-order
  * clustering key as a first-class verified query, and the materialized-view
  * rewrite serving path ([[graft.plans.SummaryRewrite]]).
  *
  * Reference anchor: the reference's dashboards re-run fixed rollups on
  * every refresh (grafana msconvert.json panels) over an append-only fact
  * history — exactly the workload a summary table + rewrite rule serves
  * without re-scanning the fact table, and exactly the multi-dimension scan
  * profile (filters on either of two id columns) Z-order layout accelerates.
  */
object Lakehouse {

  // ------------------------------------------------------------------- x140
  // Z-order (Morton) clustering key, verified bit-for-bit: interleave
  // l_orderkey/l_partkey and roll up per coarse z-bucket. The per-bucket
  // min/max spans ARE the row-group zone maps a z-sorted write produces:
  // each bucket covers a bounded rectangle in (orderkey, partkey) space, so
  // a narrow predicate on EITHER column prunes most buckets
  // (PartitionedWriteSpec measures the pruning on real row groups; this
  // query pins the key arithmetic against the oracle's unrolled bit terms).
  //
  // The raw keys are first scaled into a common 10-bit range (the
  // scaladoc's "bucket the raw values first" — raw l_orderkey spans ~16x
  // more bits than l_partkey, so raw interleaving would let one dimension
  // monopolize the high bits). The scaling bound is a 1-row broadcast
  // aggregate; at 100 TB it comes from table stats instead — same plan.
  //
  // Scale shape: the key is 10 codegen'd mask-shift terms — a narrow
  // projection fused into the scan after a broadcast of the 1-row bound;
  // the rollup is one hash exchange on the 64-value bucket id. At 100 TB
  // the same key feeds `repartitionByRange(zvalue).sortWithinPartitions`
  // on write — layout cost is one range shuffle, amortized over every
  // later scan. The k_bounded/p_bounded output columns carry the proof:
  // every bucket's span is at most 1/8 of EACH dimension's range (+1 for
  // integer-division slack), which is exactly why a narrow predicate on
  // either column can skip most row groups.
  private val zBits = 10
  private val zShift = 14 // keep top 3 interleaved bits per dim: 8x8 grid

  private def zOracleTerms(a: String, b: String): String =
    (0 until zBits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")

  private val x140 = GQuery(
    "x140_zorder_key", "ext-layout zorder-clustering",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").cast("long").as("k"),
          col("l_partkey").cast("long").as("p"))
      val bound = li.agg(max(col("k")).as("mk"), max(col("p")).as("mp"))
      li.crossJoin(broadcast(bound))
        .withColumn("ks", expr("k * 1024 div (mk + 1)"))
        .withColumn("ps", expr("p * 1024 div (mp + 1)"))
        .withColumn("z", ZOrder.zvalue(col("ks"), col("ps"), zBits))
        .groupBy(shiftright(col("z"), zShift).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          min(col("p")).as("min_p"), max(col("p")).as("max_p"),
          expr("(max(k) - min(k)) <= (max(mk) + 1) div 8 + 1").as("k_bounded"),
          expr("(max(p) - min(p)) <= (max(mp) + 1) div 8 + 1").as("p_bounded"))
        .orderBy("bucket")
    },
    Some(s"""WITH src AS (SELECT CAST(l_orderkey AS BIGINT) AS k,
                            CAST(l_partkey AS BIGINT) AS p FROM lineitem),
             m AS (SELECT MAX(k) AS mk, MAX(p) AS mp FROM src),
             sc AS (SELECT k, p, (k * 1024) // (mk + 1) AS ks,
                      (p * 1024) // (mp + 1) AS ps, mk, mp FROM src, m),
             zed AS (SELECT k, p, mk, mp, ${zOracleTerms("ks", "ps")} AS z FROM sc)
             SELECT z >> $zShift AS bucket, COUNT(*) AS n,
               MIN(k) AS min_k, MAX(k) AS max_k,
               MIN(p) AS min_p, MAX(p) AS max_p,
               (MAX(k) - MIN(k)) <= (MAX(mk) + 1) // 8 + 1 AS k_bounded,
               (MAX(p) - MIN(p)) <= (MAX(mp) + 1) // 8 + 1 AS p_bounded
             FROM zed GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x141
  // Materialized-view serving: the day-grain rollup the dashboards refresh,
  // answered through SummaryRewrite from a (day x event_type) summary table
  // instead of the fact scan. The registry fn builds the summary on first
  // touch (StoredArtifacts keying: a changed fixture re-builds), installs
  // the rule, and runs the USER query against the raw fact table — the
  // rewrite, not the caller, routes it to the summary. The oracle computes
  // from raw events, so the hash match certifies the rewrite end-to-end:
  // summary build + plan rewrite + re-aggregation ≡ direct aggregation.
  // SummaryRewriteSpec additionally pins that the optimized plan really
  // scans the summary (not events) and that out-of-scope queries are left
  // untouched.
  //
  // All aggregates are the algebraic set {count, decimal money-sum, min,
  // max} plus ratios of them (avg = sum/count), so the SAME summary serves
  // every coarser grouping; sums go through decimal(18,2) (the engine's
  // moneySum discipline) making them partition-order-exact — which is what
  // lets the rewrite promise bit-identical results at all.
  /** (day, event_type) -> (cnt, sum_value dec(18,2), min, max): the ONE
    * definition of the summary grain and schema, shared by the batch build
    * below, the SummaryRewrite matcher's expectations, and the streaming
    * incremental maintainer ([[graft.streaming.MvMaintainStream]], which
    * runs this same aggregation per micro-batch and algebraically merges —
    * the schemas cannot drift apart because they are this function).
    */
  def summarize(ev: DataFrame, tsCol: String = "ts",
      dimCol: String = "event_type", valCol: String = "value"): DataFrame =
    ev.groupBy(date_trunc("day", col(tsCol)).as("day"), col(dimCol))
      .agg(count(lit(1)).as("cnt"),
        sum(col(valCol).cast(DecimalType(18, 2))).cast(DecimalType(18, 2))
          .as("sum_value"),
        min(col(valCol)).as("min_value"),
        max(col(valCol)).as("max_value"))

  /** Algebraic merge of summary rows (current generation ∪ fresh partials)
    * back to one row per group: count adds, sum adds, min/max fold — the
    * closure property that makes the summary incrementally maintainable
    * at O(summary + batch) instead of a full fact re-scan.
    */
  def mergeSummaries(parts: DataFrame, dimCol: String = "event_type"): DataFrame =
    parts.groupBy(col("day"), col(dimCol))
      .agg(sum(col("cnt")).cast("long").as("cnt"),
        sum(col("sum_value")).cast(DecimalType(18, 2)).as("sum_value"),
        min(col("min_value")).as("min_value"),
        max(col("max_value")).as("max_value"))

  /** Build (day, event_type) -> (cnt, sum_value dec(18,2), min, max). */
  def buildEventsDailySummary(s: SparkSession, dir: String, out: String): Unit =
    summarize(Tables(s, dir, "events"))
      .coalesce(1) // day x type cardinality: tiny by construction
      .write.mode("overwrite").parquet(out)

  /** The user-facing daily rollup (runs against the raw fact table; the
    * installed rule decides whether a summary can serve it).
    */
  def dailyRollup(ev: DataFrame): DataFrame = {
    val moneySum = sum(col("value").cast(DecimalType(18, 2))).cast("double")
    ev.groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        moneySum.as("sum_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"),
        round(moneySum / count(lit(1)), 4).as("avg_value"))
      .orderBy("day", "event_type")
  }

  /** Ensure the summary artifact exists and the rewrite is installed for
    * `dir`'s events table; returns the summary path.
    */
  def ensureMv(s: SparkSession, dir: String): String = {
    val mv = StoredArtifacts.dir(dir, "mv_events_daily_v1")
    if (!StoredArtifacts.ready(mv)) buildEventsDailySummary(s, dir, mv)
    SummaryRewrite.install(s, s"$dir/events.parquet", mv)
    mv
  }

  /** Generic form: summary + rewrite for ANY (time, dim, measure) fact —
    * the rule and builder are column-name-parametric, so one code path
    * serves events' dashboards and lineitem's revenue rollups alike.
    */
  def ensureMvFor(s: SparkSession, dir: String, table: String, tsCol: String,
      dimCol: String, valCol: String): String = {
    val mv = StoredArtifacts.dir(dir, s"mv_${table}_${tsCol}_daily_v1")
    if (!StoredArtifacts.ready(mv))
      summarize(Tables(s, dir, table), tsCol, dimCol, valCol)
        .coalesce(1).write.mode("overwrite").parquet(mv)
    SummaryRewrite.install(s, s"$dir/$table.parquet", mv, tsCol, dimCol, valCol)
    mv
  }

  private val x141 = GQuery(
    "x141_mv_rollup", "ext-serving materialized-view-rewrite",
    (s, dir) => {
      ensureMv(s, dir)
      dailyRollup(Tables(s, dir, "events"))
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
              MIN(value) AS min_value, MAX(value) AS max_value,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 4)
                AS avg_value
            FROM events GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ------------------------------------------------------------------- x154
  // The grouping-set lattice query the rewrite serves whole: ROLLUP(day,
  // event_type) — per-group, per-day, and grand-total rows in one pass.
  // With the rule installed this whole lattice reads the summary (the
  // Expand-plan rewrite; SummaryRewriteSpec pins the routing and
  // rule-off parity); the DuckDB oracle computes the same ROLLUP from raw
  // events, so the hash match certifies the Expand rewrite end-to-end
  // exactly as x141 certifies the flat one.
  private val x154 = GQuery(
    "x154_mv_rollup_lattice", "ext-serving materialized-view-rollup",
    (s, dir) => {
      ensureMv(s, dir)
      Tables(s, dir, "events")
        .rollup(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .orderBy(col("day"), col("event_type"))
    },
    Some("""SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
              COUNT(*) AS n,
              CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
              MIN(value) AS min_value, MAX(value) AS max_value
            FROM events
            GROUP BY ROLLUP (date_trunc('day', ts), event_type)
            ORDER BY day, event_type"""))

  // ------------------------------------------------------------------- x155
  // The rule generalized to a second fact table: lineitem's daily revenue
  // rollup by return flag served from an
  // (l_shipdate-day × l_returnflag) summary — same rule, same builder,
  // different column names, proving the rewrite is a library feature and
  // not an events-shaped demo. Both summaries stay installed concurrently
  // (one rule per fact path); the oracle computes from raw lineitem.
  private val x155 = GQuery(
    "x155_mv_lineitem_daily", "ext-serving materialized-view-generic",
    (s, dir) => {
      ensureMvFor(s, dir, "lineitem", "l_shipdate", "l_returnflag", "l_extendedprice")
      val moneySum = sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double")
      Tables(s, dir, "lineitem")
        .groupBy(date_trunc("day", col("l_shipdate")).as("day"), col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          moneySum.as("revenue"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))
        .orderBy("day", "l_returnflag")
    },
    Some("""SELECT CAST(date_trunc('day', l_shipdate) AS TIMESTAMP) AS day,
              l_returnflag, COUNT(*) AS n,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                AS revenue,
              MIN(l_extendedprice) AS min_price,
              MAX(l_extendedprice) AS max_price
            FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""))

  // ------------------------------------------------------------------- x158
  // The x156 statistics USED: System-R join-cardinality estimation.
  // |orders ⋈ customer on custkey| ≈ |O|·|C| / max(ndv_O, ndv_C) — the
  // independence-assumption formula every cost-based optimizer starts
  // from (Selinger 1979), with the NDVs supplied by the HLL aggregate,
  // next to the ACTUAL join count for the honest error. Integer
  // arithmetic throughout (div), so the estimate hash-verifies through
  // the same DuckDB register re-derivation as x153/x156.
  //
  // Scale shape: two single-row sketch aggregations (256 bytes each up
  // the tree), a 1×1 cross join of their results, and the audit join —
  // which a real CBO of course never runs; it exists to print the error.
  private val x158 = GQuery(
    "x158_join_cardinality", "ext-serving cbo-cardinality-estimate",
    (s, dir) => {
      import graft.functions.HllAggregate.hllDistinct
      val o = Tables(s, dir, "orders")
        .agg(count(lit(1)).as("n_orders"), hllDistinct(col("o_custkey")).as("ndv_o"))
      val c = Tables(s, dir, "customer")
        .agg(count(lit(1)).as("n_cust"), hllDistinct(col("c_custkey")).as("ndv_c"))
      val actual = Tables(s, dir, "orders")
        .join(Tables(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .agg(count(lit(1)).as("actual_rows"))
      o.crossJoin(c).crossJoin(actual)
        .withColumn("est_rows",
          expr("(n_orders * n_cust) div greatest(ndv_o, ndv_c)"))
        .select(col("n_orders"), col("n_cust"), col("ndv_o"), col("ndv_c"),
          col("est_rows"), col("actual_rows"),
          (col("est_rows") - col("actual_rows")).as("err_rows"))
    },
    Some("""WITH hll_o AS (
              WITH r AS (
                SELECT substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2) AS reg,
                  substr(md5(CAST(o_custkey AS VARCHAR)), 3, 8) AS suf
                FROM orders WHERE o_custkey IS NOT NULL),
              rr AS (SELECT reg,
                  CASE WHEN length(regexp_extract(suf, '^0*')) = 8 THEN 33
                    ELSE 4 * length(regexp_extract(suf, '^0*')) + 1 +
                      CASE substr(suf, length(regexp_extract(suf, '^0*')) + 1, 1)
                        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                        WHEN '7' THEN 1 ELSE 0 END END AS rho
                FROM r),
              sk AS (SELECT reg, MAX(rho) AS mr FROM rr GROUP BY reg),
              e0 AS (SELECT SUM(CAST(1 AS DOUBLE)
                  / CAST((CAST(1 AS BIGINT) << mr) AS DOUBLE)) AS z,
                  CAST(COUNT(*) AS BIGINT) AS present FROM sk),
              e1 AS (SELECT 256 - present AS vzero,
                  0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256
                    / (z + (256 - present)) AS raw FROM e0)
              SELECT CAST(CASE WHEN raw <= 640.0 AND vzero > 0
                THEN round(256.0 * ln(256.0 / vzero), 0)
                ELSE round(raw, 0) END AS BIGINT) AS ndv FROM e1),
            hll_c AS (
              WITH r AS (
                SELECT substr(md5(CAST(c_custkey AS VARCHAR)), 1, 2) AS reg,
                  substr(md5(CAST(c_custkey AS VARCHAR)), 3, 8) AS suf
                FROM customer WHERE c_custkey IS NOT NULL),
              rr AS (SELECT reg,
                  CASE WHEN length(regexp_extract(suf, '^0*')) = 8 THEN 33
                    ELSE 4 * length(regexp_extract(suf, '^0*')) + 1 +
                      CASE substr(suf, length(regexp_extract(suf, '^0*')) + 1, 1)
                        WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                        WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                        WHEN '7' THEN 1 ELSE 0 END END AS rho
                FROM r),
              sk AS (SELECT reg, MAX(rho) AS mr FROM rr GROUP BY reg),
              e0 AS (SELECT SUM(CAST(1 AS DOUBLE)
                  / CAST((CAST(1 AS BIGINT) << mr) AS DOUBLE)) AS z,
                  CAST(COUNT(*) AS BIGINT) AS present FROM sk),
              e1 AS (SELECT 256 - present AS vzero,
                  0.7213 / (1.0 + 1.079 / 256.0) * 256 * 256
                    / (z + (256 - present)) AS raw FROM e0)
              SELECT CAST(CASE WHEN raw <= 640.0 AND vzero > 0
                THEN round(256.0 * ln(256.0 / vzero), 0)
                ELSE round(raw, 0) END AS BIGINT) AS ndv FROM e1)
            SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_orders,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_cust,
              (SELECT ndv FROM hll_o) AS ndv_o,
              (SELECT ndv FROM hll_c) AS ndv_c,
              ((SELECT COUNT(*) FROM orders) * (SELECT COUNT(*) FROM customer))
                // greatest((SELECT ndv FROM hll_o), (SELECT ndv FROM hll_c))
                AS est_rows,
              (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
               JOIN customer c ON o.o_custkey = c.c_custkey) AS actual_rows,
              ((SELECT COUNT(*) FROM orders) * (SELECT COUNT(*) FROM customer))
                // greatest((SELECT ndv FROM hll_o), (SELECT ndv FROM hll_c))
                - (SELECT COUNT(*) FROM orders o
                   JOIN customer c ON o.o_custkey = c.c_custkey) AS err_rows"""))

  // ------------------------------------------------------------------- x175
  // Incremental maintenance of a JOIN materialized view — the delta rule
  // the aggregate-MV family (x141/x155/x157-adjacent maintainers) doesn't
  // cover: V = γ(fact ⋈ dim). For an append-only fact and a static dim,
  // ΔV = γ(Δfact ⋈ dim), and the refreshed view is merge(V, ΔV) — the
  // delta pass touches ONLY the appended rows (one broadcast-dim join
  // over Δfact), never the base fact. The query runs base build, delta
  // build, merge, AND the full rebuild side by side and emits a
  // self-certifying match column (the x160 discipline): merge ≡ rebuild,
  // hash-checked by the oracle, in exact cents so no float sum can
  // reassociate the comparison away.
  //
  // Scale shape: base and delta each join with a BROADCAST dim and
  // partial-aggregate to the segment domain; the merge is an
  // aggregation over two domain-sized tables. The rebuild column exists
  // only to exhibit the identity — production ships merge(V, ΔV) and
  // never re-reads the base fact.
  private val x175 = GQuery(
    "x175_join_mv_delta", "ext-lakehouse incremental-view-maintenance join-mv",
    (s, dir) => {
      val dim = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      def mv(fact: DataFrame): DataFrame = fact
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      val orders = Tables(s, dir, "orders")
      val base = mv(orders.where(pmod(col("o_orderkey"), lit(4)) =!= 0))
      val delta = mv(orders.where(pmod(col("o_orderkey"), lit(4)) === 0))
      val merged = base.unionByName(delta)
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("n")).as("merged_n"), sum(col("cents")).as("merged_cents"))
      val full = mv(orders)
        .select(col("c_mktsegment"), col("n").as("full_n"),
          col("cents").as("full_cents"))
      merged.join(full, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"), col("merged_n"), col("merged_cents"),
          col("full_n"), col("full_cents"),
          (col("merged_n") <=> col("full_n") &&
            col("merged_cents") <=> col("full_cents")).as("delta_rule_holds"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH f AS (
              SELECT o_orderkey, o_custkey,
                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
              FROM orders),
            dim AS (SELECT c_custkey, c_mktsegment FROM customer),
            base AS (
              SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(cents) AS BIGINT) AS cents
              FROM f JOIN dim ON o_custkey = c_custkey
              WHERE o_orderkey % 4 <> 0 GROUP BY 1),
            delta AS (
              SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(cents) AS BIGINT) AS cents
              FROM f JOIN dim ON o_custkey = c_custkey
              WHERE o_orderkey % 4 = 0 GROUP BY 1),
            merged AS (
              SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS merged_n,
                CAST(SUM(cents) AS BIGINT) AS merged_cents
              FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
              GROUP BY 1),
            fullv AS (
              SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS full_n,
                CAST(SUM(cents) AS BIGINT) AS full_cents
              FROM f JOIN dim ON o_custkey = c_custkey GROUP BY 1)
            SELECT m.c_mktsegment, m.merged_n, m.merged_cents,
              v.full_n, v.full_cents,
              (m.merged_n IS NOT DISTINCT FROM v.full_n AND
               m.merged_cents IS NOT DISTINCT FROM v.full_cents)
                AS delta_rule_holds
            FROM merged m FULL OUTER JOIN fullv v USING (c_mktsegment)
            ORDER BY c_mktsegment"""))

  // ------------------------------------------------------------------- x174
  // File-level zone-map skipping index — the EXTERNAL stats index a
  // lakehouse metadata layer keeps (per-file min/max, the Delta/Iceberg
  // file-stats idea), distinct from the parquet row-group zone maps
  // PartitionedWriteSpec exercises: the planner consults the tiny stats
  // table FIRST and hands the reader only the overlapping files, so a
  // selective range scan opens a fraction of the data without relying
  // on footer pushdown. Artifact = documents range-laid-out by doc_id
  // into fixed shards + a per-file (min, max, n) stats table (built once
  // via StoredArtifacts, read-only thereafter). The range bounds are
  // derived from the data (max/4 .. max/2) so the query is scale-free;
  // the output is just the matching rows, so a plain range filter is a
  // full DuckDB oracle — the skip path must produce EXACTLY the rows the
  // naive scan does. LakehouseSpec pins the actual skipping (files
  // handed to the reader < files in the layout) and stats honesty.
  private val ZoneShards = 8

  /** Per-file (min, max, n) zone stats of a parquet directory — THE
    * stats-table shape every skipping index in this module (and the
    * streaming maintainer) commits; schema changes happen here once.
    */
  def fileStats(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"),
        count(lit(1)).as("n"))

  /** Build (once) the range layout + stats; returns (layoutDir, stats). */
  def ensureZoneIndex(s: SparkSession, dir: String): (String, DataFrame) = {
    val layout = graft.StoredArtifacts.dir(dir, "zonemap_documents_v1")
    val statsP = graft.StoredArtifacts.dir(dir, "zonemap_documents_stats_v1")
    if (!graft.StoredArtifacts.ready(layout) || !graft.StoredArtifacts.ready(statsP)) {
      Tables(s, dir, "documents")
        .repartitionByRange(ZoneShards, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(layout)
      fileStats(s, layout)
        .coalesce(1)
        .write.mode("overwrite").parquet(statsP)
    }
    (layout, s.read.parquet(statsP))
  }

  /** Files overlapping [lo, hi] per the stats table — the "planner" half,
    * artifact-sized (ZoneShards rows) so the collect is a metadata read.
    */
  def zoneSelect(stats: DataFrame, lo: Long, hi: Long): Seq[String] =
    stats.where(col("min_id") <= hi && col("max_id") >= lo)
      .select(col("file")).collect().map(_.getString(0)).toSeq

  /** (doc_id, source, n_chars) of the documents with ids in
    * [max/loDiv, max/hiDiv], read from only the files the zone map
    * selects (x174, x182).
    */
  private def zoneLookup(s: SparkSession, dir: String, stats: DataFrame,
      loDiv: Int, hiDiv: Int): DataFrame = {
    val maxId = Tables(s, dir, "documents")
      .agg(max(col("doc_id"))).collect()(0).getLong(0)
    val (lo, hi) = (maxId / loDiv, maxId / hiDiv)
    s.read.parquet(zoneSelect(stats, lo, hi): _*)
      .where(col("doc_id") >= lo && col("doc_id") <= hi)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  private val x174 = GQuery(
    "x174_zonemap_lookup", "ext-lakehouse data-skipping file-stats",
    (s, dir) => {
      val (_, stats) = ensureZoneIndex(s, dir)
      zoneLookup(s, dir, stats, 4, 2)
    },
    Some("""SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id >= (SELECT MAX(doc_id) FROM documents) // 4
              AND doc_id <= (SELECT MAX(doc_id) FROM documents) // 2
            ORDER BY doc_id"""))

  // ------------------------------------------------------------------- x181
  // Compaction (the OPTIMIZE half of the x174 layout's lifecycle): bin
  // the ZoneShards range-laid-out files into fewer, larger files while
  // PRESERVING the range clustering — `repartitionByRange` on the same
  // key keeps every compacted file covering a contiguous doc_id span, so
  // the zone-map stats stay selective after compaction (naive
  // `coalesce` would splice arbitrary shards together and destroy the
  // skip index). The query reads the compacted layout back in full — a
  // plain documents oracle makes "compaction preserves content exactly"
  // a DuckDB row hash; LakehouseSkipSpec pins the physical half (fewer
  // files, disjoint spans, honest rebuilt stats).
  //
  // Scale shape: compaction cost is ONE range shuffle of the table —
  // the same price the original layout paid, amortized over every later
  // pruned scan; at 100 TB it runs per-partition over only the
  // small-file partitions a size census selects, never the whole table.
  private val CompactedShards = 3

  /** Build (once) the compacted layout + rebuilt stats. */
  def ensureCompacted(s: SparkSession, dir: String): (String, DataFrame) = {
    val (layout, _) = ensureZoneIndex(s, dir)
    val compacted = graft.StoredArtifacts.dir(dir, "zonemap_documents_compact_v1")
    val statsP = graft.StoredArtifacts.dir(dir, "zonemap_documents_compact_stats_v1")
    if (!graft.StoredArtifacts.ready(compacted) || !graft.StoredArtifacts.ready(statsP)) {
      s.read.parquet(layout)
        .repartitionByRange(CompactedShards, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(compacted)
      fileStats(s, compacted)
        .coalesce(1)
        .write.mode("overwrite").parquet(statsP)
    }
    (compacted, s.read.parquet(statsP))
  }

  private val x181 = GQuery(
    "x181_compaction", "ext-lakehouse optimize-compaction",
    (s, dir) => {
      val (compacted, _) = ensureCompacted(s, dir)
      s.read.parquet(compacted)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, source, n_chars FROM documents
            ORDER BY doc_id"""))

  // ------------------------------------------------------------------- x182
  // Incremental layout append + stats MERGE: new data lands as NEW range-
  // sharded files next to the immutable base — the base is never
  // rewritten (spec pins byte-identical base files) — and the skip index
  // is extended by scanning ONLY the appended batch (stats merge = union
  // of per-file rows; the x84/x132 batch-only-cost discipline applied to
  // the metadata layer). Appended files overlap the base's spans — the
  // honest cost of cheap appends; selectivity degrades gracefully and
  // x181's compaction is the operation that restores it. The query is a
  // pruned range read over the MERGED stats, fully oracled: the
  // incremental index must hand the reader every row the naive scan
  // finds.
  private val IncDeltaShards = 4

  /** Build (once) base layout (2/3 of docs), appended batch (the rest),
    * and the merged per-file stats; returns (baseDir, deltaDir, stats).
    */
  def ensureIncZone(s: SparkSession, dir: String): (String, String, DataFrame) = {
    val base = graft.StoredArtifacts.dir(dir, "zoneinc_documents_base_v1")
    val delta = graft.StoredArtifacts.dir(dir, "zoneinc_documents_delta_v1")
    val statsP = graft.StoredArtifacts.dir(dir, "zoneinc_documents_stats_v1")
    if (!graft.StoredArtifacts.ready(base) || !graft.StoredArtifacts.ready(delta) ||
      !graft.StoredArtifacts.ready(statsP)) {
      val docs = Tables(s, dir, "documents")
      docs.where(pmod(col("doc_id"), lit(3)) =!= 2)
        .repartitionByRange(ZoneShards, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(base)
      docs.where(pmod(col("doc_id"), lit(3)) === 2)
        .repartitionByRange(IncDeltaShards, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(delta)
      // merge = union of per-file rows; only the delta is newly scanned
      // (base stats would come from the existing index at 100 TB — the
      // re-scan here just keeps the builder self-contained)
      fileStats(s, base).unionByName(fileStats(s, delta))
        .coalesce(1).write.mode("overwrite").parquet(statsP)
    }
    (base, delta, s.read.parquet(statsP))
  }

  private val x182 = GQuery(
    "x182_zonemap_append", "ext-lakehouse incremental-index stats-merge",
    (s, dir) => {
      val (_, _, stats) = ensureIncZone(s, dir)
      zoneLookup(s, dir, stats, 8, 3)
    },
    Some("""SELECT doc_id, source, n_chars FROM documents
            WHERE doc_id >= (SELECT MAX(doc_id) FROM documents) // 8
              AND doc_id <= (SELECT MAX(doc_id) FROM documents) // 3
            ORDER BY doc_id"""))

  // ------------------------------------------------------------------- x183
  // Per-file Bloom skipping for POINT lookups on a column the range
  // layout doesn't order (text): the equality-predicate complement of
  // x174's min/max ranges — zone maps can't prune `text = ?` because
  // every file spans the whole text domain, but a per-file Bloom over
  // xxhash64(text) can (Delta/Iceberg keep exactly this pair: ranges
  // for sort columns, blooms for high-cardinality lookup columns).
  // Build: one pass over each layout file (driver loop over the
  // ZoneShards-sized file list — artifact-sized, not data-sized),
  // Spark's own sketch.BloomFilter serialized next to the stats. Probe:
  // test the target hash against each file's bloom driver-side (a
  // metadata read), hand the reader only candidate files. No false
  // negatives by construction — the oracle (a plain equality scan)
  // fails if pruning ever drops the real row; LakehouseSkipSpec pins
  // that files are actually skipped at fpp = 1 %.
  /** Build (once) per-file blooms over xxhash64(text); returns
    * (layoutDir, Seq(file -> bloom)).
    */
  def ensureBloomIndex(s: SparkSession, dir: String)
      : (String, Seq[(String, org.apache.spark.util.sketch.BloomFilter)]) = {
    val (layout, _) = ensureZoneIndex(s, dir)
    val idxP = graft.StoredArtifacts.dir(dir, "bloom_documents_text_v1")
    if (!graft.StoredArtifacts.ready(idxP)) {
      val files = s.read.parquet(layout)
        .select(input_file_name().as("f")).distinct()
        .collect().map(_.getString(0)).sorted
      val rows = files.map { f =>
        val df = s.read.parquet(f).select(xxhash64(col("text")).as("h"))
        val n = df.count()
        val bf = df.stat.bloomFilter("h", math.max(n, 1L), 0.01)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }
      import s.implicits._
      rows.toSeq.toDF("file", "bloom")
        .coalesce(1).write.mode("overwrite").parquet(idxP)
    }
    val loaded = s.read.parquet(idxP).collect().map { r =>
      val in = new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bloom"))
      (r.getString(0), org.apache.spark.util.sketch.BloomFilter.readFrom(in))
    }.toSeq
    (layout, loaded)
  }

  private val x183 = GQuery(
    "x183_bloom_lookup", "ext-lakehouse bloom-skipping point-lookup",
    (s, dir) => {
      val (_, blooms) = ensureBloomIndex(s, dir)
      // deterministic probe: the text of the first doc at or past max/2
      val maxId = Tables(s, dir, "documents")
        .agg(max(col("doc_id"))).collect()(0).getLong(0)
      val target = Tables(s, dir, "documents")
        .where(col("doc_id") >= maxId / 2).orderBy("doc_id")
        .select(col("text")).limit(1).collect()(0).getString(0)
      val h = s.range(1).select(xxhash64(lit(target))).collect()(0).getLong(0)
      val candidates = blooms.filter(_._2.mightContainLong(h)).map(_._1)
      s.read.parquet(candidates: _*)
        .where(col("text") === target)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    },
    Some("""WITH probe AS (
              SELECT text FROM documents
              WHERE doc_id = (SELECT MIN(doc_id) FROM documents
                WHERE doc_id >= (SELECT MAX(doc_id) FROM documents) // 2))
            SELECT d.doc_id, d.source, d.n_chars
            FROM documents d, probe p WHERE d.text = p.text
            ORDER BY d.doc_id"""))

  // ------------------------------------------------------------------- x184
  // Stats-driven broadcast join, end to end: ANALYZE the dimension once
  // (stats into [[graft.plans.StatsCbo]]'s registry), install the
  // [[graft.plans.StatsBroadcastJoin]] optimizer rule, and run the
  // selectively-filtered dim ⋈ fact rollup — the join the rule exists
  // for, because Spark's size-based default can't see through the
  // filter. The rows are fully oracled (a hint can change the strategy,
  // never the result — this query hash-certifies that); StatsCboSpec
  // pins the strategy flip itself.
  //
  // Isolation: the dim is ANALYZEd as a dedicated artifact COPY, so the
  // registered path is scanned by THIS query alone — a global optimizer
  // rule must not be able to re-plan any other registry query's pinned
  // shape as a side effect of this one running first.
  /** Build (once) the dedicated dim copy; ANALYZE + register its stats. */
  def ensureCboDim(s: SparkSession, dir: String): String = {
    val p = graft.StoredArtifacts.dir(dir, "cbo_customer_v1")
    if (!graft.StoredArtifacts.ready(p))
      Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
        .coalesce(1).write.mode("overwrite").parquet(p)
    if (graft.plans.StatsCbo.lookup(p).isEmpty)
      graft.plans.StatsCbo.analyzeAndRegister(s, p)
    p
  }

  private val x184 = GQuery(
    "x184_cbo_broadcast", "ext-optimizer stats-cbo broadcast-selection",
    (s, dir) => {
      graft.plans.StatsBroadcastJoin.install(s)
      val dimPath = ensureCboDim(s, dir)
      val dim = s.read.parquet(dimPath)
        .where(col("c_custkey") <= 20)
        .select(col("c_custkey"), col("c_mktsegment"))
      Tables(s, dir, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                AS cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE c_custkey <= 20
            GROUP BY c_mktsegment
            ORDER BY c_mktsegment"""))

  // ------------------------------------------------------------------- x185
  // Result-cache serving as a registry surface: the dashboard rollup the
  // reference's Grafana panels re-issue on every refresh, routed through
  // [[graft.plans.ResultCache]] — first touch computes and commits the
  // result (atomic `_tmp` rename), every later touch (including Bench's
  // repeat runs) reads ONE small parquet directory and runs zero
  // upstream jobs. The oracle hash-certifies that a cache hit returns
  // EXACTLY the recompute's rows; ResultCacheSpec pins the hit/miss job
  // counts and key sensitivity.
  private val x185 = GQuery(
    "x185_result_cache", "ext-serving result-cache plan-fingerprint",
    (s, dir) => {
      val rollup = Tables(s, dir, "events")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      graft.plans.ResultCache
        .run(rollup, graft.StoredArtifacts.dir(dir, "result_cache_v1"))
        .orderBy("day", "event_type")
    },
    Some("""SELECT CAST(ts AS DATE) AS day, event_type,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
                AS cents
            FROM events GROUP BY 1, 2 ORDER BY day, event_type"""))

  // ------------------------------------------------------------------- x190
  // Left-join elimination end to end: the BI-generated shape — fact LEFT
  // JOIN dim on a declared-unique key, with only fact columns consumed —
  // run with [[graft.plans.JoinElimination]] installed and the dim's key
  // uniqueness verified-then-declared (`RELY` semantics with the audit
  // scan). The optimizer drops the join entirely (StatsCboSpec pins the
  // join-free optimized plan); the oracle runs the UN-eliminated left
  // join in DuckDB, so the row hash certifies the rewrite's soundness:
  // eliminated ≡ joined, row for row.
  private val x190 = GQuery(
    "x190_join_elimination", "ext-optimizer join-elimination declared-unique",
    (s, dir) => {
      graft.plans.JoinElimination.install(s)
      val dimPath = ensureCboDim(s, dir)
      require(graft.plans.JoinElimination
        .verifyAndDeclareUnique(s, dimPath, "c_custkey"),
        "dim key must audit unique before the declaration")
      val dim = s.read.parquet(dimPath)
        .select(col("c_custkey"), col("c_mktsegment"))
      Tables(s, dir, "orders")
        .join(dim, col("o_custkey") === col("c_custkey"), "left_outer")
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
        .orderBy("o_orderkey")
    },
    Some("""SELECT o_orderkey, o_custkey,
              CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
            FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            ORDER BY o_orderkey"""))

  // ------------------------------------------------------------------- x199
  // Incremental JOIN-MV maintenance under DIMENSION updates — the delta
  // rule x175 doesn't cover: x175's dim is static; here dim rows CHANGE
  // attribute (customers with c_custkey % 7 = 0 re-segment to 'MOVED'),
  // and V = γ_segment(fact ⋈ dim) must follow without re-scanning the
  // fact table against the full dim. The update rule:
  //
  //   V' = merge(V, γ(fact ⋈ Δdim_old) NEGATED, γ(fact ⋈ Δdim_new))
  //
  // — only the CHANGED dim keys join the fact (a broadcast semi-sized
  // join at real scale, since |Δdim| << |dim|), their old-segment
  // contributions enter with negative sign and their new-segment
  // contributions with positive, and the algebraic merge nets out. The
  // query runs the delta path AND the full rebuild against the updated
  // dim side by side with the x160/x175 self-certifying match column,
  // in exact cents, hash-checked by the oracle. Groups whose net count
  // reaches zero are dropped (the delete-group case the rule must get
  // right).
  //
  // Scale shape: the delta pass touches fact rows ONLY for changed keys
  // (the join is on the Δdim key set, broadcast); the rebuild column
  // exists to exhibit the identity — production ships the merge.
  private val x199 = GQuery(
    "x199_join_mv_dim_update", "ext-lakehouse ivm dimension-update",
    (s, dir) => {
      val changed = col("c_custkey") % 7 === 0
      val dimOld = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment"))
      val dimNew = dimOld
        .withColumn("c_mktsegment",
          when(changed, lit("MOVED")).otherwise(col("c_mktsegment")))
      val fact = Tables(s, dir, "orders")
        .select(col("o_custkey"),
          round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      def mv(dim: DataFrame): DataFrame = fact
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      // base view over the OLD dim; deltas over the changed keys only
      val base = mv(dimOld)
      val deltaOld = mv(dimOld.where(changed))
        .select(col("c_mktsegment"), (-col("n")).as("n"),
          (-col("cents")).as("cents"))
      val deltaNew = mv(dimNew.where(changed))
      val merged = base.unionByName(deltaOld).unionByName(deltaNew)
        .groupBy(col("c_mktsegment"))
        .agg(sum(col("n")).as("merged_n"), sum(col("cents")).as("merged_cents"))
        .where(col("merged_n") =!= 0)
      val rebuilt = mv(dimNew)
        .select(col("c_mktsegment"), col("n").as("full_n"),
          col("cents").as("full_cents"))
      merged.join(rebuilt, Seq("c_mktsegment"), "full_outer")
        .select(col("c_mktsegment"), col("merged_n"), col("merged_cents"),
          col("full_n"), col("full_cents"),
          (col("merged_n") <=> col("full_n") &&
            col("merged_cents") <=> col("full_cents")).as("update_rule_holds"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH f AS (
              SELECT o_custkey,
                CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
              FROM orders),
            d_old AS (SELECT c_custkey, c_mktsegment FROM customer),
            d_new AS (
              SELECT c_custkey,
                CASE WHEN c_custkey % 7 = 0 THEN 'MOVED'
                     ELSE c_mktsegment END AS c_mktsegment
              FROM customer),
            base AS (
              SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(cents) AS BIGINT) AS cents
              FROM f JOIN d_old ON o_custkey = c_custkey GROUP BY 1),
            delta_old AS (
              SELECT c_mktsegment, -CAST(COUNT(*) AS BIGINT) AS n,
                -CAST(SUM(cents) AS BIGINT) AS cents
              FROM f JOIN d_old ON o_custkey = c_custkey
              WHERE c_custkey % 7 = 0 GROUP BY 1),
            delta_new AS (
              SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(cents) AS BIGINT) AS cents
              FROM f JOIN d_new ON o_custkey = c_custkey
              WHERE c_custkey % 7 = 0 GROUP BY 1),
            merged AS (
              SELECT c_mktsegment, CAST(SUM(n) AS BIGINT) AS merged_n,
                CAST(SUM(cents) AS BIGINT) AS merged_cents
              FROM (SELECT * FROM base UNION ALL SELECT * FROM delta_old
                    UNION ALL SELECT * FROM delta_new)
              GROUP BY 1 HAVING SUM(n) <> 0),
            rebuilt AS (
              SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS full_n,
                CAST(SUM(cents) AS BIGINT) AS full_cents
              FROM f JOIN d_new ON o_custkey = c_custkey GROUP BY 1)
            SELECT m.c_mktsegment, m.merged_n, m.merged_cents,
              r.full_n, r.full_cents,
              (m.merged_n IS NOT DISTINCT FROM r.full_n AND
               m.merged_cents IS NOT DISTINCT FROM r.full_cents)
                AS update_rule_holds
            FROM merged m FULL OUTER JOIN rebuilt r USING (c_mktsegment)
            ORDER BY c_mktsegment"""))

  /** SQL surface over the skipping indexes (the Similarity.sqlRegister
    * discipline applied to the metadata layer): registers
    * `<prefix>_zone_stats` — the per-file (min, max, n) stats table a
    * `spark.sql` user consults for pruning decisions — and
    * `<prefix>_zone_lookup(lo, hi)` semantics via a pre-bound pruned
    * view `<prefix>_zone_range` over the given bounds: the view's scan
    * list is resolved through [[zoneSelect]] at registration, so the
    * SQL reader pays exactly the pruned file set a Scala caller would.
    * SqlSurfaceSpec pins SQL ≡ Scala parity on both.
    */
  def sqlRegister(s: SparkSession, dir: String, prefix: String,
      lo: Long, hi: Long): Unit = {
    val (_, stats) = ensureZoneIndex(s, dir)
    stats.createOrReplaceTempView(s"${prefix}_zone_stats")
    val files = zoneSelect(stats, lo, hi)
    val pruned =
      if (files.isEmpty)
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          s.read.parquet(graft.StoredArtifacts.dir(dir, "zonemap_documents_v1"))
            .schema)
      else s.read.parquet(files: _*)
        .where(col("doc_id").between(lo, hi))
    pruned.createOrReplaceTempView(s"${prefix}_zone_range")
  }

  // ------------------------------------------------------------------- x205
  // Write-path constraint enforcement with quarantine — the Delta-style
  // CHECK-constraint gate every governed lakehouse write runs: each
  // incoming row is evaluated against the declared rule set and lands in
  // the table OR in a quarantine with the FULL list of violated rules
  // (never just the first — triage needs all of them), plus a per-rule
  // violation census. One narrow scan: rules are row-local predicates,
  // the verdict is a projection, and the census is one tiny aggregate —
  // at 100 TB the gate costs exactly the write's own read. Quarantine
  // rows keep their key so reprocessing joins back by event_id; reasons
  // concatenate in DECLARED rule order, so the verdict string is
  // deterministic and the whole gate hash-verifies.
  /** The declared events-table constraint set — ONE definition shared by
    * the batch gate (x205) and the streaming gate
    * ([[graft.streaming.ConstraintGateStream]]), so the two can never
    * drift apart on what "valid" means.
    */
  val eventConstraints: Seq[(String, Column)] = Seq(
    "value_cap" -> (col("value").isNotNull && col("value") <= 300.0),
    "billable_type" -> col("event_type").isin("view", "click", "purchase", "signup"),
    "props_k_bound" ->
      (get_json_object(col("props"), "$.k").cast("long") < 95L))

  /** Adds the `violated` column: the comma-joined names of every failed
    * rule in DECLARED order ("" = row passes). A NULL rule verdict is a
    * violation (CHECK semantics: unknown is not valid).
    */
  def withViolations(df: DataFrame, rules: Seq[(String, Column)]): DataFrame =
    df.withColumn("violated",
      concat_ws(",", rules.map { case (n, p) =>
        when(!coalesce(p, lit(false)), lit(n))
      }: _*))

  private val x205 = GQuery(
    "x205_write_constraints", "ext-lakehouse write-constraints quarantine",
    (s, dir) =>
      withViolations(Tables(s, dir, "events"), eventConstraints)
        .where(col("violated") =!= "")
        .select(col("event_id"), col("event_type"), col("violated"))
        .orderBy("event_id"),
    Some("""SELECT event_id, event_type,
              concat_ws(',',
                CASE WHEN NOT coalesce(value IS NOT NULL AND value <= 300.0,
                    FALSE) THEN 'value_cap' END,
                CASE WHEN NOT coalesce(event_type IN
                    ('view', 'click', 'purchase', 'signup'), FALSE)
                  THEN 'billable_type' END,
                CASE WHEN NOT coalesce(
                    CAST(json_extract_string(props, '$.k') AS BIGINT) < 95,
                    FALSE) THEN 'props_k_bound' END) AS violated
            FROM events
            WHERE concat_ws(',',
                CASE WHEN NOT coalesce(value IS NOT NULL AND value <= 300.0,
                    FALSE) THEN 'value_cap' END,
                CASE WHEN NOT coalesce(event_type IN
                    ('view', 'click', 'purchase', 'signup'), FALSE)
                  THEN 'billable_type' END,
                CASE WHEN NOT coalesce(
                    CAST(json_extract_string(props, '$.k') AS BIGINT) < 95,
                    FALSE) THEN 'props_k_bound' END) <> ''
            ORDER BY event_id"""))

  // ------------------------------------------------------------------- x229
  // Merge-on-read POSITION deletes (deletion vectors) — the Iceberg-v2 /
  // Delta-DV row-level delete that every lakehouse needs at 100 TB:
  // deleting rows must not rewrite multi-GB data files, so deletes land
  // as a tiny (file, row-position) sidecar and the READ path subtracts
  // them. Rows are identified purely by physical position
  // (`_metadata.file_path`, `_metadata.row_index` — Spark's native scan
  // metadata), never by re-evaluating the delete predicate: the serving
  // scan works even after the predicate's columns are gone. The sidecar
  // anti-join is file+pos keyed and DV-sized, so the planner broadcasts
  // it (LakehouseSkipSpec pins that plus the no-rewrite property);
  // compaction (x181's job) is where DVs eventually fold into rewritten
  // files.
  private val DvEvery = 10L

  /** Build (once) the multi-file layout and its position-delete sidecar
    * (every DvEvery-th doc deleted); returns (layoutDir, dvDir).
    */
  def ensureDeletionVectors(s: SparkSession, dir: String): (String, String) = {
    val layout = graft.StoredArtifacts.dir(dir, "dv_documents_v1")
    val dvP = graft.StoredArtifacts.dir(dir, "dv_documents_deletes_v1")
    if (!graft.StoredArtifacts.ready(layout) ||
        !graft.StoredArtifacts.ready(dvP)) {
      Tables(s, dir, "documents")
        .repartitionByRange(ZoneShards, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.mode("overwrite").parquet(layout)
      s.read.parquet(layout)
        .select(col("_metadata.file_path").as("file"),
          col("_metadata.row_index").as("pos"), col("doc_id"))
        .where(col("doc_id") % DvEvery === 0)
        .select("file", "pos")
        .coalesce(1).write.mode("overwrite").parquet(dvP)
    }
    (layout, dvP)
  }

  /** The merge-on-read serving scan: data files minus the sidecar's
    * positions — one broadcast anti-join, no predicate re-evaluation.
    * The anti-join's `.distinct()` on the sidecar dedups nothing here
    * (the sidecar lists each position once); it stays so x229's plan, and
    * its fingerprint, are unchanged.
    */
  def readWithDeletes(s: SparkSession, layout: String, dvDir: String): DataFrame =
    minusPositions(withPos(s.read.parquet(layout)), s.read.parquet(dvDir))
      .drop("file", "pos")

  /** A scan with each row's physical position as (`file`, `pos`). */
  private def withPos(df: DataFrame): DataFrame = df
    .withColumn("file", col("_metadata.file_path"))
    .withColumn("pos", col("_metadata.row_index"))

  /** `rows` (with positions) minus every position `dv` lists. */
  private def minusPositions(rows: DataFrame, dv: DataFrame): DataFrame =
    rows.join(dv.select("file", "pos").distinct(), Seq("file", "pos"), "left_anti")

  /** Fold the deletion vectors into rewritten data files (merge-on-read →
    * copy-on-write): the maintenance step that keeps the DV sidecar from
    * growing unboundedly, scheduled exactly like x181's small-file
    * compaction. Survivors are re-laid-out range-partitioned; the new
    * layout serves with an EMPTY sidecar. LakehouseSkipSpec pins row
    * parity with the pre-fold merge-on-read scan.
    */
  def compactDeletes(s: SparkSession, layout: String, dvDir: String,
      outDir: String): Unit =
    readWithDeletes(s, layout, dvDir)
      .repartitionByRange(ZoneShards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite").parquet(outDir)

  // ---------------------------------------------------- merge-on-read log
  // A merge-on-read table's changes are one [[graft.SegmentLog]] at
  // `logDir`, beside the table's base layout, which is never rewritten.
  // Upserts ([[mergeMoR]]) and row deletes (DeleteVectorStream.applyBatch)
  // both commit into it; MergeStream streams both kinds of change as one
  // query. Each batch is one segment of two frames: `rows`, replacement
  // rows with the base layout's columns (a delete batch writes none), and
  // `dv`, the (file, pos) positions the batch masks. [[readMoR]] serves
  // base ∪ live `rows` minus live `dv`. Batch ids are the log's one replay
  // sequence and must increase, so a log has one writer: a re-delivered
  // id, or one a compaction absorbed, is a no-op ([[graft.SegmentLog.applied]]).

  /** Live segments of a MoR log before a compaction, as for the ingest streams. */
  private val MoRSegments = 4

  /** The live segments' directories of the MoR log at `logDir`, from one
    * manifest resolve; none when no batch has committed.
    */
  private def liveSegments(logDir: String): Seq[String] =
    if (!StoredManifest.exists(logDir)) Nil
    else StoredManifest.read(logDir) match {
      case (gen, segments) => segments.map(seg => s"$logDir/$gen/$seg")
    }

  /** The live view with positions: the base layout plus the named
    * segments' rows, minus their DVs, each read by its explicit path.
    */
  private def morView(s: SparkSession, layout: String,
      segments: Seq[String]): DataFrame = {
    val base = withPos(s.read.parquet(layout))
    if (segments.isEmpty) base
    else minusPositions(
      base.unionByName(withPos(s.read.parquet(segments.map(seg => s"$seg/rows"): _*))),
      s.read.parquet(segments.map(seg => s"$seg/dv"): _*))
  }

  /** The MoR serving scan: base ∪ live rows minus live DVs, from one
    * manifest resolve. An absent log serves the base. The frame names the
    * live segments' paths, which the next compaction deletes: resolve it
    * again per query rather than holding it across batches.
    */
  def readMoR(s: SparkSession, layout: String, logDir: String): DataFrame =
    morView(s, layout, liveSegments(logDir)).drop("file", "pos")

  /** Merge-on-read MERGE (upsert): matched LIVE rows are masked and every
    * update lands as replacement rows, in one segment of the table's log —
    * no base-file rewrite (Delta DV / Iceberg MoR upsert semantics; x179
    * is the copy-on-write tier). Matching resolves against the CURRENT
    * live view (base + live segments minus DVs), so chained merges
    * compose: a second merge updating a row the first merge introduced
    * masks the FIRST MERGE's version. `id` is the batch's place in the
    * log and must exceed every id committed before: a committed id, or
    * one a compaction absorbed, is a no-op, so re-delivering a batch is
    * safe but reusing an id loses its updates.
    */
  def mergeMoR(updates: DataFrame, layout: String, logDir: String, id: Long): Unit =
    commitMoR(updates, updates, layout, logDir, id)

  /** Commit batch `id` of the MoR log: `rows` as its replacement rows,
    * and the live positions of `keys`' doc ids as its DV. The probe reads
    * only committed paths, so it needs no pin while the segment lands;
    * a crash before the manifest commit leaves the previous view, and a
    * re-delivered id is a no-op ([[graft.SegmentLog.applied]]).
    */
  private[graft] def commitMoR(rows: DataFrame, keys: DataFrame,
      layout: String, logDir: String, id: Long): Unit = {
    val s = rows.sparkSession
    SegmentLog.ingest(logDir, id, MoRSegments) { (genDir, seg) =>
      val masked = morView(s, layout, liveSegments(logDir))
        .join(keys.select(col("doc_id")).distinct().hint("broadcast"),
          Seq("doc_id"), "left_semi")
        .select("file", "pos")
      rows.write.parquet(s"$genDir/$seg/rows")
      masked.write.parquet(s"$genDir/$seg/dv")
    }(compactMoR(s))
  }

  /** The MoR log's compaction: the live segments' surviving rows become
    * the next generation's base rows, and only the DVs into the base
    * layout carry over. The two kinds of DV file are told apart by the
    * `file` values the segment rows themselves read back as.
    */
  private[graft] def compactMoR(s: SparkSession): SegmentLog.Merge =
    (genDir, segments, nextDir, base) => {
      val rows = withPos(s.read.parquet(segments.map(seg => s"$genDir/$seg/rows"): _*))
      val dv = s.read.parquet(segments.map(seg => s"$genDir/$seg/dv"): _*)
      minusPositions(rows, dv).drop("file", "pos").write.parquet(s"$nextDir/$base/rows")
      dv.join(rows.select("file").distinct(), Seq("file"), "left_anti")
        .write.parquet(s"$nextDir/$base/dv")
    }

  private val x229 = GQuery(
    "x229_deletion_vectors", "ext-lakehouse merge-on-read position-deletes",
    (s, dir) => {
      val (layout, dv) = ensureDeletionVectors(s, dir)
      readWithDeletes(s, layout, dv)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
        .orderBy("source")
    },
    Some("""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS sum_chars
            FROM documents WHERE doc_id % 10 <> 0
            GROUP BY 1 ORDER BY 1"""))

  // ------------------------------------------------------------------- x273
  // Sort-key advisor — x140 lays the table out once a key is CHOSEN; this
  // chooses it: for each candidate sort key, the exact number of
  // 32-equal-file spans each distinct value would touch if the table were
  // range-sorted by that key (the clustering-factor metric behind every
  // warehouse CLUSTER BY advisor). In a sorted layout equal values are
  // contiguous, so files-per-value follows from the value's cumulative
  // [start,end] row span alone: file(r) = (r−1)·32 div N — the whole
  // metric computes on the VALUE DOMAIN with a domain cumsum, the table
  // itself is never sorted (the x214 "facts never sort" discipline; the
  // sort this advises on happens once at write time, after the choice).
  // Lowest avg files/value wins; the first output row is the
  // recommendation. Exact integers end to end.
  //
  // Scale shape: one groupBy per candidate (map-side combinable) to its
  // value domain, domain-sized cumsum windows, four 1-row summaries
  // unioned.
  private def sortKeySpan(li: DataFrame, name: String,
      key: Column): DataFrame = {
    val w = Window.orderBy(col("k"))
    val all = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    li.groupBy(key.as("k")).agg(count(lit(1)).as("cnt"))
      .withColumn("end", sum(col("cnt")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n_tot", sum(col("cnt")).over(all))
      .withColumn("ft", expr("((end - 1) * 32) div n_tot " +
        "- ((end - cnt) * 32) div n_tot + 1"))
      .agg(count(lit(1)).as("ndv"), sum(col("ft")).as("files_sum"))
      .select(lit(name).as("candidate"), col("ndv"), col("files_sum"),
        expr("(1000 * files_sum) div ndv").as("avg_files_milli"))
  }

  private def sortKeyOracleCte(name: String, keySql: String): String =
    s"""${name}_g AS (
         SELECT $keySql AS k, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM lineitem GROUP BY 1),
       ${name}_c AS (
         SELECT cnt,
           CAST(SUM(cnt) OVER (ORDER BY k
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS e,
           CAST(SUM(cnt) OVER () AS BIGINT) AS n_tot
         FROM ${name}_g),
       ${name}_s AS (
         SELECT CAST(COUNT(*) AS BIGINT) AS ndv,
           CAST(SUM(((e - 1) * 32) // n_tot
             - ((e - cnt) * 32) // n_tot + 1) AS BIGINT) AS files_sum
         FROM ${name}_c)"""

  private val x273 = GQuery(
    "x273_sort_key_advisor", "ext-lakehouse layout-advisor sort-key",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      sortKeySpan(li, "l_partkey", col("l_partkey"))
        .unionAll(sortKeySpan(li, "l_returnflag", col("l_returnflag")))
        .unionAll(sortKeySpan(li, "l_shipdate",
          date_trunc("day", col("l_shipdate")).cast("date")))
        .unionAll(sortKeySpan(li, "l_suppkey", col("l_suppkey")))
        .orderBy(col("avg_files_milli"), col("candidate"))
    },
    Some(s"""WITH ${sortKeyOracleCte("pk", "l_partkey")},
            ${sortKeyOracleCte("rf", "l_returnflag")},
            ${sortKeyOracleCte("sd",
              "CAST(date_trunc('day', l_shipdate) AS DATE)")},
            ${sortKeyOracleCte("sk", "l_suppkey")},
            u AS (
              SELECT 'l_partkey' AS candidate, ndv, files_sum FROM pk_s
              UNION ALL
              SELECT 'l_returnflag', ndv, files_sum FROM rf_s
              UNION ALL
              SELECT 'l_shipdate', ndv, files_sum FROM sd_s
              UNION ALL
              SELECT 'l_suppkey', ndv, files_sum FROM sk_s)
            SELECT candidate, ndv, files_sum,
              (1000 * files_sum) // ndv AS avg_files_milli
            FROM u ORDER BY avg_files_milli, candidate"""))

  // ------------------------------------------------------------------- x274
  // Column-encoding advisor — the other half of the layout decision x273
  // starts: per column, exact byte accounting of PLAIN (every value
  // spelled out) vs DICTIONARY (each distinct value once + a fixed-width
  // code per row, width by dictionary size: ≤2⁸→1, ≤2¹⁶→2, else 4) over
  // the column's string rendering, and the cheaper one recommended.
  // Byte accounting is UTF-8 octets (round-10 ADVICE fix: octet_length /
  // strlen, not character length — non-ASCII payloads undercount in
  // characters and can flip the recommendation) —
  // the parquet-writer heuristic surfaced as a queryable audit so an
  // operator can see WHY a column's files are large before forcing an
  // encoding. Integer bytes end to end.
  //
  // Scale shape: one value-domain aggregate per column (map-side
  // combinable — the domain carries (value, count)), one domain rollup
  // each, four 1-row summaries unioned; the fact table is scanned once
  // per column with only that column read (column pruning does the rest).
  // The value length is materialized in the domain-level aggregate (not
  // referenced from the outer rollup): for columns that are already
  // strings the `cast(string).as(v)` projection is alias-only, and
  // letting the outer aggregate reference `v` through it trips Spark's
  // project-collapsing into ATTRIBUTE_NOT_FOUND (seen on sf0.01).
  private def encodingStats(ev: DataFrame, name: String): DataFrame =
    ev.select(col(name).cast("string").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cnt"),
        max(expr("octet_length(v)")).cast("long").as("len"))
      .agg(sum(col("cnt")).as("n"), count(lit(1)).as("ndv"),
        sum(col("cnt") * col("len")).as("plain_bytes"),
        sum(col("len")).as("lit_bytes"))
      .select(lit(name).as("column_name"), col("n"), col("ndv"),
        col("plain_bytes"),
        expr("""lit_bytes + n * (case when ndv <= 256 then 1
             when ndv <= 65536 then 2 else 4 end)""").as("dict_bytes"))
      .withColumn("encoding",
        when(col("dict_bytes") < col("plain_bytes"), "dict")
          .otherwise("plain"))

  private def encOracleCte(name: String): String =
    s"""${name}_g AS (
         SELECT CAST($name AS VARCHAR) AS v, CAST(COUNT(*) AS BIGINT) AS cnt
         FROM events GROUP BY 1),
       ${name}_s AS (
         SELECT '$name' AS column_name, CAST(SUM(cnt) AS BIGINT) AS n,
           CAST(COUNT(*) AS BIGINT) AS ndv,
           CAST(SUM(cnt * strlen(v)) AS BIGINT) AS plain_bytes,
           CAST(SUM(strlen(v)) AS BIGINT) AS lit_bytes
         FROM ${name}_g)"""

  private val x274 = GQuery(
    "x274_encoding_advisor", "ext-lakehouse layout-advisor encoding",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      encodingStats(ev, "event_id")
        .unionAll(encodingStats(ev, "event_type"))
        .unionAll(encodingStats(ev, "props"))
        .unionAll(encodingStats(ev, "user_id"))
        .orderBy("column_name")
    },
    Some(s"""WITH ${encOracleCte("event_id")},
            ${encOracleCte("event_type")},
            ${encOracleCte("props")},
            ${encOracleCte("user_id")},
            u AS (
              SELECT * FROM event_id_s
              UNION ALL SELECT * FROM event_type_s
              UNION ALL SELECT * FROM props_s
              UNION ALL SELECT * FROM user_id_s)
            SELECT column_name, n, ndv, plain_bytes,
              lit_bytes + n * (CASE WHEN ndv <= 256 THEN 1
                WHEN ndv <= 65536 THEN 2 ELSE 4 END) AS dict_bytes,
              CASE WHEN lit_bytes + n * (CASE WHEN ndv <= 256 THEN 1
                  WHEN ndv <= 65536 THEN 2 ELSE 4 END) < plain_bytes
                THEN 'dict' ELSE 'plain' END AS encoding
            FROM u ORDER BY column_name"""))

  // ------------------------------------------------------------------- x282
  // Column profile audit — the ANALYZE-shaped read behind x273/x274's
  // advisors surfaced as its own queryable row: per column, exact row
  // count, null count, and NDV. This is the table every layout/encoding/
  // stats decision starts from (StatsCbo ingests the same numbers; the
  // advisors consume its domains), and the audit an operator runs FIRST
  // when a table misbehaves — nulls where none were expected, NDV
  // collapse after a bad backfill. Exact integers; no type-dependent
  // rendering (min/max stay with the typed advisors — cross-engine
  // string formatting of doubles/timestamps is not hash-stable).
  //
  // Scale shape: one single-column aggregate per profiled column (column
  // pruning gives each scan exactly one column; count-distinct is the
  // exact tier — c21's HLL row is the sketch tier of the same read),
  // five 1-row summaries unioned.
  private def profileCol(ev: DataFrame, name: String): DataFrame =
    ev.select(col(name).as("v"))
      .agg(count(lit(1)).as("n"),
        (count(lit(1)) - count(col("v"))).as("n_null"),
        countDistinct(col("v")).as("ndv"))
      .select(lit(name).as("column_name"), col("n"), col("n_null"), col("ndv"))

  private val x282 = GQuery(
    "x282_column_profile", "ext-lakehouse profile-audit column-stats",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      profileCol(ev, "event_id")
        .unionAll(profileCol(ev, "event_type"))
        .unionAll(profileCol(ev, "props"))
        .unionAll(profileCol(ev, "user_id"))
        .unionAll(profileCol(ev, "value"))
        .orderBy("column_name")
    },
    Some("""WITH u AS (
              SELECT 'event_id' AS column_name, COUNT(*) AS n,
                COUNT(*) - COUNT(event_id) AS n_null,
                COUNT(DISTINCT event_id) AS ndv FROM events
              UNION ALL
              SELECT 'event_type', COUNT(*), COUNT(*) - COUNT(event_type),
                COUNT(DISTINCT event_type) FROM events
              UNION ALL
              SELECT 'props', COUNT(*), COUNT(*) - COUNT(props),
                COUNT(DISTINCT props) FROM events
              UNION ALL
              SELECT 'user_id', COUNT(*), COUNT(*) - COUNT(user_id),
                COUNT(DISTINCT user_id) FROM events
              UNION ALL
              SELECT 'value', COUNT(*), COUNT(*) - COUNT(value),
                COUNT(DISTINCT value) FROM events)
            SELECT column_name, CAST(n AS BIGINT) AS n,
              CAST(n_null AS BIGINT) AS n_null, CAST(ndv AS BIGINT) AS ndv
            FROM u ORDER BY column_name"""))

  // ------------------------------------------------------------------- x292
  // Partition-key advisor — the third leg of the layout trio (x273 picks
  // the sort key, x274 the encoding, this the PARTITION column): per
  // candidate, the exact numbers the decision reads — partition count
  // (ndv: too many = small-files explosion + listing pain), the largest
  // partition's row share in millis (skew: one hot partition serializes
  // every downstream stage), and the file count a 100k-rows/file target
  // would produce (Σ ceil(rows_p / target) — the small-files bill). The
  // advisor emits the trade-off table rather than a verdict: day
  // partitioning is usually the pruning win, but THIS table is how an
  // operator sees when a type column's 5 partitions at 300‰ skew or a
  // user bucket's 10⁴ partitions would hurt more.
  //
  // Scale shape: one map-side-combinable value-domain aggregate per
  // candidate, one domain rollup each, three 1-row summaries unioned;
  // column pruning gives each scan exactly one column.
  private def partitionStats(ev: DataFrame, name: String,
      key: Column): DataFrame =
    ev.select(key.cast("string").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("rows_p"))
      .agg(count(lit(1)).as("n_partitions"), sum(col("rows_p")).as("n_rows"),
        max(col("rows_p")).as("max_rows"),
        sum(expr("(rows_p + 99999) div 100000")).as("n_files_100k"))
      .select(lit(name).as("candidate"), col("n_partitions"), col("n_rows"),
        expr("(1000 * max_rows) div n_rows").as("max_share_milli"),
        col("n_files_100k"))

  private val x292 = GQuery(
    "x292_partition_advisor", "ext-lakehouse layout-advisor partition-key",
    (s, dir) => {
      val ev = Tables(s, dir, "events")
      partitionStats(ev, "day", date_trunc("day", col("ts")).cast("date"))
        .unionAll(partitionStats(ev, "event_type", col("event_type")))
        .unionAll(partitionStats(ev, "user_bucket",
          pmod(col("user_id"), lit(1024L))))
        .orderBy("candidate")
    },
    Some("""WITH d_g AS (
              SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR)
                  AS k, CAST(COUNT(*) AS BIGINT) AS rows_p
              FROM events GROUP BY 1),
            t_g AS (
              SELECT event_type AS k, CAST(COUNT(*) AS BIGINT) AS rows_p
              FROM events GROUP BY 1),
            u_g AS (
              SELECT CAST(user_id % 1024 AS VARCHAR) AS k,
                CAST(COUNT(*) AS BIGINT) AS rows_p
              FROM events GROUP BY 1),
            u AS (
              SELECT 'day' AS candidate,
                CAST(COUNT(*) AS BIGINT) AS n_partitions,
                CAST(SUM(rows_p) AS BIGINT) AS n_rows,
                CAST(MAX(rows_p) AS BIGINT) AS max_rows,
                CAST(SUM((rows_p + 99999) // 100000) AS BIGINT)
                  AS n_files_100k
              FROM d_g
              UNION ALL
              SELECT 'event_type', COUNT(*), SUM(rows_p), MAX(rows_p),
                SUM((rows_p + 99999) // 100000) FROM t_g
              UNION ALL
              SELECT 'user_bucket', COUNT(*), SUM(rows_p), MAX(rows_p),
                SUM((rows_p + 99999) // 100000) FROM u_g)
            SELECT candidate, CAST(n_partitions AS BIGINT) AS n_partitions,
              CAST(n_rows AS BIGINT) AS n_rows,
              CAST((1000 * max_rows) // n_rows AS BIGINT)
                AS max_share_milli,
              CAST(n_files_100k AS BIGINT) AS n_files_100k
            FROM u ORDER BY candidate"""))

  // ------------------------------------------------------------------- x335
  // Z-order layout advisor — the multi-dimensional leg of the layout
  // family (x273 sort key, x274 encoding, x292 partition key): for a
  // two-predicate scan (customer range × date range), compare the file
  // skipping four physical layouts would give under standard min/max
  // pruning (what parquet row-group stats and lakehouse data-skipping
  // indexes implement): `natural` insertion order, single-column sorts
  // on either predicate column, and a Morton/Z-order interleave of
  // both. Per layout: bucket (≈file) count, buckets whose
  // [min,max]×[min,max] box overlaps the predicate, rows scanned, and
  // scan efficiency (matched/scanned millis). The Z-curve is the
  // textbook result the table shows: a single-column sort prunes its
  // own dimension perfectly and the other not at all; Z-order prunes
  // both at slight per-dimension loss — OPTIMIZE ZORDER BY in one row.
  //
  // The z-value is a pure integer bit-interleave (16 bits/dimension,
  // shiftright/&/shiftleft over sequence(0,15)) — identical arithmetic
  // in both engines; buckets are fixed-width z-prefix (resp. key-range /
  // row-range) groups, so the whole advisor is one scan per layout into
  // a bucket-domain aggregate and a 1-row rollup — no global sort
  // anywhere, which is exactly why it scales: at 100 TB the advisor
  // reads a column-pruned (custkey, date) projection and shuffles only
  // bucket ids.
  private def zorderLayout(o: DataFrame, name: String,
      bucket: Column): DataFrame = {
    val hit = col("max_c") >= 200 && col("min_c") <= 399 &&
      col("max_d") >= 365 && col("min_d") <= 729
    o.withColumn("b", bucket)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("rows_b"), sum(col("m")).as("match_b"),
        min(col("cx")).as("min_c"), max(col("cx")).as("max_c"),
        min(col("dy")).as("min_d"), max(col("dy")).as("max_d"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(hit, 1L).otherwise(0L)).as("n_hit_buckets"),
        sum(when(hit, col("rows_b")).otherwise(0L)).as("rows_scanned"),
        sum(col("match_b")).as("rows_matched"))
      .select(lit(name).as("layout"), col("n_buckets"), col("n_hit_buckets"),
        col("rows_scanned"), col("rows_matched"),
        expr("CASE WHEN rows_scanned > 0 THEN (1000 * rows_matched) div rows_scanned ELSE 0 END")
          .as("efficiency_milli"))
  }

  private val x335 = GQuery(
    "x335_zorder_advisor", "ext-lakehouse layout-advisor zorder",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey"),
          pmod(col("o_custkey"), lit(65536L)).as("cx"),
          pmod(datediff(col("o_orderdate").cast("date"),
            lit("1995-01-01").cast("date")).cast("long"), lit(65536L)).as("dy"))
        .withColumn("m", (col("cx").between(200, 399) &&
          col("dy").between(365, 729)).cast("long"))
        .withColumn("z", expr(
          """aggregate(sequence(0, 15), CAST(0 AS BIGINT),
               (acc, i) -> acc + shiftleft(shiftright(cx, i) & 1, 2 * i)
                               + shiftleft(shiftright(dy, i) & 1, 2 * i + 1))"""))
        .localCheckpoint(true) // four layout passes over one projection
      zorderLayout(o, "1_natural", expr("o_orderkey div 256"))
        .unionAll(zorderLayout(o, "2_sort_cust", expr("cx div 32")))
        .unionAll(zorderLayout(o, "3_sort_date", expr("dy div 48")))
        .unionAll(zorderLayout(o, "4_zorder", expr("z div 65536")))
        .orderBy("layout")
    },
    Some("""WITH o AS (
              SELECT o_orderkey,
                o_custkey % 65536 AS cx,
                CAST(CAST(o_orderdate AS DATE) - DATE '1995-01-01' AS BIGINT)
                  % 65536 AS dy
              FROM orders),
            oz AS (
              SELECT *, CASE WHEN cx BETWEEN 200 AND 399
                              AND dy BETWEEN 365 AND 729
                         THEN 1 ELSE 0 END AS m,
                CAST(list_sum(list_transform(range(16),
                  i -> (((cx >> i) & 1) << (2 * i))
                     + (((dy >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS z
              FROM o),
            lay AS (
              SELECT '1_natural' AS layout, o_orderkey // 256 AS b, * FROM oz
              UNION ALL
              SELECT '2_sort_cust', cx // 32, * FROM oz
              UNION ALL
              SELECT '3_sort_date', dy // 48, * FROM oz
              UNION ALL
              SELECT '4_zorder', z // 65536, * FROM oz),
            bk AS (
              SELECT layout, b, CAST(COUNT(*) AS BIGINT) AS rows_b,
                CAST(SUM(m) AS BIGINT) AS match_b,
                MIN(cx) AS min_c, MAX(cx) AS max_c,
                MIN(dy) AS min_d, MAX(dy) AS max_d
              FROM lay GROUP BY 1, 2),
            agg AS (
              SELECT layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
                CAST(SUM(CASE WHEN max_c >= 200 AND min_c <= 399
                              AND max_d >= 365 AND min_d <= 729
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_hit_buckets,
                CAST(SUM(CASE WHEN max_c >= 200 AND min_c <= 399
                              AND max_d >= 365 AND min_d <= 729
                         THEN rows_b ELSE 0 END) AS BIGINT) AS rows_scanned,
                CAST(SUM(match_b) AS BIGINT) AS rows_matched
              FROM bk GROUP BY 1)
            SELECT layout, n_buckets, n_hit_buckets, rows_scanned,
              rows_matched,
              CAST(CASE WHEN rows_scanned > 0
                   THEN (1000 * rows_matched) // rows_scanned
                   ELSE 0 END AS BIGINT) AS efficiency_milli
            FROM agg ORDER BY layout"""))

  // ------------------------------------------------------------------- x354
  // Foreign-key / inclusion-dependency discovery (the cross-table
  // counterpart of x210's in-table FD discovery; Bauckmann et al.'s
  // SPIDER problem) — the catalog inference a lakehouse runs over
  // ungoverned parquet before it can plan joins or enforce referential
  // checks (x293 AUDITS a declared FK; this DISCOVERS candidates): for
  // each candidate (child column → parent column) pair over the star's
  // key-shaped columns plus a deliberate negative control
  // (suppkey→custkey), BOTH directions of the exact distinct census —
  // containment |C∩P|/|C| (does every child key resolve?) and coverage
  // |C∩P|/|P| (does the child actually exercise the parent domain?).
  // Containment alone cannot reject the control: TPC-H key ranges make
  // suppkey a strict numeric subset of custkey, a true-but-spurious
  // inclusion dependency. Coverage discriminates it — a real FK's
  // child references a substantial share of its parent (orders cover
  // ~⅔ of customers; lineitem covers ~all parts/suppliers), while the
  // control covers a sliver. Verdict bands: fk (containment 1000‰,
  // coverage ≥ 500‰), inclusion (containment 1000‰, low coverage — a
  // numeric IND not worth a constraint), partial (≥ 990‰), none.
  //
  // Scale shape: per-column distinct projections (key-domain sized),
  // one left-anti-style aggregate per candidate pair — never a
  // fact×fact join; candidates are schema-enumerated (5 pairs), not
  // column-squared.
  private val x354 = GQuery(
    "x354_fk_discovery", "ext-catalog inclusion-dependency discovery",
    (s, dir) => {
      def keys(t: String, c: String) =
        Tables(s, dir, t).select(col(c).cast("long").as("k")).distinct()
      val cands = Seq(
        ("lineitem.l_orderkey", "orders.o_orderkey",
          keys("lineitem", "l_orderkey"), keys("orders", "o_orderkey")),
        ("orders.o_custkey", "customer.c_custkey",
          keys("orders", "o_custkey"), keys("customer", "c_custkey")),
        ("lineitem.l_partkey", "part.p_partkey",
          keys("lineitem", "l_partkey"), keys("part", "p_partkey")),
        ("lineitem.l_suppkey", "supplier.s_suppkey",
          keys("lineitem", "l_suppkey"), keys("supplier", "s_suppkey")),
        ("lineitem.l_suppkey", "customer.c_custkey",
          keys("lineitem", "l_suppkey"), keys("customer", "c_custkey")))
      cands.map { case (cn, pn, c, p) =>
        c.withColumn("in_c", lit(1L))
          .join(p.withColumn("in_p", lit(1L)), Seq("k"), "full_outer")
          .agg(sum(coalesce(col("in_c"), lit(0L))).as("n_child"),
            sum(coalesce(col("in_p"), lit(0L))).as("n_parent"),
            sum(when(col("in_c").isNotNull && col("in_p").isNotNull, 1L)
              .otherwise(0L)).as("n_contained"))
          .select(lit(cn).as("child"), lit(pn).as("parent"),
            col("n_child"), col("n_parent"), col("n_contained"))
      }.reduce(_ unionAll _)
        .withColumn("containment_milli",
          expr("cast((1000 * n_contained) div n_child as bigint)"))
        .withColumn("coverage_milli",
          expr("cast((1000 * n_contained) div n_parent as bigint)"))
        .withColumn("verdict",
          when(col("containment_milli") === 1000 &&
            col("coverage_milli") >= 500, "fk")
            .when(col("containment_milli") === 1000, "inclusion")
            .when(col("containment_milli") >= 990, "partial")
            .otherwise("none"))
        .orderBy("child", "parent")
    },
    Some("""WITH c1 AS (SELECT DISTINCT CAST(l_orderkey AS BIGINT) AS k
              FROM lineitem),
            p1 AS (SELECT DISTINCT CAST(o_orderkey AS BIGINT) AS k
              FROM orders),
            c2 AS (SELECT DISTINCT CAST(o_custkey AS BIGINT) AS k
              FROM orders),
            p2 AS (SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k
              FROM customer),
            c3 AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS k
              FROM lineitem),
            p3 AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS k
              FROM part),
            c4 AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS k
              FROM lineitem),
            p4 AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS k
              FROM supplier),
            pairs AS (
              SELECT 'lineitem.l_orderkey' AS child,
                'orders.o_orderkey' AS parent,
                CAST(SUM(CASE WHEN c1.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_child,
                CAST(SUM(CASE WHEN p1.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT) AS n_parent,
                CAST(SUM(CASE WHEN c1.k IS NOT NULL AND p1.k IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_contained
              FROM c1 FULL JOIN p1 ON c1.k = p1.k
              UNION ALL
              SELECT 'orders.o_custkey', 'customer.c_custkey',
                CAST(SUM(CASE WHEN c2.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN p2.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN c2.k IS NOT NULL AND p2.k IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT)
              FROM c2 FULL JOIN p2 ON c2.k = p2.k
              UNION ALL
              SELECT 'lineitem.l_partkey', 'part.p_partkey',
                CAST(SUM(CASE WHEN c3.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN p3.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN c3.k IS NOT NULL AND p3.k IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT)
              FROM c3 FULL JOIN p3 ON c3.k = p3.k
              UNION ALL
              SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
                CAST(SUM(CASE WHEN c4.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN p4.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN c4.k IS NOT NULL AND p4.k IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT)
              FROM c4 FULL JOIN p4 ON c4.k = p4.k
              UNION ALL
              SELECT 'lineitem.l_suppkey', 'customer.c_custkey',
                CAST(SUM(CASE WHEN c4.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN p2.k IS NULL THEN 0 ELSE 1 END)
                  AS BIGINT),
                CAST(SUM(CASE WHEN c4.k IS NOT NULL AND p2.k IS NOT NULL
                  THEN 1 ELSE 0 END) AS BIGINT)
              FROM c4 FULL JOIN p2 ON c4.k = p2.k)
            SELECT child, parent, n_child, n_parent, n_contained,
              CAST((1000 * n_contained) // n_child AS BIGINT)
                AS containment_milli,
              CAST((1000 * n_contained) // n_parent AS BIGINT)
                AS coverage_milli,
              CASE WHEN (1000 * n_contained) // n_child = 1000
                  AND (1000 * n_contained) // n_parent >= 500 THEN 'fk'
                WHEN (1000 * n_contained) // n_child = 1000
                  THEN 'inclusion'
                WHEN (1000 * n_contained) // n_child >= 990 THEN 'partial'
                ELSE 'none' END AS verdict
            FROM pairs ORDER BY 1, 2"""))

  // ------------------------------------------------------------------- x360
  // Replication / migration checksum manifest — the data-contract row a
  // cross-engine copy is signed off against (the role of snapshot
  // digests in lakehouse table formats): per table, the row count and
  // an ORDER-INDEPENDENT content checksum — the sum of 60-bit
  // md5-derived integers over a canonical row rendering, mod 2⁶¹−1 —
  // so two engines (or two clusters) agree iff the data agrees,
  // regardless of partitioning or row order. The canonical rendering
  // pins the cross-engine hazards explicitly: money as exact cents,
  // dates via one format string, every field '|'-joined in schema
  // order. This registry's own DuckDB oracle IS the demonstration: the
  // checksum matching at all is the replication check passing.
  //
  // Scale shape: one map-side pass per table (hash + project), a 1-row
  // combinable sum each; the union is table-domain. The mod-2⁶¹ fold
  // keeps the running sum in DECIMAL(38,0) headroom to ~10¹⁹ rows.
  private val x360 = GQuery(
    "x360_replication_checksum", "ext-catalog content checksum manifest",
    (s, dir) => {
      def sum60(tbl: String, canonical: String) =
        Tables(s, dir, tbl)
          .select(expr(canonical).as("c"))
          .agg(count(lit(1)).as("n_rows"),
            expr("""cast(sum(cast(conv(substring(md5(c), 1, 15), 16, 10)
                 as decimal(38,0))) % 2305843009213693951 as bigint)""")
              .as("checksum"))
          .select(lit(tbl).as("tbl"), col("n_rows"), col("checksum"))
      sum60("documents",
        "concat_ws('|', doc_id, lang, source, n_chars)")
        .unionAll(sum60("orders",
          """concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
             cast(round(o_totalprice * 100, 0) as bigint),
             date_format(o_orderdate, 'yyyy-MM-dd'), o_orderpriority)"""))
        .unionAll(sum60("customer",
          """concat_ws('|', c_custkey, c_name, c_nationkey,
             cast(round(c_acctbal * 100, 0) as bigint), c_mktsegment)"""))
        .unionAll(sum60("lineitem",
          """concat_ws('|', l_orderkey, l_partkey, l_suppkey, l_linenumber,
             cast(round(l_quantity, 0) as bigint),
             cast(round(l_extendedprice * 100, 0) as bigint),
             date_format(l_shipdate, 'yyyy-MM-dd'))"""))
        .orderBy("tbl")
    },
    Some("""WITH d AS (
              SELECT 'documents' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(SUM(CAST(CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', doc_id, lang, source, n_chars)),
                  1, 15)) AS UBIGINT) AS HUGEINT))
                  % 2305843009213693951 AS BIGINT) AS checksum
              FROM documents
              UNION ALL
              SELECT 'orders', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CAST(CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', o_orderkey, o_custkey, o_orderstatus,
                      CAST(round(o_totalprice * 100, 0) AS BIGINT),
                      strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority)),
                  1, 15)) AS UBIGINT) AS HUGEINT))
                  % 2305843009213693951 AS BIGINT)
              FROM orders
              UNION ALL
              SELECT 'customer', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CAST(CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', c_custkey, c_name, c_nationkey,
                      CAST(round(c_acctbal * 100, 0) AS BIGINT),
                      c_mktsegment)),
                  1, 15)) AS UBIGINT) AS HUGEINT))
                  % 2305843009213693951 AS BIGINT)
              FROM customer
              UNION ALL
              SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
                CAST(SUM(CAST(CAST(CONCAT('0x', substr(md5(
                    concat_ws('|', l_orderkey, l_partkey, l_suppkey,
                      l_linenumber,
                      CAST(round(l_quantity, 0) AS BIGINT),
                      CAST(round(l_extendedprice * 100, 0) AS BIGINT),
                      strftime(l_shipdate, '%Y-%m-%d'))),
                  1, 15)) AS UBIGINT) AS HUGEINT))
                  % 2305843009213693951 AS BIGINT)
              FROM lineitem)
            SELECT tbl, n_rows, checksum FROM d ORDER BY 1"""))

  val queries: Seq[GQuery] =
    Seq(x140, x141, x154, x155, x158, x174, x175, x181, x182, x183, x184,
      x185, x190, x199, x205, x229, x273, x274, x282, x292, x335, x354,
      x360)
}
