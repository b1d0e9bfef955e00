package graft.queries

import graft.{GQuery, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the order co-purchase graph — the relational
  * fixture's natural graph (two parts are linked when some order contains
  * both), the same shape as the user-interaction / citation / link graphs
  * a production corpus curation stack mines for communities, influence
  * and recommendations.
  *
  * All four oracled queries are EXACT integer algorithms, so every result
  * hash-verifies bit-identically against DuckDB: triangle counting and
  * local clustering coefficients (the community-structure census),
  * fixed-iteration integer PageRank (influence), common-neighbor /
  * Jaccard link prediction (recommendation candidates), and the degree
  * survival profile (the power-law report a partitioning decision reads).
  *
  * Scale shapes, per operator, are documented on each method; the common
  * ground since round 9: the edge list and its degree table are built
  * ONCE PER FIXTURE as a [[graft.StoredArtifacts]] generation (the x62
  * build-once / probe-many discipline — every production graph stack
  * maintains a persisted edge table) and every registry query serves from
  * that parquet; node-level side tables (degrees, ranks) stay node-sized;
  * iterative operators run CO-PARTITIONED supersteps (edge table hash-
  * partitioned by its join key once, node tables shuffled to it — never a
  * static broadcast of a table that grows with the node count); and no
  * operator ever materializes an all-pairs product: triangle and wedge
  * joins are bounded by graph arboricity / Σ C(deg,2), the quantities the
  * published MapReduce triangle literature (Suri & Vassilvitskii 2011)
  * bounds for real sparse graphs.
  */
object Graph {

  private def lineitem(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")

  /** Undirected co-purchase edge list, canonical `pa < pb`, deduplicated.
    * ONE scan: per-order distinct part sets (order-sized arrays), pairs by
    * a bounded double explode, then one (pa, pb) distinct exchange. The
    * self-join formulation the oracle uses scans the fact table twice and
    * shuffles it twice; this form shuffles the fact rows once into
    * order-sized groups and the deduplicated pairs once.
    */
  private[queries] def copurchaseEdges(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .select(explode(col("parts")).as("pa"), col("parts"))
      .select(col("pa"), explode(col("parts")).as("pb"))
      .where(col("pa") < col("pb"))
      .distinct()

  /** Node degrees of the undirected edge list — node-sized. */
  private[queries] def degrees(e: DataFrame): DataFrame =
    e.select(col("pa").as("node")).unionAll(e.select(col("pb").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** Stored co-purchase edge artifact (build-once / probe-many): the r8
    * registry re-derived the edge list — a fact-table scan, an order-
    * grained exchange and a pair-dedup exchange — from scratch in EVERY
    * graph query, nine rebuilds per registry pass. Built on first touch
    * and then only read, the artifact turns each query's input into an
    * edge-sized two-column parquet scan; the fixture re-keys the artifact
    * dir on any data change (StoredArtifacts state hash), so a stale edge
    * list is never served.
    */
  private[queries] def storedEdges(s: SparkSession, dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "copurchase_edges_v1")
    if (!graft.StoredArtifacts.ready(store))
      copurchaseEdges(lineitem(s, dir)).write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  /** Stored degree table over [[storedEdges]] — node-sized, one agg,
    * shared by the census/profile/link queries.
    */
  private[queries] def storedDegrees(s: SparkSession, dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "copurchase_degrees_v1")
    if (!graft.StoredArtifacts.ready(store))
      degrees(storedEdges(s, dir)).write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  /** Unpersist a superseded localCheckpoint'd table. The iterative
    * operators below checkpoint once per superstep; without this, every
    * invocation would strand iters×(edge-table) blocks in executor
    * storage until the context cleaner happens to collect them — at
    * bench/Verify registry scale that is real memory pressure (the
    * ADVICE-r7 retention note, fixed at the source). Only SUPERSEDED
    * generations are dropped: the final checkpoint backs the returned
    * DataFrame and stays.
    */
  private def dropCheckpoint(df: DataFrame): Unit = graft.Checkpoints.drop(df)

  /** Run `f` with AQE off, restoring the session setting after. The
    * superstep loops below run entirely without AQE, for two reasons:
    * (1) AQE's plan wrapper hides the final outputPartitioning from the
    * localCheckpoint capture (LogicalRDD records UnknownPartitioning —
    * verified on Spark 4.1.2 — and every superstep join would then
    * re-shuffle a side the layout already satisfies); (2) supersteps are
    * fixed-partitioning, fixed-size jobs where AQE's per-stage replanning
    * is pure scheduling latency × iterations. Nothing adaptive is given
    * up: partition counts are pinned by design and the node tables are
    * uniform.
    */
  private def withoutAqe[A](spark: SparkSession)(f: => A): A = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Superstep parallelism sized to the GRAPH, not the session default:
    * every table a superstep moves is node-sized (adjacency chunks,
    * ranks), so the partition count targets ~200k directed edges per
    * task and is clamped to [2, spark.sql.shuffle.partitions]. Without
    * this, a node-sized stage pays the session's full task-launch
    * overhead per superstep (at local[32], 32 near-empty tasks × 2
    * stages × iters was the dominant cost of the whole query); at
    * cluster scale the upper clamp hands control back to the operator's
    * configured shuffle parallelism. The count is parquet-metadata-cheap
    * for the stored edge artifact every registry query serves from.
    */
  private def superstepPartitions(e: DataFrame): Int = {
    val conf = e.sparkSession.sessionState.conf.numShufflePartitions
    val edges = e.count()
    math.max(2, math.min(conf, math.ceil(edges / 200000.0).toInt))
  }

  /** Scope the superstep loop's session settings: AQE off (see
    * [[withoutAqe]] — partitioning capture + per-stage replanning) and
    * `spark.sql.shuffle.partitions` pinned to the graph-sized
    * parallelism so every exchange inside the loop — including the
    * aggregates' own — uses it.
    */
  private def withSuperstepConfs[A](spark: SparkSession, p: Int)(f: => A): A = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try withoutAqe(spark)(f)
    finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Hash-partition `df` by `key` into the current shuffle parallelism
    * and pin that layout with an eager localCheckpoint: the LogicalRDD
    * records the physical outputPartitioning (AQE disabled around the
    * build — see [[withoutAqe]]), so every superstep join on `key` finds
    * this side already distributed and inserts NO exchange above it. The
    * partition count deliberately equals `spark.sql.shuffle.partitions`
    * (graph-sized inside [[withSuperstepConfs]]) — the same count every
    * superstep aggregate produces — so EnsureRequirements co-partitions
    * the node table TO this side instead of ever re-shuffling it.
    */
  private def checkpointByKey(df: DataFrame, key: String): DataFrame =
    withoutAqe(df.sparkSession) {
      df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
        col(key)).localCheckpoint(true)
    }

  /** Built-in row threshold for the AUTOMATIC node-broadcast decision
    * (conf unset). Conservative by construction: 10⁸ rows of (long,
    * long-ish) node state is ~1.6 GB serialized — past any sane
    * `spark.sql.autoBroadcastJoinThreshold`, but the switch point only
    * needs to be BELOW the scale where a broadcast actually fails;
    * everything under it broadcasts exactly as before.
    */
  private[queries] val NodeBroadcastAutoRows = 100000000L

  /** Row-count gate for the ONE-SHOT node-sized dimension joins (triangle
    * census degrees, link-prediction degrees/candidates, k-core survivor
    * sets — the non-superstep family). A broadcast is the right plan at
    * fixture-to-head-graph scale because the join happens ONCE per
    * query, not per superstep, and saves re-shuffling the edge table —
    * but a node table at 100 TB is ~10⁹ rows and a broadcast of it fails
    * outright. The gate is SAFE BY DEFAULT (the r10 verdict's one weak):
    * with `spark.graft.graph.nodeBroadcastThreshold` unset it decides
    * automatically against [[NodeBroadcastAutoRows]], estimating the dim
    * from statistics first — Spark's own optimized-plan row count when
    * CBO has one, else the largest registered [[graft.plans.StatsCbo]]
    * scan under the dim ×2 (each edge row names two endpoints, so a node
    * dim never exceeds 2× its source edge scan; the ×2 only ever errs
    * toward the shuffle form, which is correct at any scale) — and only
    * COUNTS the dim (a node-sized aggregate, trivial next to the query
    * it guards) when no statistic exists. Setting the conf to a row
    * count overrides the threshold in BOTH directions: lower it to force
    * the shuffle form earlier ("0" forces it outright — what
    * GraphScaleSpec uses to pin row-identity of the two paths), raise it
    * (e.g. Long.MaxValue) to force broadcast past the default. Past the
    * threshold the gated join switches to the co-partitioned
    * SHUFFLE_HASH form the scaladocs name: both sides hash-partitioned
    * on the join key, no driver collect, no executor-sized build table.
    * The switch changes WHERE the node table meets the edge table —
    * executor-local hash map vs exchange — never the rows out.
    */
  private[queries] def nodePastBroadcast(dim: DataFrame): Boolean = {
    val raw = dim.sparkSession.conf
      .get("spark.graft.graph.nodeBroadcastThreshold", "")
    raw.trim match {
      case "" =>
        estimatedNodeRows(dim).getOrElse(BigInt(dim.count())) >
          BigInt(NodeBroadcastAutoRows)
      case t =>
        // a malformed threshold fails LOUDLY (the CorpusMain unknown-stage
        // discipline): silently falling back to broadcast would disable
        // the scale-safety gate at exactly the scale it exists for — the
        // operator believes the gate is on while every node join
        // broadcasts a ~10⁹-row table into an executor OOM
        val n = try t.toLong catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            "spark.graft.graph.nodeBroadcastThreshold must be a row count " +
              s"(or unset for always-broadcast), got '$t'", e)
        }
        n <= 0 || dim.count() > n
    }
  }

  /** Statistics-first row estimate for the automatic gate: no job is run
    * when either Spark's CBO or the [[graft.plans.StatsCbo]] registry
    * can bound the dim. Checkpointed dims (k-core's shrinking edge set)
    * have no scan in their plan → None → the caller counts.
    */
  private def estimatedNodeRows(dim: DataFrame): Option[BigInt] = {
    val plan = dim.queryExecution.optimizedPlan
    plan.stats.rowCount
      .orElse(graft.plans.StatsCbo.maxScanRows(plan).map(r => BigInt(r) * 2))
  }

  /** The dimension side of a one-shot node join under the
    * [[nodePastBroadcast]] gate: broadcast in range, SHUFFLE_HASH past it
    * (sort-merge would pay a sort neither side needs — the probe side is
    * consumed by an aggregate that re-partitions anyway).
    */
  private[queries] def nodeSide(dim: DataFrame, past: Boolean): DataFrame =
    if (past) dim.hint("shuffle_hash") else broadcast(dim)

  /** Adjacency-list form of the symmetric graph for the superstep loops:
    * one row per (src, chunk) with the out-degree and a neighbor array —
    * the GraphX/Pregel edge-partition layout expressed relationally.
    * Two scale decisions live here: (a) the superstep join becomes
    * NODE-sized × NODE-sized (the 2|E|-row flat edge table is folded into
    * arrays once at build time; per superstep it is re-expanded by an
    * in-pipeline explode that never hits an exchange — measured 3-4×
    * faster than streaming the flat edge rows through the join every
    * superstep); (b) hub adjacency is CHUNKED into ≤4096-entry rows
    * (chunk = hash(dst) mod ceil(deg/4096)), so a 10M-degree hub at
    * 100 TB becomes ~2500 bounded rows instead of one unbounded array —
    * every chunk row carries the full out-degree, and since the superstep
    * aggregates are integer sum/count/min (order- and grouping-
    * insensitive), chunking cannot change any result bit.
    */
  // NOTE (round 15, measured and kept as-is): widening the degree join +
  // collect_list fold to the session parallelism (32) and re-laying-out
  // at loop width after was tried for the r14 VERDICT's task 2 and made
  // every consumer SLOWER (x130 3.53 → 3.88 s, x243 4.18 → 5.16 s,
  // x124 2.14 → 2.25 s medians) despite the fold being this family's
  // CPU-densest stage: at graph-sized width the sort-merge join and the
  // fold keep src-locality and the map-side combine dense, and the extra
  // user exchanges cost more than the idle cores recover. The narrow,
  // graph-sized build below IS the measured optimum at this scale.
  private def adjacencyBySrc(directed: DataFrame, deg: DataFrame): DataFrame =
    checkpointByKey(
      directed.join(deg, "src")
        .withColumn("chunk",
          pmod(hash(col("dst")),
            greatest(lit(1), ceil(col("outdeg") / lit(4096)).cast("int"))))
        .groupBy(col("src"), col("chunk"))
        .agg(first(col("outdeg")).as("outdeg"),
          collect_list(col("dst")).as("dsts")),
      "src")

  /** ONE co-partitioned rank superstep: checkpointed adjacency ⋈
    * node-sized rank table on src (both node-sized), contributions
    * exploded per neighbor and summed per dst with a map-side partial.
    * The rank side is SHUFFLE_HASH-hinted: the planner shuffles the NODE
    * table to the adjacency partitioning and hash-builds it per
    * partition — the adjacency side moves nothing and sorts nothing (a
    * sort-merge join would re-sort it every superstep). This replaces
    * the r8 `broadcast(ranks)`: a static broadcast of a table that grows
    * with the node count exceeds broadcast limits at 100 TB, while this
    * shape's per-superstep network cost is one node-table shuffle
    * regardless of graph size.
    */
  private[queries] def rankSuperstep(
      adj: DataFrame, ranks: DataFrame, restart: Column => Column): DataFrame =
    adj.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
      .select(col("dsts"), expr("rank div outdeg").as("c"))
      .select(explode(col("dsts")).as("dst"), col("c"))
      .groupBy("dst").agg(sum(col("c")).as("c"))
      .select(col("dst").as("node"),
        (restart(col("dst")) + expr("(850 * c) div 1000")).as("rank"))

  /** Supersteps per eager checkpoint. 1 — and deliberately so: chaining
    * K supersteps lazily into one job makes the checkpointed adjacency
    * LogicalRDD appear K times in a single plan, and attribute
    * deduplication re-instances every occurrence after the first with
    * fresh expr-ids WITHOUT rewriting the recorded outputPartitioning
    * (verified on Spark 4.1.2) — so supersteps 2..K silently re-shuffle
    * the side the layout already satisfies. One materialization per
    * superstep keeps each plan's single adjacency occurrence
    * partitioning-pinned; with the node-sized adjacency join this is two
    * short stages per superstep. Round 15 re-tested cadence 2 here (the
    * r14 VERDICT's task 4, extending x130's measured win to the rank
    * loops): NEUTRAL-TO-NEGATIVE for them (x124 2.14 → 2.25 s median) —
    * the re-shuffled second adjacency occurrence costs what the saved
    * checkpoint job recovers — so the rank loops keep cadence 1 while
    * x130's argmax loop keeps its measured cadence 2.
    */
  private val CkptEvery = 1

  /** The shared integer-rank superstep loop over ANY undirected edge list
    * `(pa, pb)` — node type agnostic (x124 ranks part ids; x138 ranks
    * words; x168 seeds restart mass on one node). Returns (node, rank)
    * materialized (checkpointed). Superseded rank generations are
    * unpersisted; the graph is symmetric with deg >= 1, so EVERY node
    * receives at least one contribution — the aggregate itself
    * enumerates the full node set and no join-back with the previous
    * rank table is needed (a directed/dangling variant would need the
    * oracle's LEFT JOIN).
    */
  private def rankSupersteps(e: DataFrame, iters: Int,
      init: Column => Column, restart: Column => Column): DataFrame =
    withSuperstepConfs(e.sparkSession, superstepPartitions(e)) {
      val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val adj = adjacencyBySrc(directed, deg)
      var ckpt = deg
        .select(col("src").as("node"), init(col("src")).as("rank"))
        .localCheckpoint(true)
      var cur = ckpt
      var pending = 0
      for (i <- 1 to iters) {
        cur = rankSuperstep(adj, cur, restart)
        pending += 1
        if (pending == CkptEvery || i == iters) {
          val next = cur.localCheckpoint(true)
          dropCheckpoint(ckpt)
          ckpt = next
          cur = next
          pending = 0
        }
      }
      dropCheckpoint(adj)
      ckpt
    }

  /** Spec hook: the prepared edge table plus ONE un-materialized superstep
    * over the initial rank table, for plan-shape inspection (the
    * co-partitioning pins live in GraphPlanSpec: no static broadcast of
    * the rank table, no exchange above the edge side, multi-partition
    * aggregate).
    */
  private[queries] def superstepForSpec(e: DataFrame): DataFrame =
    withSuperstepConfs(e.sparkSession, superstepPartitions(e)) {
      val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val adj = adjacencyBySrc(directed, deg)
      val ranks = deg
        .select(col("src").as("node"), lit(1000000L).as("rank"))
        .localCheckpoint(true)
      rankSuperstep(adj, ranks, _ => lit(150000L))
    }

  /** Exact per-node triangle counts + local clustering coefficient
    * (thousandths). Degree-ordered orientation (Suri & Vassilvitskii
    * 2011): each undirected edge is directed from its lower (deg, id)
    * endpoint to its higher, so every triangle is enumerated exactly once
    * as src→mid→dst and — the scale point — the wedge join's fan-out per
    * node is bounded by its ORIENTED out-degree, which the (deg, id)
    * order caps near √m even at power-law hubs (a hub's edges all point
    * INTO it, so it never anchors a quadratic wedge explosion; the id
    * orientation the oracle uses enumerates the same triangle set but
    * lets a low-id hub fan out by its full degree). Joins carry 16-byte
    * id pairs only; the degree side table is node-sized and broadcast BY
    * DEFAULT — broadcast is correct here (unlike the superstep rank
    * table) because it happens once, not per iteration, and the wedge
    * join that follows would otherwise shuffle the edge table twice —
    * with the [[nodePastBroadcast]] gate switching to the co-partitioned
    * shuffle form past `spark.graft.graph.nodeBroadcastThreshold`
    * (GraphScaleSpec pins both paths row-identical).
    *
    * Output is orientation-invariant — (part, deg, triangles, cc_milli)
    * — which is what lets the DuckDB oracle verify the degree-ordered
    * plan with its simpler id-ordered join, hash-exactly.
    */
  def triangleCensus(li: DataFrame): DataFrame = {
    val e = copurchaseEdges(li)
    triangleCensusOn(e, degrees(e))
  }

  private[queries] def triangleCensusOn(e: DataFrame, deg: DataFrame): DataFrame = {
    // one gate decision for both degree joins (see nodePastBroadcast)
    val past = nodePastBroadcast(deg)
    // orient each edge from lower (deg, id) endpoint to higher
    val o = e
      .join(nodeSide(deg.select(col("node").as("pa"), col("deg").as("dega")), past), "pa")
      .join(nodeSide(deg.select(col("node").as("pb"), col("deg").as("degb")), past), "pb")
      .select(
        when(col("dega") < col("degb") ||
            (col("dega") === col("degb") && col("pa") < col("pb")),
          struct(col("pa").as("src"), col("pb").as("dst")))
          .otherwise(struct(col("pb").as("src"), col("pa").as("dst")))
          .as("d"))
      .select(col("d.src").as("src"), col("d.dst").as("dst"))
    val tri = o.as("e1")
      .join(o.as("e2"), col("e1.dst") === col("e2.src"))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"), col("e2.dst").as("w"))
      .join(o.as("e3"), col("u") === col("e3.src") && col("w") === col("e3.dst"))
      .select("u", "v", "w")
    val perNode = tri.select(col("u").as("node"))
      .unionAll(tri.select(col("v").as("node")))
      .unionAll(tri.select(col("w").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node").as("part"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
      .withColumn("cc_milli",
        when(col("deg") > 1, expr("(2000 * triangles) div (deg * (deg - 1))"))
          .otherwise(lit(0L)))
      .orderBy("part")
  }

  private val triangleOracle =
    """WITH e AS (
         SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         WHERE a.l_partkey < b.l_partkey),
       deg AS (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
         GROUP BY 1),
       tri AS (
         SELECT e1.pa AS u, e1.pb AS v, e2.pb AS w
         FROM e e1
         JOIN e e2 ON e1.pb = e2.pa
         JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
       tn AS (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles
         FROM (SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
               UNION ALL SELECT w FROM tri)
         GROUP BY 1)
       SELECT d.node AS part, d.deg,
         COALESCE(t.triangles, CAST(0 AS BIGINT)) AS triangles,
         CASE WHEN d.deg > 1
           THEN (2000 * COALESCE(t.triangles, 0)) // (d.deg * (d.deg - 1))
           ELSE CAST(0 AS BIGINT) END AS cc_milli
       FROM deg d LEFT JOIN tn t ON d.node = t.node
       ORDER BY part"""

  private val x123 = GQuery(
    "x123_triangle_census", "ext-graph triangle-count clustering-coefficient",
    (s, dir) => triangleCensusOn(storedEdges(s, dir), storedDegrees(s, dir)),
    Some(triangleOracle))

  /** Fixed-iteration INTEGER PageRank (damping 0.85, ranks in micros).
    * All arithmetic is 64-bit integer — contribution = rank div outdeg,
    * update = 150000 + (850 · Σ contrib) div 1000 — so the result is a
    * pure function of the graph with no float summation order anywhere,
    * which is what lets an iterative influence ranking hash-verify
    * bit-identically against a different engine (the DuckDB oracle
    * unrolls the same eight iterations as chained CTEs). The co-purchase
    * graph is symmetric and edge-derived, so every node has outdeg ≥ 1 —
    * no dangling-mass term.
    *
    * Scale shape: the (src, dst, outdeg) edge table is built once,
    * hash-partitioned by src and localCheckpoint'd (eight iterations
    * re-read it in place); each superstep is the co-partitioned
    * [[rankSuperstep]] — the node-sized rank table shuffles TO the edge
    * partitioning, the edge table never moves, and the dst-keyed sum
    * partial-aggregates map-side. Per-superstep network cost is bounded
    * by the node table at any graph size.
    */
  def pagerank(li: DataFrame, iters: Int): DataFrame =
    rankedParts(pagerankOnEdges(copurchaseEdges(li), iters))

  private def rankedParts(ranks: DataFrame): DataFrame =
    ranks.select(col("node").as("part"), col("rank").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("part"))

  /** The integer-PageRank superstep loop over ANY undirected edge list
    * `(pa, pb)` — node type agnostic (x124 ranks part ids; x138 ranks
    * words). Returns (node, rank) unordered.
    */
  private[queries] def pagerankOnEdges(e: DataFrame, iters: Int): DataFrame =
    rankSupersteps(e, iters, _ => lit(1000000L), _ => lit(150000L))

  /** DuckDB oracle: the same eight integer supersteps, unrolled as
    * chained CTEs (recursive CTEs forbid aggregation in the recursive
    * term, so fixed-iteration unrolling is the portable form).
    */
  private def pagerankOracle(iters: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey <> b.l_partkey),
         deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT d.src AS node,
             150000 + (850 * COALESCE(s.c, 0)) // 1000 AS rank
           FROM deg d LEFT JOIN (
             SELECT e.dst AS node2, CAST(SUM(r.rank // g.outdeg) AS BIGINT) AS c
             FROM e JOIN r${i - 1} r ON e.src = r.node
                    JOIN deg g ON g.src = e.src
             GROUP BY 1) s
           ON s.node2 = d.src)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node AS part, CAST(rank AS BIGINT) AS rank_micros FROM r$iters " +
      "ORDER BY rank_micros DESC, part"
  }

  private val x124 = GQuery(
    "x124_copurchase_pagerank", "ext-graph pagerank integer-iterative",
    (s, dir) => rankedParts(pagerankOnEdges(storedEdges(s, dir), iters = 8)),
    Some(pagerankOracle(8)))

  /** Personalized PageRank from a single deterministic seed (the max-
    * degree node, ties to the smaller id — "customers who bought THIS
    * part also orbit these"): the restart mass lands only on the seed,
    * so rank concentrates in the seed's neighborhood instead of spreading
    * by global degree — the recommendation/related-items variant of x124
    * (Jeh & Widom 2003). Same integer-micros discipline and the same
    * co-partitioned superstep economy ([[rankSuperstep]]); the seed id is
    * an artifact-sized driver constant (one 1-row collect, like a
    * codebook), and ranks stay exact BIGINTs so eight unrolled CTEs in
    * DuckDB replay them bit-identically.
    */
  def personalizedPagerank(li: DataFrame, iters: Int): DataFrame = {
    val e = copurchaseEdges(li)
    personalizedPagerankOn(e, degrees(e), iters)
  }

  private[queries] def personalizedPagerankOn(
      e: DataFrame, deg: DataFrame, iters: Int): DataFrame = {
    val seed = deg.orderBy(col("deg").desc, col("node"))
      .limit(1).collect()(0).getLong(0)
    rankSupersteps(e, iters,
      init = n => when(n === seed, lit(1000000L)).otherwise(lit(0L)),
      restart = d => when(d === seed, lit(150000L)).otherwise(lit(0L)))
      .where(col("rank") > 0)
      .select(col("node").as("part"), col("rank").as("rank_micros"))
      .orderBy(col("rank_micros").desc, col("part"))
  }

  private def ppagerankOracle(iters: Int): String = {
    val head =
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey <> b.l_partkey),
         deg AS MATERIALIZED (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg FROM e GROUP BY 1),
         seed AS (SELECT src AS sid FROM deg ORDER BY outdeg DESC, src LIMIT 1),
         r0 AS (SELECT d.src AS node,
             CAST(CASE WHEN d.src = s.sid THEN 1000000 ELSE 0 END AS BIGINT) AS rank
           FROM deg d CROSS JOIN seed s)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT d.src AS node,
             CAST(CASE WHEN d.src = se.sid THEN 150000 ELSE 0 END AS BIGINT)
               + (850 * COALESCE(s.c, 0)) // 1000 AS rank
           FROM deg d CROSS JOIN seed se LEFT JOIN (
             SELECT e.dst AS node2, CAST(SUM(r.rank // g.outdeg) AS BIGINT) AS c
             FROM e JOIN r${i - 1} r ON e.src = r.node
                    JOIN deg g ON g.src = e.src
             GROUP BY 1) s
           ON s.node2 = d.src)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node AS part, CAST(rank AS BIGINT) AS rank_micros FROM r$iters " +
      "WHERE rank > 0 ORDER BY rank_micros DESC, part"
  }

  private val x168 = GQuery(
    "x168_personalized_pagerank", "ext-graph personalized-pagerank",
    (s, dir) => personalizedPagerankOn(storedEdges(s, dir),
      storedDegrees(s, dir), iters = 8),
    Some(ppagerankOracle(8)))

  /** Common-neighbor / Jaccard link prediction among the top-`candN`
    * highest-degree nodes: the top-100 NON-adjacent candidate pairs by
    * shared co-purchase neighbors — "customers who bought these also
    * bought" recommendations, exact and integer (jaccard in thousandths)
    * so the ranking hash-verifies.
    *
    * The candidate restriction is the scale decision, not a shortcut:
    * the UNRESTRICTED wedge table is Σ_v C(deg(v), 2) — ~63M rows on the
    * sf0.1 graph (avg degree ~80), quadratic in density — while a
    * recommender only ever ranks links among head entities. Restricting
    * BOTH wedge endpoints to a broadcast candidate set (top-candN by
    * (deg, id), deterministic) prunes the wedge join at the adjacency
    * scan, |candN/|V||² of the pairs, while the center v still ranges
    * over ALL nodes — common-neighbor counts are exact, not sampled.
    * Pair counts aggregate with map-side partials, existing edges leave
    * via one anti-join, top-100 is a TakeOrderedAndProject.
    */
  def linkPrediction(li: DataFrame, candN: Int, topN: Int): DataFrame = {
    val e = copurchaseEdges(li)
    linkPredictionOn(e, degrees(e), candN, topN)
  }

  private[queries] def linkPredictionOn(
      e: DataFrame, deg: DataFrame, candN: Int, topN: Int): DataFrame = {
    val past = nodePastBroadcast(deg)
    val cand = deg.orderBy(col("deg").desc, col("node")).limit(candN)
      .select(col("node"))
    val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      // only adjacency rows ENDING in a candidate can form a ranked pair.
      // cand is candN-bounded (a query parameter, not node-sized), so its
      // broadcast never outgrows an executor — but it rides the same gate
      // for a uniformly auditable family
      .join(nodeSide(cand.withColumnRenamed("node", "dst"), past),
        Seq("dst"), "left_semi")
    val wedges = directed.as("d1")
      .join(directed.as("d2"), col("d1.src") === col("d2.src"))
      .where(col("d1.dst") < col("d2.dst"))
      .select(col("d1.dst").as("ua"), col("d2.dst").as("ub"))
    val common = wedges.groupBy("ua", "ub").agg(count(lit(1)).as("n_common"))
      .join(e.select(col("pa").as("ua"), col("pb").as("ub")),
        Seq("ua", "ub"), "left_anti")
    common
      .join(nodeSide(deg.select(col("node").as("ua"), col("deg").as("dega")), past), "ua")
      .join(nodeSide(deg.select(col("node").as("ub"), col("deg").as("degb")), past), "ub")
      .select(col("ua"), col("ub"), col("n_common"),
        expr("(1000 * n_common) div (dega + degb - n_common)").as("jaccard_milli"))
      .orderBy(col("n_common").desc, col("ua"), col("ub"))
      .limit(topN)
  }

  private val linkOracle =
    """WITH e AS MATERIALIZED (
         SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         WHERE a.l_partkey < b.l_partkey),
       deg AS MATERIALIZED (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
         GROUP BY 1),
       cand AS MATERIALIZED (
         SELECT node FROM deg ORDER BY deg DESC, node LIMIT 500),
       adj AS MATERIALIZED (
         SELECT src, dst FROM (
           SELECT pa AS src, pb AS dst FROM e
           UNION ALL SELECT pb AS src, pa AS dst FROM e)
         WHERE dst IN (SELECT node FROM cand)),
       wedge AS (
         SELECT d1.dst AS ua, d2.dst AS ub
         FROM adj d1 JOIN adj d2 ON d1.src = d2.src
         WHERE d1.dst < d2.dst),
       common AS (
         SELECT ua, ub, CAST(COUNT(*) AS BIGINT) AS n_common
         FROM wedge GROUP BY 1, 2),
       nonadj AS (
         SELECT c.* FROM common c
         WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.pa = c.ua AND e.pb = c.ub))
       SELECT n.ua, n.ub, n.n_common,
         (1000 * n.n_common) // (da.deg + db.deg - n.n_common) AS jaccard_milli
       FROM nonadj n
       JOIN deg da ON da.node = n.ua
       JOIN deg db ON db.node = n.ub
       ORDER BY n.n_common DESC, n.ua, n.ub
       LIMIT 100"""

  private val x126 = GQuery(
    "x126_link_prediction", "ext-graph link-prediction common-neighbors",
    (s, dir) => linkPredictionOn(storedEdges(s, dir), storedDegrees(s, dir),
      candN = 500, topN = 100),
    Some(linkOracle))

  /** Degree survival profile — the power-law census a partitioning /
    * salting decision reads before picking a strategy (x106 names the
    * heavy keys; this names the whole distribution): per distinct degree,
    * the node count and the survival share of nodes with degree ≥ d in
    * thousandths. The histogram is degree-domain-sized (≤ max-degree
    * rows), so the single-partition cumulative window at the end runs
    * over a tiny aggregate, never over data — the same shape x106/x119
    * pin.
    */
  def degreeProfile(li: DataFrame): DataFrame =
    degreeProfileOn(degrees(copurchaseEdges(li)))

  private[queries] def degreeProfileOn(deg: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("deg").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    deg
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .withColumn("ge_nodes", sum(col("n_nodes")).over(w))
      .withColumn("total", sum(col("n_nodes")).over(wAll))
      .select(col("deg"), col("n_nodes"), col("ge_nodes"),
        expr("(1000 * ge_nodes) div total").as("survival_milli"))
      .orderBy("deg")
  }

  private val degreeOracle =
    """WITH e AS (
         SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
         FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
         WHERE a.l_partkey < b.l_partkey),
       deg AS (
         SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM (SELECT pa AS node FROM e UNION ALL SELECT pb FROM e)
         GROUP BY 1),
       h AS (SELECT deg, CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg GROUP BY 1)
       SELECT deg, n_nodes,
         CAST(SUM(n_nodes) OVER (ORDER BY deg DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ge_nodes,
         (1000 * CAST(SUM(n_nodes) OVER (ORDER BY deg DESC
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT))
           // CAST(SUM(n_nodes) OVER () AS BIGINT) AS survival_milli
       FROM h ORDER BY deg"""

  private val x129 = GQuery(
    "x129_degree_profile", "ext-graph degree-distribution survival",
    (s, dir) => degreeProfileOn(storedDegrees(s, dir)),
    Some(degreeOracle))

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007), made fully deterministic: labels start as node ids; each of
    * `iters` SYNCHRONOUS rounds every node adopts the most frequent label
    * among its neighbors, ties to the SMALLEST label. Deterministic
    * synchronous rounds + integer tie-breaks are what make an otherwise
    * notoriously order-sensitive heuristic hash-verifiable bit-identically
    * cross-engine (the DuckDB oracle unrolls the same rounds as chained
    * CTEs; the usual asynchronous/randomized variant could never be
    * oracled).
    *
    * Scale shape: the symmetric adjacency is hash-partitioned by `dst`
    * (the label-join key) once and checkpointed; per round, the
    * node-sized label table shuffles TO it (SHUFFLE_HASH — no static
    * broadcast, no edge re-sort), then one (node, label) partial-
    * aggregated count and a per-node argmax window (per-node fan-in =
    * its degree). Same co-partitioned Pregel superstep as [[pagerank]].
    */
  def labelPropagation(li: DataFrame, iters: Int): DataFrame =
    labelPropagationOnEdges(copurchaseEdges(li), iters)

  private[queries] def labelPropagationOnEdges(e: DataFrame, iters: Int): DataFrame =
    withSuperstepConfs(e.sparkSession, superstepPartitions(e)) {
    val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = adjacencyBySrc(directed, deg)
    var labels = deg
      .select(col("src").as("node"), col("src").as("label"))
      .localCheckpoint(true)
    var lastCk = labels
    for (it <- 1 to iters) {
      // PUSH form on the symmetric graph: each node sends its label to
      // its neighbor list (one node-sized join + explode), identical to
      // the pull form's "labels among my neighbors" because every edge
      // (m, n) delivers label[m] to n in both readings.
      // Argmax as a HASH AGGREGATE, not a window (round 14): max of the
      // (cnt, -label) struct is lexicographic — highest count, ties to
      // the SMALLEST label — exactly the row the r13 row_number window
      // kept, but partially aggregable (the per-node winner reduces
      // map-side within each partition of the count output) and with no
      // per-partition sort of the (node, label) stream.
      val step = adj.join(labels.hint("shuffle_hash"), col("src") === col("node"))
        .select(explode(col("dsts")).as("nbr"), col("label"))
        .groupBy(col("nbr"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("nbr"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("nbr").as("node"), (-col("m.nl")).as("label"))
      // checkpoint CADENCE 2 (round 14): materialize every second round
      // (and the last), chaining one lazy superstep in between — the
      // intermediate agg's (nbr) hash partitioning is statically known
      // with AQE off, so the chained round's join still co-locates with
      // no extra exchange, and the pass runs half the checkpoint
      // serialization jobs. Lineage stays bounded at two supersteps.
      if (it % 2 == 0 || it == iters) {
        labels = step.localCheckpoint(true)
        dropCheckpoint(lastCk)
        lastCk = labels
      } else labels = step
    }
    dropCheckpoint(adj)
    labels.select(col("node").as("part"), col("label").as("community"))
      .orderBy("part")
    }

  private def labelPropOracle(iters: Int): String = {
    val head =
      """WITH ed AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey <> b.l_partkey),
         l0 AS (SELECT DISTINCT src AS node, src AS label FROM ed)"""
    val steps = (1 to iters).map { i =>
      s"""l$i AS (
           SELECT node, label FROM (
             SELECT a.src AS node, l.label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (PARTITION BY a.src
                 ORDER BY COUNT(*) DESC, l.label) AS rn
             FROM ed a JOIN l${i - 1} l ON a.dst = l.node
             GROUP BY a.src, l.label)
           WHERE rn = 1)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node AS part, label AS community FROM l$iters ORDER BY part"
  }

  private val x130 = GQuery(
    "x130_label_propagation", "ext-graph community-detection label-propagation",
    (s, dir) => labelPropagationOnEdges(storedEdges(s, dir), iters = 4),
    Some(labelPropOracle(4)))

  /** k-core extraction by synchronous peeling: `rounds` rounds of "drop
    * every node with degree < k, with all its edges", then report the
    * surviving nodes with their in-core degree — the density filter that
    * isolates a graph's cohesive kernel (spam-farm detection, community
    * seeding). Synchronous fixed-round peeling is deterministic whether
    * or not it has converged, so the result hash-verifies; GraphSpec
    * separately proves the fixture converges within the budget (one more
    * round is a fixed point), which is the textbook O(max-core) bound in
    * practice — degenerate chains that need more rounds only ever UNDER-
    * peel, never produce wrong members of the true core.
    *
    * Scale shape: per round, one node-sized degree aggregate and two
    * semi-joins of the edge list against the survivor set. The survivor
    * broadcast here is a different trade than the superstep rank table:
    * the set SHRINKS monotonically (first-round survivors of a k-core
    * are already degree-filtered) and the alternative co-partitioned form
    * re-shuffles the edge table TWICE per round (pa- then pb-keyed);
    * past broadcast range — the [[nodePastBroadcast]] gate — the query
    * switches to exactly those two shuffles, and the edge table shrinking
    * every round bounds them.
    */
  def kCore(li: DataFrame, k: Int, rounds: Int): DataFrame =
    kCoreOnEdges(copurchaseEdges(li), k, rounds)

  private[queries] def kCoreOnEdges(e: DataFrame, k: Int, rounds: Int): DataFrame = {
    var edges = e.localCheckpoint(true)
    var prevCount = edges.count()
    // gate decided ONCE from the round-0 node set: the survivor set only
    // shrinks, so a round-0 "fits in broadcast" verdict holds for every
    // later round, and a "past broadcast" verdict is merely conservative
    // (correct, one avoidable exchange) — re-counting per round would
    // double-compute the degree aggregate for a micro-decision
    val past = nodePastBroadcast(degrees(edges).select("node"))
    var round = 0
    var stable = false
    // peel up to `rounds` times, but STOP at the fixed point: once a peel
    // removes nothing, every further round is the identity, so the early
    // exit returns exactly what the full unrolled-(rounds) oracle computes
    // — a pure cost cut, not an approximation (the fixture reaches the
    // fixed point in 1-2 peels; the budget only caps degenerate chains)
    while (round < rounds && !stable) {
      val keep = degrees(edges).where(col("deg") >= k).select("node")
      val next = edges
        .join(nodeSide(keep.withColumnRenamed("node", "pa"), past), Seq("pa"), "left_semi")
        .join(nodeSide(keep.withColumnRenamed("node", "pb"), past), Seq("pb"), "left_semi")
        .select("pa", "pb")
        .localCheckpoint(true)
      val nextCount = next.count()
      stable = nextCount == prevCount
      prevCount = nextCount
      dropCheckpoint(edges)
      edges = next
      round += 1
    }
    degrees(edges).where(col("deg") >= k)
      .select(col("node").as("part"), col("deg").as("core_deg"))
      .orderBy("part")
  }

  private def kCoreOracle(k: Int, rounds: Int): String = {
    val head =
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey < b.l_partkey)"""
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
           SELECT node FROM (
             SELECT node, COUNT(*) AS deg
             FROM (SELECT pa AS node FROM e${i - 1}
                   UNION ALL SELECT pb FROM e${i - 1})
             GROUP BY 1)
           WHERE deg >= $k),
         e$i AS MATERIALIZED (
           SELECT e.pa, e.pb FROM e${i - 1} e
           WHERE e.pa IN (SELECT node FROM k$i)
             AND e.pb IN (SELECT node FROM k$i))"""
    }
    (head +: steps).mkString(",\n") +
      s"""
         SELECT node AS part, deg AS core_deg FROM (
           SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
           FROM (SELECT pa AS node FROM e$rounds
                 UNION ALL SELECT pb FROM e$rounds)
           GROUP BY 1)
         WHERE deg >= $k ORDER BY part"""
  }

  private val x131 = GQuery(
    "x131_kcore", "ext-graph kcore density-peeling",
    (s, dir) => kCoreOnEdges(storedEdges(s, dir), k = 3, rounds = 8),
    Some(kCoreOracle(3, 8)))

  /** Market-basket association rules (Agrawal & Srikant 1994's level-2
    * output): DIRECTED rules a→b over order baskets with support,
    * confidence and lift — all exact integer ratios (micros/millis) so
    * the mined ruleset hash-verifies. Support counts come from the same
    * bounded per-order pair explosion as [[copurchaseEdges]] (kept as
    * counts instead of collapsed to distinct — which is why this query
    * reads the FACT table, not the stored edge artifact: basket
    * multiplicities are not representable in the deduplicated edge list);
    * the min-support filter is applied BEFORE any join — the Apriori
    * pruning insight — so only frequent pairs reach the rule arithmetic.
    * Item counts and the basket total are item-domain-sized and broadcast.
    */
  def associationRules(li: DataFrame, minSup: Int, topN: Int): DataFrame = {
    val baskets = li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
    val pairCounts = baskets
      .select(explode(col("parts")).as("a"), col("parts"))
      .select(col("a"), explode(col("parts")).as("b"))
      .where(col("a") =!= col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minSup)
    val itemCounts = baskets.select(explode(col("parts")).as("item"))
      .groupBy("item").agg(count(lit(1)).as("n_item"))
    val total = baskets.agg(count(lit(1)).as("n_baskets"))
    pairCounts
      .join(broadcast(itemCounts.select(col("item").as("a"), col("n_item").as("n_a"))), "a")
      .join(broadcast(itemCounts.select(col("item").as("b"), col("n_item").as("n_b"))), "b")
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"),
        expr("(1000000 * n_ab) div n_baskets").as("supp_micro"),
        expr("(1000 * n_ab) div n_a").as("conf_milli"),
        expr("(1000 * n_ab * n_baskets) div (n_a * n_b)").as("lift_milli"))
      .orderBy(col("lift_milli").desc, col("a"), col("b"))
      .limit(topN)
  }

  private val rulesOracle =
    """WITH b AS MATERIALIZED (
         SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
         FROM lineitem GROUP BY 1),
       pc AS MATERIALIZED (
         SELECT a.l_partkey AS a, bb.l_partkey AS b,
           CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS n_ab
         FROM lineitem a JOIN lineitem bb ON a.l_orderkey = bb.l_orderkey
         WHERE a.l_partkey <> bb.l_partkey
         GROUP BY 1, 2 HAVING COUNT(DISTINCT a.l_orderkey) >= 2),
       ic AS MATERIALIZED (
         SELECT l_partkey AS item,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_item
         FROM lineitem GROUP BY 1),
       t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets FROM b)
       SELECT p.a, p.b, p.n_ab,
         (1000000 * p.n_ab) // t.n_baskets AS supp_micro,
         (1000 * p.n_ab) // ia.n_item AS conf_milli,
         (1000 * p.n_ab * t.n_baskets) // (ia.n_item * ib.n_item) AS lift_milli
       FROM pc p
       JOIN ic ia ON ia.item = p.a
       JOIN ic ib ON ib.item = p.b
       CROSS JOIN t
       ORDER BY lift_milli DESC, p.a, p.b
       LIMIT 100"""

  private val x133 = GQuery(
    "x133_association_rules", "ext-graph association-rules market-basket",
    (s, dir) => associationRules(lineitem(s, dir), minSup = 2, topN = 100),
    Some(rulesOracle))

  /** Bounded multi-source BFS: hop distance from the SEED node (smallest
    * part id — deterministic) to every node within `hops` hops — the
    * blast-radius / reachability query (dependency impact, contamination
    * spread). Frontier expansion as iterated relational min-distance:
    * dist_k = min(dist_{k-1}, 1 + dist of any in-neighbor) — each round
    * is one co-partitioned edge⋈frontier join (edges hash-partitioned by
    * src once and checkpointed; the ≤ node-sized frontier shuffles TO
    * them, SHUFFLE_HASH — never a static broadcast) + a min-aggregate,
    * the Pregel SSSP superstep. Rounds are checkpointed and superseded
    * generations dropped (the x124 hygiene). Unreached nodes are absent
    * (no sentinel row), matching the oracle's semantics exactly.
    */
  def hopDistance(li: DataFrame, hops: Int): DataFrame =
    hopDistanceOnEdges(copurchaseEdges(li), hops)

  private[queries] def hopDistanceOnEdges(e: DataFrame, hops: Int): DataFrame =
    withSuperstepConfs(e.sparkSession, superstepPartitions(e)) {
    val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
    val adj = adjacencyBySrc(directed, deg)
    // DELTA frontier (round 15, guide §2.4 "don't compute things you
    // throw away"): only nodes FIRST REACHED last round push dist+1 —
    // in synchronous unweighted BFS a node's first-reach distance is
    // final (later rounds can only offer larger values), so expanding
    // the already-settled distance table every round re-aggregated
    // millions of contribution rows that could never win the min. The
    // settled table and the new arrivals are key-disjoint by the
    // anti-join, so the round's union needs no re-aggregation at all.
    // Same rows out as the full-expansion form, bit-identical.
    var dist = e.agg(min(col("pa")).as("node"))
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    var delta = dist
    for (_ <- 1 to hops) {
      // PUSH form: newly-reached nodes send dist+1 down their neighbor
      // lists; the groupBy dedups multi-path arrivals (all carry the
      // same dist this round)
      val arrivals = adj.join(delta.hint("shuffle_hash"), col("src") === col("node"))
        .select(explode(col("dsts")).as("node"), (col("dist") + 1L).as("dist"))
        .groupBy("node").agg(min(col("dist")).as("dist"))
      val newDelta = arrivals
        .join(dist, Seq("node"), "left_anti")
        .localCheckpoint(true)
      val next = dist.unionAll(newDelta).localCheckpoint(true)
      if (!(delta eq dist)) dropCheckpoint(delta)
      dropCheckpoint(dist)
      dist = next
      delta = newDelta
    }
    dropCheckpoint(adj)
    dropCheckpoint(delta)
    dist.select(col("node").as("part"), col("dist"))
      .orderBy("part")
    }

  private def hopOracle(hops: Int): String = {
    val head =
      """WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey < b.l_partkey),
         e AS MATERIALIZED (
           SELECT pa AS src, pb AS dst FROM e0
           UNION ALL SELECT pb AS src, pa AS dst FROM e0),
         f0 AS (SELECT MIN(pa) AS node, CAST(0 AS BIGINT) AS dist FROM e0)"""
    val steps = (1 to hops).map { i =>
      s"""f$i AS MATERIALIZED (
           SELECT node, MIN(dist) AS dist FROM (
             SELECT node, dist FROM f${i - 1}
             UNION ALL
             SELECT e.dst AS node, f.dist + 1 AS dist
             FROM e JOIN f${i - 1} f ON e.src = f.node)
           GROUP BY node)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node AS part, CAST(dist AS BIGINT) AS dist FROM f$hops ORDER BY part"
  }

  private val x139 = GQuery(
    "x139_hop_distance", "ext-graph bfs reachability",
    (s, dir) => hopDistanceOnEdges(storedEdges(s, dir), hops = 4),
    Some(hopOracle(4)))

  // ------------------------------------------------------------------- x215
  // Modularity of the detected communities — the quality score that says
  // whether x130's partition is real structure or noise (Newman 2006):
  // Q = (4m·Σ_c e_c − Σ_c d_c²) / (4m²) over the undirected graph, with
  // e_c = intra-community edges and d_c = community degree sum. All
  // arithmetic runs in DECIMAL(38,0) with ONE integer division at the
  // end (micros), so a score that is normally float-summed
  // hash-verifies; the decimal width also survives 100 TB edge counts
  // where 4m² overflows BIGINT. Scale shape: two node-sized label joins
  // onto the stored edge list + community-grained aggregates; the label
  // table comes from the same co-partitioned superstep loop x130 runs.
  /** Stored community labels (x130's 4-round partition) — the x62
    * build-once discipline applied to the DETECTION result: x130 remains
    * the algorithm row (it benches the superstep loop); consumers that
    * SCORE or slice the partition (x215) read the stored labels instead
    * of re-detecting. Values are identical by construction, so x215's
    * unrolled-CTE oracle is unchanged.
    */
  private[queries] def storedLabels(s: SparkSession, dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "lp_labels_i4_v1")
    if (!graft.StoredArtifacts.ready(store))
      labelPropagationOnEdges(storedEdges(s, dir), iters = 4)
        .write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  private val x215 = GQuery(
    "x215_modularity", "ext-graph community-quality modularity",
    (s, dir) => {
      val e = storedEdges(s, dir)
      val labels = storedLabels(s, dir)
        .select(col("part").as("node"), col("community"))
      val la = labels.select(col("node").as("pa"), col("community").as("ca"))
      val lb = labels.select(col("node").as("pb"), col("community").as("cb"))
      val intra = e.join(la, "pa").join(lb, "pb")
        .where(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_c"))
      val dsum = degrees(e).join(labels, "node")
        .groupBy("community").agg(sum(col("deg")).as("d_c"))
      val m = e.agg(count(lit(1)).as("m"))
      dsum.join(intra, Seq("community"), "left")
        .select(col("community"), coalesce(col("e_c"), lit(0L)).as("e_c"),
          col("d_c"))
        .agg(count(lit(1)).as("n_communities"),
          sum(col("e_c")).as("sum_ec"), sum(col("d_c") * col("d_c")).as("sum_dc2"))
        .crossJoin(broadcast(m))
        .select(col("n_communities"), col("m").as("m_edges"),
          expr("""cast(1000000 * (4 * cast(m as decimal(38,0)) * sum_ec
                    - cast(sum_dc2 as decimal(38,0))) as decimal(38,0))
                  div cast(4 * cast(m as decimal(38,0)) * m as decimal(38,0))""")
            .cast("long").as("q_micro"))
    },
    Some(labelPropOracle(4)
      .replace("SELECT node AS part, label AS community FROM l4 ORDER BY part",
        """, lab AS (SELECT node, label AS community FROM l4),
           e2 AS (SELECT DISTINCT src AS pa, dst AS pb FROM ed WHERE src < dst),
           deg2 AS (
             SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
             FROM (SELECT pa AS node FROM e2 UNION ALL SELECT pb FROM e2)
             GROUP BY 1),
           intra AS (
             SELECT la.community, CAST(COUNT(*) AS BIGINT) AS e_c
             FROM e2
             JOIN lab la ON la.node = e2.pa
             JOIN lab lb ON lb.node = e2.pb
             WHERE la.community = lb.community
             GROUP BY 1),
           dsum AS (
             SELECT lab.community, CAST(SUM(deg2.deg) AS BIGINT) AS d_c
             FROM deg2 JOIN lab ON lab.node = deg2.node
             GROUP BY 1),
           mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e2),
           agg AS (
             SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
               CAST(SUM(COALESCE(intra.e_c, 0)) AS BIGINT) AS sum_ec,
               CAST(SUM(dsum.d_c * dsum.d_c) AS BIGINT) AS sum_dc2
             FROM dsum LEFT JOIN intra ON intra.community = dsum.community)
           SELECT n_communities, m AS m_edges,
             CAST((1000000 * (4 * CAST(m AS HUGEINT) * sum_ec
                 - CAST(sum_dc2 AS HUGEINT)))
               // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS q_micro
           FROM agg, mm""")))

  /** WEIGHTED co-purchase edges: weight = number of orders containing
    * both parts (the multiplicity [[copurchaseEdges]] collapses away) —
    * the affinity-strength graph recommenders actually rank on. Stored
    * under the same build-once discipline.
    */
  private[queries] def weightedEdges(li: DataFrame): DataFrame =
    li.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_partkey")).as("parts"))
      .select(explode(col("parts")).as("pa"), col("parts"))
      .select(col("pa"), explode(col("parts")).as("pb"))
      .where(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("w"))

  private[queries] def storedWeightedEdges(s: SparkSession, dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "copurchase_wedges_v1")
    if (!graft.StoredArtifacts.ready(store))
      weightedEdges(lineitem(s, dir)).write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  // ------------------------------------------------------------------- x217
  // WEIGHTED integer PageRank — the rank flows along edge multiplicity
  // (an edge backed by 5 shared orders carries 5× the rank of a
  // single-order edge), the form recommendation/influence ranking uses
  // on real affinity graphs. Same exactness discipline as x124: the
  // per-edge contribution is (rank · w) div strength with strength =
  // Σ w over the node's edges — all BIGINT, so the weighted variant
  // hash-verifies through the same unrolled-CTE oracle. Same 100 TB
  // shape as [[rankSuperstep]]: chunked WEIGHTED adjacency lists
  // ((dst, w) structs), hash-partitioned by src once; per superstep the
  // node-sized rank table shuffles to them and the explode fans
  // in-pipeline into a map-side-combined sum.
  private[queries] def weightedPagerank(we: DataFrame, iters: Int): DataFrame =
    withSuperstepConfs(we.sparkSession, superstepPartitions(we)) {
      val directed = we.select(col("pa").as("src"), col("pb").as("dst"), col("w"))
        .unionAll(we.select(col("pb").as("src"), col("pa").as("dst"), col("w")))
      // chunk count from the strength AGGREGATE, not a window (round 15):
      // the per-src neighbor count the chunking needs is computable in the
      // same node-sized aggregate that already produces strength, so the
      // full-edge-table sort the count(*)-over-(partition by src) window
      // paid (measured: the single heaviest stage of this row, 8.3 s of
      // task time at sf0.1) is gone. Identical chunk values by
      // construction: count-per-src == the window's count.
      val strength = directed.groupBy("src").agg(sum(col("w")).as("strength"),
        count(lit(1)).as("ndst"))
      val adj = withoutAqe(we.sparkSession) {
        directed.join(strength, "src")
          .withColumn("chunk",
            pmod(hash(col("dst")),
              greatest(lit(1), ceil(col("ndst") / lit(4096)).cast("int"))))
          .groupBy(col("src"), col("chunk"))
          .agg(first(col("strength")).as("strength"),
            collect_list(struct(col("dst"), col("w"))).as("nbrs"))
          .repartition(we.sparkSession.sessionState.conf.numShufflePartitions,
            col("src"))
          .localCheckpoint(true)
      }
      var ranks = strength
        .select(col("src").as("node"), lit(1000000L).as("rank"))
        .localCheckpoint(true)
      for (_ <- 1 to iters) {
        val next = adj.join(ranks.hint("shuffle_hash"), col("src") === col("node"))
          .select(explode(col("nbrs")).as("e"),
            col("rank"), col("strength"))
          .select(col("e.dst").as("dst"),
            expr("(rank * e.w) div strength").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("c"))
          .select(col("dst").as("node"),
            (lit(150000L) + expr("(850 * c) div 1000")).as("rank"))
          .localCheckpoint(true)
        dropCheckpoint(ranks)
        ranks = next
      }
      dropCheckpoint(adj)
      rankedParts(ranks)
    }

  private def wpagerankOracle(iters: Int): String = {
    val head =
      """WITH b AS MATERIALIZED (
           SELECT l_orderkey, list_distinct(list(l_partkey)) AS parts
           FROM lineitem GROUP BY 1),
         we AS MATERIALIZED (
           SELECT a.pa AS src, a.pb AS dst, CAST(COUNT(*) AS BIGINT) AS w
           FROM (
             SELECT x.l_orderkey, x.l_partkey AS pa, y.l_partkey AS pb
             FROM lineitem x JOIN lineitem y
               ON x.l_orderkey = y.l_orderkey
             WHERE x.l_partkey <> y.l_partkey
             GROUP BY 1, 2, 3) a
           GROUP BY 1, 2),
         st AS MATERIALIZED (
           SELECT src, CAST(SUM(w) AS BIGINT) AS strength FROM we GROUP BY 1),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM st)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
           SELECT d.src AS node,
             150000 + (850 * COALESCE(s.c, 0)) // 1000 AS rank
           FROM st d LEFT JOIN (
             SELECT we.dst AS node2,
               CAST(SUM((r.rank * we.w) // g.strength) AS BIGINT) AS c
             FROM we JOIN r${i - 1} r ON we.src = r.node
                    JOIN st g ON g.src = we.src
             GROUP BY 1) s
           ON s.node2 = d.src)"""
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node AS part, CAST(rank AS BIGINT) AS rank_micros FROM r$iters " +
      "ORDER BY rank_micros DESC, part"
  }

  private val x217 = GQuery(
    "x217_weighted_pagerank", "ext-graph weighted-pagerank affinity",
    (s, dir) => weightedPagerank(storedWeightedEdges(s, dir), iters = 8),
    Some(wpagerankOracle(8)))

  // ------------------------------------------------------------------- x238
  // Per-community profile over the STORED partition (x215's artifact):
  // size, intra-community edges, boundary edges (counted toward both
  // endpoint communities), and conductance in millis — the PER-COMMUNITY
  // quality read (a high-conductance "community" is a label-prop
  // artifact, not structure; x215's Q is the global aggregate of the
  // same ingredients). Integer end to end.
  //
  // Scale shape: two node-sized label joins onto the stored edge list,
  // then community-grained aggregates — no iteration (the loop already
  // ran once into the artifact).
  private val x238 = GQuery(
    "x238_community_profile", "ext-graph community-profile conductance",
    (s, dir) => {
      val e = storedEdges(s, dir)
      val labels = storedLabels(s, dir)
        .select(col("part").as("node"), col("community"))
      val tagged = e
        .join(labels.select(col("node").as("pa"), col("community").as("ca")), "pa")
        .join(labels.select(col("node").as("pb"), col("community").as("cb")), "pb")
        .localCheckpoint(true) // intra + boundary reread the tagged edges
      val intra = tagged.where(col("ca") === col("cb"))
        .groupBy(col("ca").as("community")).agg(count(lit(1)).as("intra"))
      val boundary = tagged.where(col("ca") =!= col("cb"))
        .select(col("ca").as("community"))
        .unionAll(tagged.where(col("ca") =!= col("cb"))
          .select(col("cb").as("community")))
        .groupBy("community").agg(count(lit(1)).as("boundary"))
      labels.groupBy("community").agg(count(lit(1)).as("n_nodes"))
        .join(intra, Seq("community"), "left")
        .join(boundary, Seq("community"), "left")
        .select(col("community"), col("n_nodes"),
          coalesce(col("intra"), lit(0L)).as("intra"),
          coalesce(col("boundary"), lit(0L)).as("boundary"))
        .withColumn("conductance_milli",
          when(expr("2 * intra + boundary") === 0L, 0L)
            .otherwise(expr("(1000 * boundary) div (2 * intra + boundary)")))
        .orderBy("community")
    },
    Some(labelPropOracle(4)
      .replace("SELECT node AS part, label AS community FROM l4 ORDER BY part",
        """, lab AS (SELECT node, label AS community FROM l4),
           e2 AS (SELECT DISTINCT src AS pa, dst AS pb FROM ed WHERE src < dst),
           tag AS (
             SELECT la.community AS ca, lb.community AS cb
             FROM e2
             JOIN lab la ON la.node = e2.pa
             JOIN lab lb ON lb.node = e2.pb),
           intra AS (
             SELECT ca AS community, CAST(COUNT(*) AS BIGINT) AS intra
             FROM tag WHERE ca = cb GROUP BY 1),
           bnd AS (
             SELECT community, CAST(COUNT(*) AS BIGINT) AS boundary
             FROM (SELECT ca AS community FROM tag WHERE ca <> cb
                   UNION ALL SELECT cb FROM tag WHERE ca <> cb)
             GROUP BY 1),
           sz AS (SELECT community, CAST(COUNT(*) AS BIGINT) AS n_nodes
                  FROM lab GROUP BY 1)
           SELECT sz.community, sz.n_nodes,
             COALESCE(intra.intra, 0) AS intra,
             COALESCE(bnd.boundary, 0) AS boundary,
             CASE WHEN 2 * COALESCE(intra.intra, 0)
                 + COALESCE(bnd.boundary, 0) = 0 THEN 0
               ELSE (1000 * COALESCE(bnd.boundary, 0))
                 // (2 * COALESCE(intra.intra, 0)
                    + COALESCE(bnd.boundary, 0)) END AS conductance_milli
           FROM sz
           LEFT JOIN intra ON intra.community = sz.community
           LEFT JOIN bnd ON bnd.community = sz.community
           ORDER BY sz.community""")))

  // ------------------------------------------------------------------- x242
  // Degree assortativity (Newman 2002, Phys. Rev. Lett. 89.208701): the
  // Pearson correlation of the degrees at the two ends of every edge —
  // THE one-number answer to "do hubs link to hubs?" that decides whether
  // hub-removal partitioning tricks will work on this graph. Computed
  // over the directed double cover (each undirected edge in both
  // orientations), which makes the statistic symmetric by construction.
  // All moments accumulate as exact integers (degrees are BIGINT,
  // per-edge products fit BIGINT, sums ride DECIMAL(38,0)/HUGEINT), so
  // both engines reach identical exact rationals; the only floating steps
  // are the final sqrt/divide on those exact values plus one round to
  // micros — the x231 discipline.
  //
  // Scale shape: two node-sized degree joins onto the stored edge list
  // (shuffle-bounded by the edge table), then ONE map-side-combinable
  // aggregate. No iteration, no window, no driver data.
  private val x242 = GQuery(
    "x242_degree_assortativity", "ext-graph assortativity degree-mixing",
    (s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val e = storedEdges(s, dir)
      val deg = storedDegrees(s, dir)
      val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      val m = directed
        .join(deg.select(col("node").as("src"), col("deg").as("da")), "src")
        .join(deg.select(col("node").as("dst"), col("deg").as("db")), "dst")
        .agg(count(lit(1)).as("n"),
          sum(col("da")).as("sa"), sum(col("db")).as("sb"),
          sum((col("da") * col("da")).cast(d38)).as("saa"),
          sum((col("db") * col("db")).cast(d38)).as("sbb"),
          sum((col("da") * col("db")).cast(d38)).as("sab"))
      m.select(col("n").as("m_directed"),
        expr("""cast(round(
             cast(cast(n as decimal(38,0)) * sab
               - cast(sa as decimal(38,0)) * sb as double)
             / (sqrt(cast(cast(n as decimal(38,0)) * saa
                 - cast(sa as decimal(38,0)) * sa as double))
               * sqrt(cast(cast(n as decimal(38,0)) * sbb
                 - cast(sb as decimal(38,0)) * sb as double)))
             * 1000000, 0) as bigint)""").as("r_micro"))
    },
    Some("""WITH e0 AS MATERIALIZED (
              SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
              FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
              WHERE a.l_partkey < b.l_partkey),
            e AS (SELECT pa AS src, pb AS dst FROM e0
                  UNION ALL SELECT pb AS src, pa AS dst FROM e0),
            deg AS (
              SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
              FROM (SELECT pa AS node FROM e0 UNION ALL SELECT pb FROM e0)
              GROUP BY 1),
            m AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n,
                CAST(SUM(da.deg) AS BIGINT) AS sa,
                CAST(SUM(db.deg) AS BIGINT) AS sb,
                SUM(CAST(da.deg * da.deg AS HUGEINT)) AS saa,
                SUM(CAST(db.deg * db.deg AS HUGEINT)) AS sbb,
                SUM(CAST(da.deg * db.deg AS HUGEINT)) AS sab
              FROM e
              JOIN deg da ON da.node = e.src
              JOIN deg db ON db.node = e.dst)
            SELECT n AS m_directed,
              CAST(round(
                CAST(CAST(n AS HUGEINT) * sab
                  - CAST(sa AS HUGEINT) * sb AS DOUBLE)
                / (sqrt(CAST(CAST(n AS HUGEINT) * saa
                    - CAST(sa AS HUGEINT) * sa AS DOUBLE))
                  * sqrt(CAST(CAST(n AS HUGEINT) * sbb
                    - CAST(sb AS HUGEINT) * sb AS DOUBLE)))
                * 1000000, 0) AS BIGINT) AS r_micro
            FROM m"""))

  // ------------------------------------------------------------------- x243
  // Closeness / eccentricity profile of the TOP-DEGREE seeds: multi-source
  // BFS from the 8 highest-degree nodes (deterministic (deg DESC, id)
  // pick), reporting per seed the reached count, distance mass,
  // eccentricity (its max distance = a diameter lower bound), exact
  // closeness in millis (1000·(reached−1) div Σdist) and tie-robust
  // harmonic centrality (Σ 1000 div dist — per-term integer division, so
  // no float sum ever forms). The hub-centrality read a routing /
  // cache-placement decision wants; seeds are a BOUNDED set, so the cost
  // is k parallel BFS fronts, not all-pairs shortest paths.
  //
  // Scale shape: the x139 superstep (co-partitioned edge⋈frontier,
  // SHUFFLE_HASH, checkpoint-per-round, superseded generations dropped)
  // with a (seed, node) keyed frontier of ≤ k·|V| rows — k fixed at 8.
  /** Multi-source BFS frontier from the top-`seeds` degree nodes: the
    * (seed, node, dist) table after `hops` co-partitioned supersteps —
    * the shared substrate of the x243 closeness profile (aggregates it)
    * and the x254 landmark-distance artifact (stores it).
    */
  private[queries] def multiSourceBfsOnEdges(
      e: DataFrame, seeds: Int, hops: Int): DataFrame =
    // loop width stays edge-sized, NOT seeds-scaled (round 15, measured
    // and rejected): widening the rounds to match the seeds× (seed,
    // node) key space collapsed map-side partial aggregation — each
    // min-agg round's shuffle grew 9 → 44 MB because narrower input
    // slices dedup far less — and the row got slower. The narrow loop
    // IS the partial-agg sweet spot here.
    withSuperstepConfs(e.sparkSession, superstepPartitions(e)) {
      val directed = e.select(col("pa").as("src"), col("pb").as("dst"))
        .unionAll(e.select(col("pb").as("src"), col("pa").as("dst")))
      val deg = directed.groupBy("src").agg(count(lit(1)).as("outdeg"))
      val adj = adjacencyBySrc(directed, deg)
      // DELTA frontier — the x139 note applies verbatim, per (seed,
      // node): a seed's first-reach distance to a node is final, so only
      // last round's arrivals push, and the settled table unions the new
      // arrivals key-disjointly (no re-aggregation). On the multi-source
      // table this is the bigger win: the late rounds re-aggregated
      // seeds× the whole graph (~18 M contribution rows at sf0.1) to
      // change almost nothing.
      var dist = deg.orderBy(col("outdeg").desc, col("src")).limit(seeds)
        .select(col("src").as("seed"), col("src").as("node"),
          lit(0L).as("dist"))
        .localCheckpoint(true)
      var delta = dist
      for (_ <- 1 to hops) {
        val arrivals = adj
          .join(delta.hint("shuffle_hash"), col("src") === col("node"))
          .select(col("seed"), explode(col("dsts")).as("node"),
            (col("dist") + 1L).as("dist"))
          .groupBy("seed", "node").agg(min(col("dist")).as("dist"))
        val newDelta = arrivals
          .join(dist, Seq("seed", "node"), "left_anti")
          .localCheckpoint(true)
        val next = dist.unionAll(newDelta).localCheckpoint(true)
        if (!(delta eq dist)) dropCheckpoint(delta)
        dropCheckpoint(dist)
        dist = next
        delta = newDelta
      }
      dropCheckpoint(adj)
      dropCheckpoint(delta)
      dist
    }

  private[queries] def closenessProfileOnEdges(
      e: DataFrame, seeds: Int, hops: Int): DataFrame =
    multiSourceBfsOnEdges(e, seeds, hops).groupBy("seed")
        .agg(count(lit(1)).as("reached"), sum(col("dist")).as("sum_dist"),
          max(col("dist")).as("ecc"),
          sum(when(col("dist") > 0L, expr("1000 div dist"))
            .otherwise(lit(0L))).as("harmonic_milli"))
        .withColumn("closeness_milli",
          when(col("sum_dist") === 0L, lit(0L))
            .otherwise(expr("(1000 * (reached - 1)) div sum_dist")))
        .select(col("seed"), col("reached"), col("sum_dist"), col("ecc"),
          col("closeness_milli"), col("harmonic_milli"))
        .orderBy("seed")

  private def closenessOracle(seeds: Int, hops: Int): String = {
    val head =
      s"""WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
           FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey < b.l_partkey),
         e AS MATERIALIZED (
           SELECT pa AS src, pb AS dst FROM e0
           UNION ALL SELECT pb AS src, pa AS dst FROM e0),
         dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                FROM e GROUP BY 1),
         f0 AS (SELECT src AS seed, src AS node, CAST(0 AS BIGINT) AS dist
                FROM dg ORDER BY outdeg DESC, src LIMIT $seeds)"""
    val steps = (1 to hops).map { i =>
      s"""f$i AS MATERIALIZED (
           SELECT seed, node, MIN(dist) AS dist FROM (
             SELECT seed, node, dist FROM f${i - 1}
             UNION ALL
             SELECT f.seed, e.dst AS node, f.dist + 1 AS dist
             FROM e JOIN f${i - 1} f ON e.src = f.node)
           GROUP BY 1, 2)"""
    }
    (head +: steps).mkString(",\n") +
      s"""
        SELECT seed, CAST(COUNT(*) AS BIGINT) AS reached,
          CAST(SUM(dist) AS BIGINT) AS sum_dist,
          CAST(MAX(dist) AS BIGINT) AS ecc,
          CASE WHEN SUM(dist) = 0 THEN 0
            ELSE CAST((1000 * (COUNT(*) - 1)) // SUM(dist) AS BIGINT)
            END AS closeness_milli,
          CAST(SUM(CASE WHEN dist > 0 THEN 1000 // dist ELSE 0 END)
            AS BIGINT) AS harmonic_milli
        FROM f$hops GROUP BY 1 ORDER BY 1"""
  }

  private val x243 = GQuery(
    "x243_closeness_profile", "ext-graph closeness eccentricity bfs",
    (s, dir) => closenessProfileOnEdges(storedEdges(s, dir),
      seeds = 8, hops = 4),
    Some(closenessOracle(8, 4)))

  // ------------------------------------------------------------------- x254
  // Landmark-distance estimation (Potamias, Bonchi, Castillo & Gionis,
  // CIKM 2009): the 100 TB answer to "how far apart are u and v?" when an
  // exact BFS per query is unaffordable — store per-landmark distance
  // vectors ONCE (x243's multi-source BFS, the x62 build-once / probe-many
  // discipline applied to distances), then bound any pair by the triangle
  // inequality: d̂(u,v) = min_l d(l,u)+d(l,v). Probed here for the
  // top-16-degree node pairs; rows where a landmark IS an endpoint carry
  // the exact distance too, and there the bound is provably TIGHT
  // (d(l,u)+d(l,l) = d(l,u)) — the spec pins both properties. Pairs no
  // common landmark reaches within the horizon are absent (no sentinel).
  //
  // Scale shape: the landmark table is |L|·|V| rows partitioned by node;
  // a probe joins the probe set to it (node-keyed), self-joins the
  // ≤|L|·|probes| result on the landmark key, and min-aggregates —
  // nothing fact-sized moves, no BFS runs at query time.
  /** Stored (seed, node, dist) landmark BFS artifact over the stored
    * edge list — built on first touch, then only read.
    */
  private[queries] def storedLandmarkBfs(s: SparkSession,
      dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "bfs_landmarks_s8h4_v1")
    if (!graft.StoredArtifacts.ready(store))
      multiSourceBfsOnEdges(storedEdges(s, dir), seeds = 8, hops = 4)
        .write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  private val x254 = GQuery(
    "x254_landmark_distance", "ext-graph landmark-distance triangle-bound",
    (s, dir) => {
      val lm = storedLandmarkBfs(s, dir)
      val probes = storedDegrees(s, dir)
        .orderBy(col("deg").desc, col("node")).limit(16)
        .select(col("node"))
      val pu = lm.join(probes, "node")
        .select(col("seed"), col("node").as("u"), col("dist").as("du"))
      val pv = pu.select(col("seed"), col("u").as("v"), col("du").as("dv"))
      val est = pu.join(pv, Seq("seed")).where(col("u") < col("v"))
        .groupBy("u", "v").agg(min(col("du") + col("dv")).as("est_dist"))
      val exact = lm.select(col("seed").as("u"), col("node").as("v"),
          col("dist").as("ed")).where(col("u") < col("v"))
        .unionAll(lm.select(col("node").as("u"), col("seed").as("v"),
          col("dist").as("ed")).where(col("u") < col("v")))
        .groupBy("u", "v").agg(min(col("ed")).as("exact_dist"))
      est.join(exact, Seq("u", "v"), "left")
        .select(col("u").as("ua"), col("v").as("ub"), col("est_dist"),
          coalesce(col("exact_dist"), lit(-1L)).as("exact_dist"))
        .orderBy("ua", "ub")
    },
    Some {
      val head =
        """WITH e0 AS MATERIALIZED (
             SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
             FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
             WHERE a.l_partkey < b.l_partkey),
           e AS MATERIALIZED (
             SELECT pa AS src, pb AS dst FROM e0
             UNION ALL SELECT pb AS src, pa AS dst FROM e0),
           dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
                  FROM e GROUP BY 1),
           f0 AS (SELECT src AS seed, src AS node, CAST(0 AS BIGINT) AS dist
                  FROM dg ORDER BY outdeg DESC, src LIMIT 8)"""
      val steps = (1 to 4).map { i =>
        s"""f$i AS MATERIALIZED (
             SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM f${i - 1}
               UNION ALL
               SELECT f.seed, e.dst AS node, f.dist + 1 AS dist
               FROM e JOIN f${i - 1} f ON e.src = f.node)
             GROUP BY 1, 2)"""
      }
      (head +: steps).mkString(",\n") +
        """,
          probes AS (SELECT src AS node FROM dg
                     ORDER BY outdeg DESC, src LIMIT 16),
          pu AS (SELECT l.seed, l.node AS u, l.dist AS du
                 FROM f4 l JOIN probes p ON p.node = l.node),
          est AS (
            SELECT a.u AS u, b.u AS v,
              CAST(MIN(a.du + b.du) AS BIGINT) AS est_dist
            FROM pu a JOIN pu b ON a.seed = b.seed AND a.u < b.u
            GROUP BY 1, 2),
          ex AS (
            SELECT u, v, CAST(MIN(ed) AS BIGINT) AS exact_dist FROM (
              SELECT seed AS u, node AS v, dist AS ed FROM f4
              WHERE seed < node
              UNION ALL
              SELECT node AS u, seed AS v, dist AS ed FROM f4
              WHERE node < seed)
            GROUP BY 1, 2)
          SELECT est.u AS ua, est.v AS ub, est.est_dist,
            COALESCE(ex.exact_dist, -1) AS exact_dist
          FROM est LEFT JOIN ex ON ex.u = est.u AND ex.v = est.v
          ORDER BY ua, ub"""
    })

  // ------------------------------------------------------------------- x255
  // Temporal graph evolution — year-over-year co-purchase edge churn: for
  // each consecutive order-year pair, how many edges persisted, appeared,
  // disappeared, and the edge-set Jaccard in millis. The graph-drift read
  // behind every "retrain the graph model?" decision: a stable Jaccard
  // says the stored embeddings/communities still describe the graph, a
  // cliff says they don't. Exact integers end to end.
  //
  // Scale shape: the yearly edge list is built ONCE as a stored artifact
  // (year tag rides the same one-scan order-grouped build as the static
  // edge artifact — the facts are scanned once, ever); the evolution
  // query is then one edge-keyed equi-self-join (y+1 alignment) + a
  // year-grained rollup. Year count bounds the output, edge count bounds
  // the join.
  /** Stored yearly co-purchase edges `(y, pa, pb)` — the time-sliced
    * sibling of [[storedEdges]]; an order contributes its pairs to its
    * order-year's slice.
    */
  private[queries] def storedYearlyEdges(s: SparkSession,
      dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "copurchase_edges_yearly_v1")
    if (!graft.StoredArtifacts.ready(store)) {
      val li = lineitem(s, dir).select(col("l_orderkey"), col("l_partkey"))
      val oy = Tables(s, dir, "orders")
        .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("y"))
      li.join(oy, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"))
        .agg(first(col("y")).as("y"), collect_set(col("l_partkey")).as("parts"))
        .select(col("y"), explode(col("parts")).as("pa"), col("parts"))
        .select(col("y"), col("pa"), explode(col("parts")).as("pb"))
        .where(col("pa") < col("pb"))
        .distinct()
        .write.mode("overwrite").parquet(store)
    }
    s.read.parquet(store)
  }

  private val x255 = GQuery(
    "x255_graph_evolution", "ext-graph temporal-evolution edge-churn",
    (s, dir) => {
      val ey = storedYearlyEdges(s, dir)
      val cnt = ey.groupBy("y").agg(count(lit(1)).as("n"))
      val kept = ey.as("a")
        .join(ey.as("b"), col("b.y") === col("a.y") + 1
          && col("a.pa") === col("b.pa") && col("a.pb") === col("b.pb"))
        .groupBy(col("a.y").as("y_from")).agg(count(lit(1)).as("kept"))
      cnt.select(col("y").as("y_from"), col("n").as("n_from"))
        .join(cnt.select(col("y").as("y_to"), col("n").as("n_to")),
          expr("y_to = y_from + 1"))
        .join(kept, Seq("y_from"), "left")
        .select(col("y_from"), col("y_to"),
          coalesce(col("kept"), lit(0L)).as("kept"),
          (col("n_to") - coalesce(col("kept"), lit(0L))).as("added"),
          (col("n_from") - coalesce(col("kept"), lit(0L))).as("removed"),
          expr("""(1000 * coalesce(kept, 0))
               div (n_from + n_to - coalesce(kept, 0))""")
            .as("jaccard_milli"))
        .orderBy("y_from")
    },
    Some("""WITH ey AS MATERIALIZED (
              SELECT DISTINCT
                CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS y,
                a.l_partkey AS pa, b.l_partkey AS pb
              FROM lineitem a
              JOIN lineitem b ON a.l_orderkey = b.l_orderkey
              JOIN orders o ON o.o_orderkey = a.l_orderkey
              WHERE a.l_partkey < b.l_partkey),
            cnt AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS n
                    FROM ey GROUP BY 1),
            kept AS (
              SELECT e1.y AS y_from, CAST(COUNT(*) AS BIGINT) AS kept
              FROM ey e1 JOIN ey e2 ON e2.y = e1.y + 1
                AND e1.pa = e2.pa AND e1.pb = e2.pb
              GROUP BY 1)
            SELECT c1.y AS y_from, c2.y AS y_to,
              COALESCE(k.kept, 0) AS kept,
              c2.n - COALESCE(k.kept, 0) AS added,
              c1.n - COALESCE(k.kept, 0) AS removed,
              (1000 * COALESCE(k.kept, 0))
                // (c1.n + c2.n - COALESCE(k.kept, 0)) AS jaccard_milli
            FROM cnt c1
            JOIN cnt c2 ON c2.y = c1.y + 1
            LEFT JOIN kept k ON k.y_from = c1.y
            ORDER BY y_from"""))

  // ------------------------------------------------------------------- x256
  // Hub persistence — the companion read to x255's edge churn: do the
  // HUBS stay the hubs year over year? Per consecutive-year pair, the
  // top-32 degree nodes of each year (deterministic (deg DESC, id) pick
  // within the year) are compared: overlap count, Jaccard in millis, and
  // the mean absolute degree-RANK displacement (milli) of the carried-over
  // hubs — hub-set stability plus how much the pecking order shuffled.
  // Exact integers end to end; ranks come from a per-year window over
  // the node-sized yearly degree table.
  //
  // Scale shape: yearly degrees are a rollup of the stored yearly edge
  // artifact (node×year sized); the top-k pick is a per-year rank window
  // over that table; the comparison joins two ≤32-row sets per year pair.
  private val x256 = GQuery(
    "x256_hub_persistence", "ext-graph temporal-hubs rank-stability",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ey = storedYearlyEdges(s, dir)
      val deg = ey.select(col("y"), col("pa").as("node"))
        .unionAll(ey.select(col("y"), col("pb").as("node")))
        .groupBy("y", "node").agg(count(lit(1)).as("deg"))
      val ranked = deg.withColumn("rk",
          row_number().over(Window.partitionBy("y")
            .orderBy(col("deg").desc, col("node"))).cast("long"))
        .where(col("rk") <= 32)
      val a = ranked.select(col("y").as("y_from"), col("node"),
        col("rk").as("rk_from"))
      val b = ranked.select((col("y") - 1).as("y_from"), col("node"),
        col("rk").as("rk_to"))
      val both = a.join(b, Seq("y_from", "node"))
        .groupBy("y_from")
        .agg(count(lit(1)).as("carried"),
          sum(abs(col("rk_from") - col("rk_to"))).as("disp_sum"))
      val years = ranked.groupBy(col("y")).agg(count(lit(1)).as("k"))
      years.select(col("y").as("y_from"), col("k").as("k_from"))
        .join(years.select((col("y") - 1).as("y_from"), col("k").as("k_to")),
          "y_from")
        .join(both, Seq("y_from"), "left")
        .select(col("y_from"), (col("y_from") + 1).as("y_to"),
          coalesce(col("carried"), lit(0L)).as("carried"),
          expr("""(1000 * coalesce(carried, 0))
               div (k_from + k_to - coalesce(carried, 0))""")
            .as("jaccard_milli"),
          expr("""case when coalesce(carried, 0) = 0 then -1
               else (1000 * disp_sum) div carried end""")
            .as("mean_disp_milli"))
        .orderBy("y_from")
    },
    Some("""WITH ey AS MATERIALIZED (
              SELECT DISTINCT
                CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS y,
                a.l_partkey AS pa, b.l_partkey AS pb
              FROM lineitem a
              JOIN lineitem b ON a.l_orderkey = b.l_orderkey
              JOIN orders o ON o.o_orderkey = a.l_orderkey
              WHERE a.l_partkey < b.l_partkey),
            deg AS (
              SELECT y, node, CAST(COUNT(*) AS BIGINT) AS deg
              FROM (SELECT y, pa AS node FROM ey
                    UNION ALL SELECT y, pb FROM ey)
              GROUP BY 1, 2),
            ranked AS (
              SELECT y, node,
                CAST(ROW_NUMBER() OVER (PARTITION BY y
                  ORDER BY deg DESC, node) AS BIGINT) AS rk
              FROM deg QUALIFY rk <= 32),
            carry AS (
              SELECT a.y AS y_from, CAST(COUNT(*) AS BIGINT) AS carried,
                CAST(SUM(abs(a.rk - b.rk)) AS BIGINT) AS disp_sum
              FROM ranked a JOIN ranked b
                ON b.y = a.y + 1 AND b.node = a.node
              GROUP BY 1),
            yrs AS (
              SELECT y, CAST(COUNT(*) AS BIGINT) AS k
              FROM ranked GROUP BY 1)
            SELECT y1.y AS y_from, y1.y + 1 AS y_to,
              COALESCE(b.carried, 0) AS carried,
              (1000 * COALESCE(b.carried, 0))
                // (y1.k + y2.k - COALESCE(b.carried, 0)) AS jaccard_milli,
              CASE WHEN COALESCE(b.carried, 0) = 0 THEN -1
                ELSE (1000 * b.disp_sum) // b.carried END AS mean_disp_milli
            FROM yrs y1
            JOIN yrs y2 ON y2.y = y1.y + 1
            LEFT JOIN carry b ON b.y_from = y1.y
            ORDER BY y_from"""))

  // ------------------------------------------------------------------- x272
  // Item-item recommendation serving (Sarwar et al. 2001 / Linden et al.
  // 2003 item-to-item CF) — the read the co-purchase graph exists FOR:
  // each part's top-3 "customers also bought" neighbors, ranked by
  // squared-cosine affinity sim²·10⁶ = 10⁶·w² div (supp_i·supp_j) over
  // order support. Squaring clears the √(supp·supp) denominator, so the
  // ranking metric is an exact integer — rank-equivalent to cosine
  // (both sides positive), the x253 structural-argmax discipline.
  // Served entirely from STORED artifacts (weighted edges + support):
  // the recommender never touches the fact table at query time.
  //
  // Scale shape: symmetrize the edge artifact, one node-keyed support
  // join each side (support is node-sized — broadcastable at dim scale),
  // one PARTITIONED top-3 window on the same item keying. No fact scan,
  // no cartesian: fan-out is the co-purchase adjacency itself.
  private[queries] def storedSupport(s: SparkSession, dir: String): DataFrame = {
    val store = graft.StoredArtifacts.dir(dir, "copurchase_support_v1")
    if (!graft.StoredArtifacts.ready(store))
      lineitem(s, dir).groupBy(col("l_partkey").as("node"))
        .agg(countDistinct(col("l_orderkey")).as("supp"))
        .write.mode("overwrite").parquet(store)
    s.read.parquet(store)
  }

  private val x272 = GQuery(
    "x272_item_item_recs", "ext-graph recommendation item-item-cf",
    (s, dir) => {
      val we = storedWeightedEdges(s, dir)
      val sym = we.select(col("pa").as("item"), col("pb").as("nb"), col("w"))
        .unionAll(we.select(col("pb").as("item"), col("pa").as("nb"), col("w")))
      val supp = storedSupport(s, dir)
      val scored = sym
        .join(broadcast(supp.select(col("node").as("item"),
          col("supp").as("supp_i"))), "item")
        .join(broadcast(supp.select(col("node").as("nb"),
          col("supp").as("supp_j"))), "nb")
        .withColumn("sim_micro",
          expr("(1000000 * w * w) div (supp_i * supp_j)"))
      val rank = Window.partitionBy("item")
        .orderBy(col("sim_micro").desc, col("nb"))
      scored.withColumn("rn", row_number().over(rank).cast("long"))
        .where(col("rn") <= 3)
        .select(col("item"), col("rn"), col("nb"), col("w"), col("sim_micro"))
        .orderBy("item", "rn")
    },
    Some("""WITH pairs AS (
              SELECT a.l_partkey AS pa, b.l_partkey AS pb,
                CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS w
              FROM lineitem a JOIN lineitem b
                ON a.l_orderkey = b.l_orderkey
                AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
            sym AS (
              SELECT pa AS item, pb AS nb, w FROM pairs
              UNION ALL
              SELECT pb AS item, pa AS nb, w FROM pairs),
            supp AS (
              SELECT l_partkey AS node,
                CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS supp
              FROM lineitem GROUP BY 1),
            scored AS (
              SELECT s.item, s.nb, s.w,
                (1000000 * s.w * s.w) // (si.supp * sj.supp) AS sim_micro
              FROM sym s
              JOIN supp si ON si.node = s.item
              JOIN supp sj ON sj.node = s.nb),
            ranked AS (
              SELECT item, nb, w, sim_micro,
                CAST(ROW_NUMBER() OVER (PARTITION BY item
                  ORDER BY sim_micro DESC, nb) AS BIGINT) AS rn
              FROM scored)
            SELECT item, rn, nb, w, sim_micro
            FROM ranked WHERE rn <= 3 ORDER BY item, rn"""))

  val queries: Seq[GQuery] =
    Seq(x123, x124, x126, x129, x130, x131, x133, x139, x168, x215, x217,
      x238, x242, x243, x254, x255, x256, x272)
}
