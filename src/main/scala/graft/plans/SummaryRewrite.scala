package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, NamedExpression, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Expand, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{DecimalType, TimestampType}

/** Materialized-view rewrite: answer day-grain aggregates over the `events`
  * fact table from a tiny pre-aggregated daily summary instead of the fact
  * scan — the classic OLAP aggregate-navigator / `OPTIMIZE ... MATERIALIZED
  * VIEW` rewrite (Goldstein & Larson, SIGMOD'01 scope: single-table,
  * grain-compatible, algebraic aggregates), expressed as a session-local
  * Catalyst rule on `spark.experimental.extraOptimizations`.
  *
  * At 100 TB the fact table is the cost center: a dashboard's daily rollup
  * re-reads billions of rows to produce a few thousand groups. The summary
  * (day x event_type, one row per group) answers the same query from
  * kilobytes, and because every supported aggregate is algebraic —
  * count = sum(cnt), sum = sum(sum_value), min = min(min_value),
  * max = max(max_value) — any COARSER grouping (day only, type only, global)
  * re-aggregates from the same summary, so one artifact serves the whole
  * rollup lattice above its grain.
  *
  * Soundness over convenience — the rule rewrites ONLY when it can prove
  * bit-identical results, and otherwise leaves the plan untouched:
  *
  *  - the scan must be exactly the registered fact path (a different scale
  *    factor's `events.parquet` does not match its summary);
  *  - groupings must map into {date_trunc('day', ts), event_type} — a
  *    finer grain (hour, user_id) cannot be served and is left alone;
  *  - every aggregate call must be one of the four algebraic shapes above;
  *    `sum` must be the engine's exact decimal(18,2) money sum (a raw
  *    double sum is partition-order-dependent, so "identical results" is
  *    not even well-defined for it — unmatched by design);
  *  - filters may reference the dimension column, or be day-aligned range
  *    predicates on the raw time column (`ts >= <midnight>` / `ts <
  *    <midnight>` map onto the summary's day under floor semantics — the
  *    24 h dashboard filter; a non-aligned bound, a strict `>` /`<=` on a
  *    boundary, or any predicate on the measure disables the rewrite);
  *  - anything left referencing a fact column after mapping aborts the
  *    whole rewrite (one unmappable expression keeps the original plan).
  *
  * Output attribute ids are preserved by re-aliasing each output expression
  * under its original `exprId`, so parent operators above the Aggregate are
  * untouched; the summary relation is instantiated fresh per rewrite
  * ([[LogicalRelation.newInstance]]) so two rewrites in one plan (e.g. a
  * self-join of rollups) cannot collide on attribute ids. The rewrite
  * cannot re-fire on its own output (the summary scan is not the fact
  * path), so the rule is idempotent under the fixed-point batch.
  *
  * Freshness is the caller's contract, as for every stored artifact in this
  * engine ([[graft.StoredArtifacts]] re-keys on fixture change;
  * [[graft.streaming.DashboardStream]] shows the streaming maintenance
  * side). Reference anchor: the five Grafana panels (msconvert.json) are
  * precisely such rollups re-run on refresh — this rule is how the engine
  * serves them without re-scanning the fact table.
  */
final case class SummaryRewrite(
    factPath: String,
    summary: LogicalRelation,
    tsCol: String = "ts",
    dimCol: String = "event_type",
    valCol: String = "value") extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case agg @ Aggregate(_, _, ex: Expand, _) =>
        tryRewriteExpand(agg, ex).getOrElse(agg)
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  // ------------------------------------------------------------------ match
  private def isFactScan(lr: LogicalRelation): Boolean = lr.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.exists(p => p.toUri.getPath == factPath)
    case _ => false
  }

  /** Strip projections and collect filter conditions down to the fact scan.
    *
    * Projections are not only column pruning here: the optimizer's
    * PullOutGroupingExpressions batch (which runs BEFORE user-provided
    * rules) rewrites `groupBy(date_trunc(...))` into an Aggregate over a
    * Project that aliases the grouping expression as `_groupingexpression`.
    * Each deterministic alias is therefore recorded as a substitution
    * (attribute id -> defining expression, composed through stacked
    * projects) so the caller can inline it back before matching; a
    * non-deterministic alias aborts.
    *
    * @return (filter conditions, alias substitution, fact relation)
    */
  private def stripToFact(
      p: LogicalPlan,
      conds: Seq[Expression] = Nil,
      subst: Map[Long, Expression] = Map.empty)
      : Option[(Seq[Expression], Map[Long, Expression], LogicalRelation)] =
    p match {
      case Project(pl, c) if pl.forall {
            case _: AttributeReference => true
            case a: Alias => a.child.deterministic
            case _ => false
          } =>
        val here = pl.collect { case a: Alias => a.exprId.id -> a.child }.toMap
        // Upper substitutions may reference aliases defined in THIS project;
        // inline so every recorded expression is in terms of lower output.
        val composed = subst.view.mapValues(_.transformUp {
          case ar: AttributeReference if here.contains(ar.exprId.id) =>
            here(ar.exprId.id)
        }).toMap
        stripToFact(c, conds, composed ++ here)
      case Filter(cond, c) => stripToFact(c, conds :+ cond, subst)
      case lr: LogicalRelation if isFactScan(lr) => Some((conds, subst, lr))
      case _ => None
    }

  private def attrOf(out: Seq[AttributeReference], name: String): Option[AttributeReference] =
    out.find(_.name == name)

  /** What both rewrites bind first: the filter conditions above the fact
    * scan, its ts/dim/value attributes, and a fresh summary instance with
    * its six columns. `inline` applies the alias substitutions
    * (PullOutGroupingExpressions / withColumn aliases) so the rewrites
    * match shapes against fact-table expressions.
    */
  private final class Bound(val rawConds: Seq[Expression], subst: Map[Long, Expression],
      val tsA: AttributeReference, val etA: AttributeReference, val vA: AttributeReference,
      val inst: LogicalRelation, val sDay: AttributeReference, val sEt: AttributeReference,
      val sCnt: AttributeReference, val sSum: AttributeReference,
      val sMin: AttributeReference, val sMax: AttributeReference) {
    def inline(e: Expression): Expression = e.transformUp {
      case ar: AttributeReference if subst.contains(ar.exprId.id) =>
        subst(ar.exprId.id)
    }
  }

  private def bind(child: LogicalPlan): Option[Bound] =
    for {
      (rawConds, subst, fact) <- stripToFact(child)
      tsA <- attrOf(fact.output, tsCol)
      etA <- attrOf(fact.output, dimCol)
      vA <- attrOf(fact.output, valCol)
      inst = summary.newInstance()
      sDay <- attrOf(inst.output, "day")
      sEt <- attrOf(inst.output, dimCol)
      sCnt <- attrOf(inst.output, "cnt")
      sSum <- attrOf(inst.output, "sum_value")
      sMin <- attrOf(inst.output, "min_value")
      sMax <- attrOf(inst.output, "max_value")
    } yield new Bound(rawConds, subst, tsA, etA, vA, inst, sDay, sEt, sCnt, sSum, sMin, sMax)

  private def isDayTrunc(fmt: Expression): Boolean =
    fmt.foldable && Option(fmt.eval()).exists(_.toString.equalsIgnoreCase("day"))

  private val money = DecimalType(18, 2)

  /** Literal timestamp on an exact UTC day boundary (sessions pin UTC). */
  private def dayAligned(l: Literal): Boolean = l match {
    case Literal(micros: Long, TimestampType) => micros % 86400000000L == 0
    case _ => false
  }

  /** Day-aligned raw-ts range predicates map onto the summary's day
    * column: for midnight M, `ts >= M ⟺ day(ts) >= M` and
    * `ts < M ⟺ day(ts) < M` (floor semantics) — the 24 h / date-range
    * dashboard filters. Strict `>` and `<=` on a boundary are NOT
    * equivalent under the floor (ts > M excludes the instant M but keeps
    * its day) and stay unmatched, keeping the fact scan.
    */
  private def tsRangeRemap(tsA: AttributeReference, sDay: AttributeReference)
      : PartialFunction[Expression, Expression] = {
    case GreaterThanOrEqual(t: AttributeReference, l: Literal)
        if t.semanticEquals(tsA) && dayAligned(l) => GreaterThanOrEqual(sDay, l)
    case LessThan(t: AttributeReference, l: Literal)
        if t.semanticEquals(tsA) && dayAligned(l) => LessThan(sDay, l)
    case LessThanOrEqual(l: Literal, t: AttributeReference)
        if t.semanticEquals(tsA) && dayAligned(l) => LessThanOrEqual(l, sDay)
    case GreaterThan(l: Literal, t: AttributeReference)
        if t.semanticEquals(tsA) && dayAligned(l) => GreaterThan(l, sDay)
    // the optimizer infers isnotnull(ts) next to any ts range; day(ts) is
    // null exactly when ts is, so the null filter maps 1:1
    case org.apache.spark.sql.catalyst.expressions.IsNotNull(t: AttributeReference)
        if t.semanticEquals(tsA) =>
      org.apache.spark.sql.catalyst.expressions.IsNotNull(sDay)
  }

  // ------------------------------------------------------- rewrite (Expand)
  /** ROLLUP / CUBE / GROUPING SETS plan as Aggregate-over-Expand: serve the
    * whole grouping-set lattice from the summary in ONE rewrite. Expand is
    * linear row replication, so replicating SUMMARY rows per grouping set
    * and re-aggregating with the algebraic substitutes (count→sum(cnt),
    * money-sum→sum(sum_value), min/max fold) is exactly the rollup over
    * facts — each set's groups partition the summary rows they cover.
    *
    * Mechanics: every Expand output position is classified as either a
    * GROUPING position (all of its per-set expressions remap into summary
    * attributes / literals — the nulled copies and the grouping id) or a
    * VALUE position (every set projects the same fact measure column);
    * value positions die (null literal — their only consumers were the
    * aggregate calls being rewritten, which the reference check proves),
    * and the four summary measure columns are appended pass-through to
    * every projection row for the rewritten aggregates to consume.
    *
    * Known edge shared with the flat path: over an EMPTY fact table the
    * global grouping set's count comes back null (sum over no rows) where
    * the direct plan says 0 — the rule assumes a non-empty summary, which
    * the builder guarantees for any non-empty fact partition.
    */
  private def tryRewriteExpand(agg: Aggregate, ex: Expand): Option[LogicalPlan] = {
    for {
      b <- bind(ex.child)
      rewritten <- {
        import b._
        val remap: PartialFunction[Expression, Expression] = {
          case TruncTimestamp(fmt, t: AttributeReference, _)
              if isDayTrunc(fmt) && t.semanticEquals(tsA) => sDay
          case a: AttributeReference if a.semanticEquals(etA) => sEt
        }
        val nPos = ex.output.length
        val perPos = (0 until nPos).map(i => ex.projections.map(row => inline(row(i))))

        val valuePositions = (0 until nPos).filter(i =>
          perPos(i).forall(_.semanticEquals(vA))).toSet
        val newGroupCols = (0 until nPos).map { i =>
          if (valuePositions.contains(i))
            perPos(i).map(_ => Literal.create(null, ex.output(i).dataType))
          else perPos(i).map(_.transformDown(remap))
        }
        val groupOk = (0 until nPos).forall(i =>
          newGroupCols(i).forall(_.references.subsetOf(inst.outputSet)))

        val valueAttrIds = valuePositions.map(i => ex.output(i).exprId)
        def isValueOut(a: AttributeReference): Boolean = valueAttrIds.contains(a.exprId)

        def supported(ae: AggregateExpression): Boolean = ae match {
          case AggregateExpression(f, Complete, false, None, _) => f match {
            case Count(Seq(l: Literal)) => l.value != null
            case Sum(Cast(a: AttributeReference, dt, _, _), _) =>
              isValueOut(a) && dt == money
            case Min(a: AttributeReference) => isValueOut(a)
            case Max(a: AttributeReference) => isValueOut(a)
            case _ => false
          }
          case _ => false
        }
        val aggsOk = agg.aggregateExpressions.forall(
          _.collect { case ae: AggregateExpression => ae }.forall(supported))

        val remapAgg: PartialFunction[Expression, Expression] = {
          case ae @ AggregateExpression(f, Complete, false, None, _) =>
            val nf = f match {
              case Count(Seq(_: Literal)) => Sum(sCnt)
              case Sum(Cast(a: AttributeReference, dt, _, _), _)
                  if isValueOut(a) && dt == money => Sum(sSum)
              case Min(a: AttributeReference) if isValueOut(a) => Min(sMin)
              case Max(a: AttributeReference) if isValueOut(a) => Max(sMax)
              case other => other
            }
            if (nf eq f) ae else ae.copy(aggregateFunction = nf)
        }
        val newAggs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
          ne.transformDown(remapAgg) match {
            case a: Alias => a
            case ar: AttributeReference if ar.exprId == ne.exprId => ar
            case other => Alias(other, ne.name)(ne.exprId)
          }
        }
        val newConds = rawConds.map(c =>
          inline(c).transformDown(tsRangeRemap(tsA, sDay).orElse(remap)))

        val newOutput = ex.output ++ Seq(sCnt, sSum, sMin, sMax)
        val passThrough: Seq[Expression] = Seq(sCnt, sSum, sMin, sMax)
        val newProjections = ex.projections.indices.map { r =>
          (0 until nPos).map(i => newGroupCols(i)(r)) ++ passThrough
        }

        val outSet = org.apache.spark.sql.catalyst.expressions.AttributeSet(newOutput)
        val mapped = groupOk && aggsOk &&
          agg.groupingExpressions.forall(_.references.subsetOf(outSet)) &&
          newAggs.forall(_.references.subsetOf(outSet)) &&
          newConds.forall(c => c.deterministic && c.references.subsetOf(inst.outputSet))

        if (!mapped) None
        else {
          val base = newConds.foldLeft(inst: LogicalPlan)((p, c) => Filter(c, p))
          val newExpand = Expand(newProjections, newOutput, base)
          Some(Aggregate(agg.groupingExpressions, newAggs, newExpand, None))
        }
      }
    } yield rewritten
  }

  // ---------------------------------------------------------------- rewrite
  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      b <- bind(agg.child)
      rewritten <- {
        import b._
        val groupings = agg.groupingExpressions.map(inline)
        val aggExprs = agg.aggregateExpressions.map(ne => inline(ne) match {
          case n: NamedExpression => n
          case other => Alias(other, ne.name)(ne.exprId)
        })
        val conds = rawConds.map(inline)

        // Every aggregate call in the output must be one of the four
        // algebraic shapes — checked up front because the top-down
        // transform below cannot veto a subtree it has already entered.
        def supported(ae: AggregateExpression): Boolean = ae match {
          case AggregateExpression(f, Complete, false, None, _) => f match {
            case Count(Seq(l: Literal)) => l.value != null
            case Sum(Cast(a: AttributeReference, dt, _, _), _) =>
              a.semanticEquals(vA) && dt == money
            case Min(a: AttributeReference) => a.semanticEquals(vA)
            case Max(a: AttributeReference) => a.semanticEquals(vA)
            case _ => false
          }
          case _ => false
        }
        val aggsOk = aggExprs.forall(
          _.collect { case ae: AggregateExpression => ae }.forall(supported))

        // Top-down: a supported AggregateExpression is replaced wholesale
        // (its new child references only summary attributes, so recursion
        // finds nothing further); grouping-compatible scalars map 1:1.
        val remap: PartialFunction[Expression, Expression] = {
          case ae @ AggregateExpression(f, Complete, false, None, _) =>
            val nf = f match {
              case Count(Seq(_: Literal)) => Sum(sCnt)
              case Sum(Cast(a: AttributeReference, dt, _, _), _)
                  if a.semanticEquals(vA) && dt == money => Sum(sSum)
              case Min(a: AttributeReference) if a.semanticEquals(vA) => Min(sMin)
              case Max(a: AttributeReference) if a.semanticEquals(vA) => Max(sMax)
              case other => other
            }
            if (nf eq f) ae else ae.copy(aggregateFunction = nf)
          case TruncTimestamp(fmt, t: AttributeReference, _)
              if isDayTrunc(fmt) && t.semanticEquals(tsA) => sDay
          case a: AttributeReference if a.semanticEquals(etA) => sEt
        }

        val newGroup = groupings.map(_.transformDown(remap))
        val newAggs: Seq[NamedExpression] = aggExprs.map { ne =>
          ne.transformDown(remap) match {
            case a: Alias => a // transform preserves the alias exprId
            case ar: AttributeReference if ar.exprId == ne.exprId => ar
            case other => Alias(other, ne.name)(ne.exprId)
          }
        }
        val newConds = conds.map(
          _.transformDown(tsRangeRemap(tsA, sDay).orElse(remap)))

        val outputSet = inst.outputSet
        val mapped = aggsOk &&
          newGroup.forall(_.references.subsetOf(outputSet)) &&
          newAggs.forall(_.references.subsetOf(outputSet)) &&
          newConds.forall(c => c.deterministic && c.references.subsetOf(outputSet))

        if (!mapped) None
        else {
          val child = newConds.foldLeft(inst: LogicalPlan)((p, c) => Filter(c, p))
          Some(Aggregate(newGroup, newAggs, child, None))
        }
      }
    } yield rewritten
  }
}

object SummaryRewrite {

  /** Install (or refresh) the rewrite for `factPath` -> summary at `mvPath`
    * on this session's experimental optimizer hook. Replaces any prior
    * SummaryRewrite FOR THE SAME fact table — a rebuilt summary or a new
    * generation never leaves a stale rule behind — while rules for other
    * fact tables stay installed (one summary per fact, many facts per
    * session; each rule's exact-path guard keeps them disjoint).
    *
    * The rule is generic over the fact's (time, dimension, measure)
    * column names — events is `(ts, event_type, value)`, lineitem's
    * revenue summary `(l_shipdate, l_returnflag, l_extendedprice)`; the
    * summary's own measure columns are always the canonical
    * day/cnt/sum_value/min_value/max_value (+ the fact's dim name).
    */
  def install(spark: SparkSession, factPath: String, mvPath: String,
      tsCol: String = "ts", dimCol: String = "event_type",
      valCol: String = "value"): Unit = {
    val rel = spark.read.parquet(mvPath).queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }
      .getOrElse(sys.error(s"summary at $mvPath did not plan as a file scan"))
    val norm = new org.apache.hadoop.fs.Path(factPath).toUri.getPath
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot {
        case r: SummaryRewrite => r.factPath == norm
        case _ => false
      } :+ SummaryRewrite(norm, rel, tsCol, dimCol, valCol)
  }

  /** Remove the rewrite (spec hygiene; serving sessions keep it). */
  def uninstall(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[SummaryRewrite])
}
