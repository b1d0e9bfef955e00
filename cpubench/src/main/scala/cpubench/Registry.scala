package cpubench

import scala.collection.mutable
import scala.util.Random
import graft.SparkEntry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The registry workload: the SimHash exact / threshold-eval /
  * tier-agreement family of `SparkEntry.queries` (hash kernels, `Par`
  * fan-out, candidate and verify joins, `localCheckpoint`) over generated
  * tables. Each round runs every row once, in an order drawn from the seed.
  * Every rep computes an order-insensitive checksum of the row's whole
  * result, so every output column is computed and checked. Set-up runs
  * `WarmRounds` rounds; the timed part runs one round per `RoundSeconds`
  * of the run's `--seconds`.
  */
object Registry {
  val Rows: Seq[String] = Seq("x333", "x348", "x356")
  val WarmRounds = 1
  /** Wall time of a timed round on a 4-vCPU host. */
  val RoundSeconds = 12.0

  def fullName(id: String): String =
    SparkEntry.queries.keys.find(_.split("_")(0) == id)
      .getOrElse(sys.error(s"no registry row $id"))

  /** Doubles rendered to 6 significant digits, so the checksum does not
    * depend on the summation order of floating-point aggregates.
    */
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType | _: DecimalType =>
      format_string("%.6g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(e, _) => transform(c, x => normalize(x, e))
    case StructType(fs) =>
      if (fs.isEmpty) c
      else struct(fs.toSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*)
    case _: MapType => c.cast(StringType)
    case _ => c
  }

  /** One-row frame: (rows, xor of row hashes, sum of row hashes mod 2^31-1). */
  def checksumFrame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.toSeq.map(f =>
      normalize(col(s"`${f.name}`"), f.dataType)): _*)
    df.select(h.as("h")).agg(count(lit(1)), bit_xor(col("h")), sum(pmod(col("h"), lit(2147483647L))))
  }

  def render(r: org.apache.spark.sql.Row): String =
    s"${r.getLong(0)}:${Option(r.get(1)).getOrElse(0L)}:${Option(r.get(2)).getOrElse(0L)}"

  /** Every physical node, through AQE and query-stage wrappers. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val nested = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _ => Nil
    }
    p +: (p.children ++ nested ++ p.subqueries).flatMap(planNodes)
  }

  /** Per-layer sums over the timed rounds of a traced run. */
  private final class Acc {
    val cpu, wall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var buildJobs, exchanges, repartitions = 0L
    var optimizeS, physicalS = 0.0
    var storageB, rddBlocks = 0L
  }

  def run(ctx: Ctx): Unit = {
    val names = Rows.map(id => id -> fullName(id))
    val rounds = ctx.units(RoundSeconds)
    val dir = ctx.freshDir("tables").toString
    ctx.step("tables")(Gen.tables(ctx.spark, dir))
    val results = mutable.Map.empty[String, String]

    /** One rep: build the row's DataFrame, collect its checksum, check it.
      * With `acc`, also account its plan, jobs and storage.
      */
    def rep(id: String, name: String, parent: Int, acc: Option[Acc]): Unit = {
      val outcome = try {
        val (b0, n0) = (System.currentTimeMillis(), System.nanoTime())
        val df = SparkEntry.queries(name)(ctx.spark, dir)
        val (b1, n1) = (System.currentTimeMillis(), System.nanoTime())
        val agg = checksumFrame(df)
        val got = render(agg.collect().head)
        acc.foreach { a =>
          ctx.spans.add(parent, "build", n0, n1)
          ctx.spans.add(parent, "action", n1, System.nanoTime())
          JobListener.drain(ctx.spark)
          a.buildJobs += ctx.listener.get.jobsBetween(b0, b1).size
          val phases = agg.queryExecution.tracker.phases
          a.optimizeS += phases.get("optimization").map(_.durationMs / 1000.0).getOrElse(0.0)
          a.physicalS += phases.get("planning").map(_.durationMs / 1000.0).getOrElse(0.0)
          val shuffles = planNodes(agg.queryExecution.executedPlan).collect {
            case e: ShuffleExchangeExec => e
          }
          a.exchanges += shuffles.size
          a.repartitions += shuffles.count(_.shuffleOrigin != ENSURE_REQUIREMENTS)
          val info = ctx.spark.sparkContext.getRDDStorageInfo
          a.storageB = math.max(a.storageB, info.map(i => i.memSize + i.diskSize).sum)
          a.rddBlocks = math.max(a.rddBlocks, info.map(_.numCachedPartitions.toLong).sum)
        }
        Right(got)
      } catch { case scala.util.control.NonFatal(e) => Left(e) }
      ctx.tally.record(outcome match {
        case Left(e) => Seq(s"$id threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(got) =>
          results(id) = got
          Tally.expect(s"$id checksum", got, Pinned.checksums.getOrElse(id, "unpinned"))
      })
    }

    // The first rep of a row runs several times slower than later ones
    // (class loading, code generation, JIT, x356's stored-cluster build);
    // set-up runs the warm-up rounds.
    val rnd = new Random(ctx.seed)
    (0 until WarmRounds).foreach(i => ctx.step(s"warm$i")(
      rnd.shuffle(names).foreach { case (id, n) => rep(id, n, 0, None) }))
    ctx.setupDone()

    val acc = if (ctx.trace) Some(new Acc) else None
    val codegen0 = Codegen.now()
    val m0 = System.currentTimeMillis()
    ctx.timedPart(rounds) { top =>
      (0 until rounds).foreach { i => ctx.step(s"round$i") {
        val round = ctx.spans.open(top, "round")
        rnd.shuffle(names).foreach { case (id, n) =>
          acc match {
            case None => rep(id, n, round, None)
            case Some(a) =>
              val w0 = System.nanoTime()
              val ((), cpu) = ctx.spans.timed(round, s"queries.$id")(row => rep(id, n, row, acc))
              a.cpu(id) += cpu.totalS
              a.wall(id) += (System.nanoTime() - w0) / 1e9
          }
        }
        ctx.spans.close(round, Double.NaN)
      }}
    }
    val m1 = System.currentTimeMillis()
    results.toSeq.sorted.foreach { case (id, r) => Main.log(s"  $id result $r") }

    acc.foreach { a =>
      val n = rounds.toDouble
      names.foreach { case (id, _) =>
        ctx.layer(s"queries.${id}_cpu_s", a.cpu(id) / n, "s")
        ctx.layer(s"queries.${id}_wall_s", a.wall(id) / n, "s")
      }
      ctx.layer("queries.plan_build_jobs", a.buildJobs / n, "count")
      ctx.layer("plans.exchanges", a.exchanges / n, "count")
      ctx.layer("plans.repartitions", a.repartitions / n, "count")
      ctx.layer("plans.optimize_s", a.optimizeS / n, "s")
      ctx.layer("plans.physical_s", a.physicalS / n, "s")
      ctx.layer("checkpoints.storage_mb_after", a.storageB / 1e6, "MB")
      ctx.layer("checkpoints.rdd_blocks_after", a.rddBlocks.toDouble, "count")
      JobListener.drain(ctx.spark)
      ExecTotals.emit(ctx, ExecTotals.of(ctx.listener.get.jobsBetween(m0, m1)), n)
      Codegen.emit(ctx, codegen0, n)
    }
  }
}
