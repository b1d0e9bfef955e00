package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Dev profiling, outside the Smoke/Verify/Bench entry points. Every
  * subcommand runs on Bench's session ([[Bench.session]], with
  * `SPARK_GRAFT_CPUS` / `SPARK_GRAFT_SF_DIR` read as Bench reads them), so a
  * profiled stage or dumped plan is the one the bench executes:
  *
  *   sbt "runMain graft.Profile stages x340_lsh_tuning_curve [more...]"
  *     per-stage breakdown of each query — where each second goes
  *     (executor run/CPU time, input and shuffle bytes, spill, task
  *     counts), the stage view without the UI. Each query runs
  *     twice (warm at Bench's warm-up scale factor, then timed at the
  *     bench's); the timed run's wall time and its stages print.
  *   sbt "runMain graft.Profile plans plans/r15 before x340_lsh_tuning_curve ..."
  *     writes `explain("formatted")` to plans/r15/x340_lsh_tuning_curve_before.txt
  *     etc. — the per-round plan evidence of the optimization rounds (the
  *     plan shape of every query touched, before and after).
  *   sbt "runMain graft.Profile scale [baseDir] [family...]"
  *     the 10× scale probe behind SCALE.md (see [[scale]]); `baseDir`
  *     defaults to the bench's scale factor, the families to [[Families]].
  */
object Profile {

  private val Usage = "usage: Profile stages <query>... | " +
    "plans <outDir> <suffix> <query>... | scale [baseDir] [family]..."

  def main(args: Array[String]): Unit = {
    val (cores, sfDir) = GraftSession.env()
    val command: SparkSession => Unit = args.toList match {
      case "stages" :: names if names.nonEmpty => stages(_, cores, sfDir, names)
      case "plans" :: outDir :: suffix :: names if names.nonEmpty =>
        plans(_, sfDir, outDir, suffix, names)
      case "scale" :: rest => scale(_, rest.headOption.getOrElse(sfDir), rest.drop(1))
      case _ => throw new IllegalArgumentException(Usage)
    }
    val spark = Bench.session(cores)
    try command(spark) finally spark.stop()
  }

  private lazy val queries = SparkEntry.queries

  /** The registry query `name`, or None after saying it is unknown. */
  private def lookup(name: String): Option[(SparkSession, String) => DataFrame] = {
    val fn = queries.get(name)
    if (fn.isEmpty) println(s"unknown query '$name'")
    fn
  }

  private case class StageRow(id: Int, name: String, tasks: Int,
      runMs: Long, cpuMs: Long, shufReadMB: Double, shufWriteMB: Double,
      inputMB: Double, spillMB: Double)

  private def stages(spark: SparkSession, cores: Int, sfDir: String,
      names: Seq[String]): Unit = {
    // listener-bus thread writes, main thread reads: flag volatile, rows
    // guarded by its own monitor (ADVICE r14)
    val rows = ArrayBuffer.empty[StageRow]
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
        if (collecting) {
          val si = ev.stageInfo
          // taskMetrics is null for stages with no successful task
          // (failed/cancelled) — emit a zeroed marker row, don't NPE into
          // the listener bus's swallowed-exception void (ADVICE r14)
          Option(si.taskMetrics) match {
            case Some(tm) => rows.synchronized {
              rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n').take(90),
                si.numTasks, tm.executorRunTime, tm.executorCpuTime / 1000000,
                tm.shuffleReadMetrics.totalBytesRead / 1e6,
                tm.shuffleWriteMetrics.bytesWritten / 1e6,
                tm.inputMetrics.bytesRead / 1e6,
                (tm.memoryBytesSpilled + tm.diskBytesSpilled) / 1e6)
            }
            case None => rows.synchronized {
              rows += StageRow(si.stageId,
                "(metrics unavailable) " + si.name.takeWhile(_ != '\n').take(68),
                si.numTasks, 0L, 0L, 0, 0, 0, 0)
            }
          }
        }
      }
    })
    for (name <- names; fn <- lookup(name)) {
      // a silently failed warm-up would time a cold JIT path — warn
      // (NonFatal only; let OOM etc. propagate) (ADVICE r14)
      try fn(spark, Bench.WarmDir).count() catch {
        case scala.util.control.NonFatal(e) => println(
          s"[profile] warm-up for $name failed: ${e.getClass.getSimpleName}")
      }
      rows.synchronized(rows.clear())
      collecting = true
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val wallS = (System.nanoTime() - t0) / 1e9
      // drain the listener bus via a sentinel no-op job (ADVICE r14):
      // events are delivered in order per queue, so once the sentinel's
      // own stage-completed lands, every stage of the timed query has
      // too (SparkContext.listenerBus is private[spark] — the sentinel
      // is the public-API drain). Bounded poll, then a short settle.
      val preSentinel = rows.synchronized(rows.size)
      spark.sparkContext.parallelize(Seq(1), 1).count()
      var waited = 0
      while (waited < 5000 && rows.synchronized(rows.size) <= preSentinel) {
        Thread.sleep(20); waited += 20
      }
      collecting = false
      // the sentinel's own row is noise — drop it from the report
      val snap = rows.synchronized(rows.toList)
        .filterNot(_.name.contains("Profile.scala"))
      println(f"\n=== $name wall=$wallS%.2f s rows=$n stages=${snap.size}")
      println(f"${"id"}%5s ${"tasks"}%5s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
        f"${"in_MB"}%7s ${"sr_MB"}%7s ${"sw_MB"}%7s ${"spill"}%6s  name")
      snap.sortBy(-_.runMs).take(25).foreach { r =>
        println(f"${r.id}%5d ${r.tasks}%5d ${r.runMs}%8d ${r.cpuMs}%8d " +
          f"${r.inputMB}%7.1f ${r.shufReadMB}%7.1f ${r.shufWriteMB}%7.1f " +
          f"${r.spillMB}%6.1f  ${r.name}")
      }
      val totRun = snap.map(_.runMs).sum
      println(f"sum run_ms=$totRun (over $cores cores => ~${totRun / 1e3 / cores}%.2f s if perfectly parallel)")
    }
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names; fn <- lookup(name)) {
      val txt = try {
        fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      } catch { case e: Throwable => s"explain failed: $e" }
      val path = java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt")
      java.nio.file.Files.write(path, txt.getBytes("UTF-8"))
      println(s"wrote $path")
    }
  }

  /** The probed families: the most expensive operator families at sf0.1. */
  private val Families = Seq(
    "x130_label_propagation", // co-partitioned superstep family
    "x236_allpairs_clusters", // prefix-filter exact near-dup + components
    "x145_containment_join", // shingle-keyed containment join
    "x260_poisson_bootstrap", // deterministic resampling fan-out
    "x80_quality_classifier", // hashed-feature training loop
    // round 12 (r11 verdict task 5): the dedup-eval family took over the
    // top of the bench (3.5-6.4 s at sf0.1) and had only a composition
    // argument — probe the two heaviest directly
    "x340_lsh_tuning_curve", // banded S-curve vs lossless truth tier
    "x366_minhash_pr_eval", // capped bucket pairs + distinct-pair scoring
    // round 14 (r13 verdict task 2b): the candidate-budget curve's τ=0.7
    // arm GROWS the candidate set as the threshold drops — confirm the
    // rarest-first prefix discipline keeps it near-linear at 10×
    "x402_prefix_budget_curve",
    // the Gini pair: per-document sort window (x399, the user-grain form)
    // vs histogram rank-walk (x403, the 100 TB form) — the probe is the
    // measured version of the rewrite's whole argument
    "x399_doc_length_gini",
    "x403_length_gini_hist")

  /** 10× scale probe (the r10 "exercise the 100×-shape claims" task):
    * synthesizes a seed-deterministic 10× fixture from `base` — ten
    * disjoint copies of documents / lineitem / orders with shifted keys and
    * copy-unique token suffixes (so near-dup shingle sets stay DISJOINT
    * across copies: the data grows 10×, not the pairwise duplication
    * structure, which would be a property of the synthetic copies rather
    * than of the operators) — and times each family at 1× and 10×,
    * median-of-3 per point. A family whose ratio lands near 10× scales
    * linearly in rows; anything clearly superlinear is a scale finding.
    * Run it in a single JVM on an idle box (the bench discipline). The 10×
    * fixture is throwaway (java.io.tmpdir), never written beside `base`.
    */
  private def scale(spark: SparkSession, base: String, families: Seq[String]): Unit = {
    val out = s"${sys.props("java.io.tmpdir")}/graft_scale10x"
    build10x(spark, base, out)
    val results = for {
      name <- if (families.nonEmpty) families else Families
      fn <- lookup(name)
    } yield {
      fn(spark, base).count() // JIT/codegen warm + first-touch artifacts
      val t1 = median3(fn(spark, base).count())
      fn(spark, out).count() // first-touch artifact build at 10×
      val t10 = median3(fn(spark, out).count())
      val ratio = if (t1 > 0) math.round(t10 / t1 * 10) / 10.0 else -1.0
      println(f"""{"family":"$name","sec_1x":$t1%.2f,"sec_10x":$t10%.2f,"ratio":$ratio}""")
      s"$name=$ratio"
    }
    println("SCALE_PROBE_DONE " + results.mkString(" "))
  }

  private def copies(df: DataFrame, n: Int, remap: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until n).map(i => remap(df, i)).reduce(_.unionAll(_))

  private def build10x(spark: SparkSession, base: String, out: String): Unit = {
    val n = 10
    val docs = spark.read.parquet(s"$base/documents.parquet")
    // copy-unique token suffix keeps shingle sets disjoint across copies
    copies(docs, n, (d, i) =>
      if (i == 0) d
      else d.select((col("doc_id") + lit(i * 1000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_c$i"))), " ").as("text"),
        col("lang"), col("source"), col("n_chars")))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/documents.parquet")
    val li = spark.read.parquet(s"$base/lineitem.parquet")
    copies(li, n, (d, i) =>
      d.select((col("l_orderkey") + lit(i * 10000000L)).as("l_orderkey"),
        (col("l_partkey") + lit(i * 10000000L)).as("l_partkey"),
        col("l_suppkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_tax"),
        col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/lineitem.parquet")
    val ord = spark.read.parquet(s"$base/orders.parquet")
    copies(ord, n, (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(i * 10000000L)))
      .write.mode(SaveMode.Overwrite).parquet(s"$out/orders.parquet")
  }

  private def median3(f: => Unit): Double = {
    val reps = Seq.fill(3) {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    reps.sorted.apply(1)
  }
}
