package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.MisraGries
import org.apache.spark.sql.functions._

/** The Misra–Gries guarantee, one-shot and maintained: for capacity k
  * over n items, every token with true frequency > n/(k+1) is present
  * and every estimate sits in [true − n/(k+1), true]. The maintained
  * (multi-batch merged) summary must keep the SAME bound — that is the
  * mergeable-summaries theorem the incremental artifact rests on — and
  * a replayed batch must be a no-op (manifest idempotence; MG addition
  * is not replay-safe by algebra, so the protocol must carry it), and a
  * fresh-checkpoint restart must fail loudly.
  */
class FreqMaintainSpec extends SparkSpec {

  private val K = 16

  private def exactCounts: Map[String, Long] =
    Tables(spark, sf001, "documents")
      .select(explode(split(col("text"), " ")).as("t"))
      .groupBy("t").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def assertGuarantee(summary: Map[String, Long],
      exact: Map[String, Long], n: Long): Unit = {
    val bound = n / (K + 1)
    exact.foreach { case (tok, c) =>
      if (c > bound)
        assert(summary.contains(tok),
          s"'$tok' (true $c > bound $bound) missing from the summary")
    }
    summary.foreach { case (tok, est) =>
      val truth = exact.getOrElse(tok, 0L)
      assert(est <= truth, s"'$tok': estimate $est above truth $truth")
      assert(truth - est <= bound,
        s"'$tok': estimate $est more than $bound below truth $truth")
    }
  }

  test("one-shot summary keeps the n/(k+1) guarantee and k bound") {
    val s = MisraGries.summarize(
      Tables(spark, sf001, "documents")
        .select(explode(split(col("text"), " ")).as("token")),
      "token", K).collect()
    assert(s.length <= K, s"capacity violated: ${s.length} > $K")
    val exact = exactCounts
    val n = exact.values.sum
    assert(s.map(_.getLong(2)).distinct.toSeq == Seq(n),
      "every row must carry the exact total")
    assertGuarantee(s.map(r => r.getString(0) -> r.getLong(1)).toMap, exact, n)
  }

  test("maintained summary keeps the guarantee across batches; replay is a no-op") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mg").toString
    val d = Tables(spark, sf001, "documents").select("doc_id", "text")
    // three deterministic batches covering the corpus exactly once
    val batches = (0 until 3).map(i =>
      d.where(pmod(col("doc_id"), lit(3)) === i))
    // capacity must come from the stream's own constant: re-summarize
    // through maintain() at FreqMaintainStream.Capacity, then check the
    // bound at that k
    batches.zipWithIndex.foreach { case (b, i) =>
      FreqMaintainStream.maintain(spark, b, dir, i.toLong)
    }
    val k = FreqMaintainStream.Capacity
    val got = FreqMaintainStream.heavyHitters(spark, dir).collect()
    assert(got.length <= k)
    val exact = exactCounts
    val n = exact.values.sum
    assert(got.head.getLong(2) == n, "merged total must be the corpus total")
    val bound = n / (k + 1)
    val est = got.map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (tok, c) =>
      if (c > bound) assert(est.contains(tok), s"'$tok' missing (true $c)")
    }
    est.foreach { case (tok, e) =>
      val truth = exact.getOrElse(tok, 0L)
      assert(e <= truth && truth - e <= bound, s"'$tok': $e vs $truth")
    }
    // replayed last batch: the generation is already live -> no fold
    FreqMaintainStream.maintain(spark, batches.last, dir, 2L)
    val again = FreqMaintainStream.heavyHitters(spark, dir).collect()
    assert(again.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
      "replaying a folded batch must not change the summary")
    // fresh-checkpoint restart: the artifact dir outlives its streaming
    // checkpoint and batchId restarts at 0. Re-folding would double every
    // count and skipping would drop events that arrived after the last
    // fold, so the fold must fail loudly and leave the summary intact
    val ex = intercept[IllegalArgumentException] {
      FreqMaintainStream.maintain(spark, batches.head, dir, 0L)
    }
    assert(ex.getMessage.contains("fresh-checkpoint restart"))
    val afterRestart = FreqMaintainStream.heavyHitters(spark, dir).collect()
    assert(afterRestart.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq ==
      got.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq,
      "a failed fold must leave the live summary intact")
  }

  test("an all-ties compress still carries the total n") {
    // 65 singleton tokens at k=64: the subtract-the-65th rule zeroes
    // every estimate — the summary must still carry n on its rank-1
    // survivor (the round-10 review finding: an empty summary lost n and
    // every later merge under-stated the n/(k+1) bound)
    import spark.implicits._
    val batch1 = (1 to 65).map(i => s"tok$i").toDF("token")
    val s1 = MisraGries.summarize(batch1, "token", 64)
    val rows1 = s1.collect()
    assert(rows1.nonEmpty, "the n-carrier row must survive an all-ties compress")
    assert(rows1.map(_.getLong(2)).max == 65L)
    val s2 = MisraGries.summarize(Seq("a", "a", "b").toDF("token"), "token", 64)
    val m = MisraGries.merge(s1, s2, 64).collect()
    assert(m.map(_.getLong(2)).max == 68L,
      s"merged total must be 65 + 3: ${m.toSeq}")
  }

  test("x283 one-shot summary equals the registry row (shared code)") {
    val viaRegistry = graft.SparkEntry
      .queries("x283_frequent_tokens_mg")(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val direct = MisraGries.summarize(
      Tables(spark, sf001, "documents")
        .select(explode(split(col("text"), " ")).as("token")),
      "token", 64)
      .orderBy(col("cnt").desc, col("item")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(viaRegistry.toSeq == direct.toSeq)
  }
}
