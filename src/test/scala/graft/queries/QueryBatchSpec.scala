package graft.queries

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The batch probes' shared query-batch check: a batch is collected to the
  * driver, so an empty batch, one above the 10⁴-query serving constant, and
  * a vector whose length differs from the index dim each fail before any
  * probe plan is built. Driven through the public stored-IVF batch probe
  * on an index built as StoredAnnSpec builds one.
  */
class QueryBatchSpec extends SparkSpec {

  test("a batch probe rejects an empty batch, 10001 queries and a wrong-dimension vector") {
    val base = Files.createTempDirectory("graft-qbatch")
    val idx = base.resolve("ivf").toString
    try {
      import spark.implicits._
      val e = Tables(spark, sf001, "embeddings")
      Similarity.writeIvfIndex(e, idx, iters = 2)
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      def probe(queries: DataFrame): DataFrame =
        Similarity.probeStoredIvfBatch(spark, idx, queries, nprobe = 2)

      val empty = intercept[IllegalArgumentException](
        probe(e.where(lit(false)).select(col("vec_id"), col("embedding"))))
      assert(empty.getMessage == "requirement failed: empty query batch")

      val tooMany = intercept[IllegalArgumentException](probe(
        spark.range(10001).select(col("id").as("q_id"),
          array_repeat(lit(0.5), dim).as("qvec"))))
      assert(tooMany.getMessage == "requirement failed: batch of 10001: the query " +
        "batch must stay a driver-sized serving constant (micro-batch larger " +
        "streams into <= 10000-query calls)")

      val wrongDim = intercept[IllegalArgumentException](
        probe(Seq((7L, Array.fill(dim + 1)(0.5))).toDF("q_id", "qvec")))
      assert(wrongDim.getMessage ==
        s"requirement failed: query 7 dim ${dim + 1} != index dim $dim")
    } finally graft.StoredArtifacts.deleteTree(base.toString)
  }
}
