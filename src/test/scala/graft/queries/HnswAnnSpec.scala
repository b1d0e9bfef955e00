package graft.queries

import graft.SparkSpec
import graft.operators.CentroidIndex.Hnsw
import org.apache.spark.sql.functions._

/** Sharded full-vector HNSW tier (x127/x128): recall vs exact search,
  * score bit-identity (the graph bounds WHICH ids get scored, never how),
  * restore≡built search identity, shard coverage, determinism.
  */
class HnswAnnSpec extends SparkSpec {

  private lazy val store = {
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw").toString
    HnswAnn.writeHnswIndex(graft.Tables(spark, sf001, "embeddings"), dir, shards = 4)
    dir
  }

  private lazy val corpus: Map[Long, Array[Double]] =
    graft.Tables(spark, sf001, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var da = 0.0; var db = 0.0; var d = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); da += a(i) * a(i); db += b(i) * b(i); i += 1 }
    d / (math.sqrt(da) * math.sqrt(db))
  }

  private def queriesDf(ids: Seq[Long]) = {
    import spark.implicits._
    ids.map(id => (id, corpus(id))).toDF("q_id", "qvec")
  }

  test("index shards cover every vector exactly once") {
    val rows = spark.read.parquet(s"$store/graph")
      .select("shard", "vec_id").collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    assert(rows.map(_._2).sorted.toSeq == corpus.keys.toSeq.sorted)
    assert(rows.map(_._1).distinct.sorted.toSeq == Seq(0, 1, 2, 3))
    rows.foreach { case (s, v) => assert(s == (v % 4).toInt) }
  }

  test("probe returns exact cosine scores for every returned id") {
    val got = HnswAnn.probeHnsw(spark, store, queriesDf(Seq(0L, 7L, 13L)),
      k = 10, ef = 64).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (q, v, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(sim == cosine(corpus(q), corpus(v)),
        s"score for ($q,$v) must be the exact cosine")
    }
  }

  test("recall >= 0.9 vs exact top-10 over the query batch") {
    val qs = (0L until 8L).toSeq
    val got = HnswAnn.probeHnsw(spark, store, queriesDf(qs), k = 11, ef = 64)
      .where(col("q_id") =!= col("vec_id")).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (-r.getDouble(2), r.getLong(1))).take(10)
          .map(_.getLong(1)).toSet
      }
    val recalls = qs.map { q =>
      val exact = corpus.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(corpus(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
      (got(q) & exact).size.toDouble / exact.size
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.9, s"mean recall $mean, per-query $recalls")
  }

  test("restored graph searches bit-identically to the freshly built one") {
    // shard 2's vectors, built directly in memory vs read back from parquet
    val ids = corpus.keys.toSeq.filter(_ % 4 == 2).sorted
    val vecs = ids.map(corpus).toArray
    val built = Hnsw.build(vecs)
    val restored = Hnsw.restore(vecs, built.exportNeighbors,
      built.entryPoint, built.topLevel)
    for (q <- Seq(1L, 5L, 42L)) {
      val qv = corpus(q)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      assert(built.searchTop(qv, qn, 10, 64).toSeq ==
        restored.searchTop(qv, qn, 10, 64).toSeq)
    }
    // and the through-parquet probe agrees with the in-memory shard search
    val viaParquet = HnswAnn.probeHnsw(spark, store, queriesDf(Seq(2L)),
      k = 5, ef = 64).collect()
      .filter(r => r.getLong(1) % 4 == 2)
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    val qv = corpus(2L)
    val qn = math.sqrt(qv.map(x => x * x).sum)
    val inMem = built.searchTop(qv, qn, 5, 64)
      .map { case (lid, sim) => (ids(lid), sim) }.toSeq
    // parquet path keeps global top-5; in-shard hits must appear with the
    // same scores and relative order
    assert(viaParquet == inMem.filter(p => viaParquet.map(_._1).contains(p._1)))
  }

  test("probe is deterministic across runs") {
    val q = queriesDf(Seq(3L, 9L))
    val a = HnswAnn.probeHnsw(spark, store, q, k = 8, ef = 64).collect().toSeq
    val b = HnswAnn.probeHnsw(spark, store, q, k = 8, ef = 64).collect().toSeq
    assert(a == b)
  }

  test("x132 incremental append: delta serves immediately, base untouched, idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw-inc").toString
    val segs = Seq("graph", "seg_odd")
    val e = graft.Tables(spark, sf001, "embeddings")
    HnswAnn.writeHnswIndex(e.where(pmod(col("vec_id"), lit(2L)) === 0), dir, shards = 2)
    val baseFiles = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/graph"))
        .iterator().asScala.map(p =>
          p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
        .toMap
    }
    HnswAnn.appendHnswSegment(e.where(pmod(col("vec_id"), lit(2L)) === 1), dir,
      "odd", shards = 2)
    // base segment files are byte-for-byte untouched by the append
    import scala.jdk.CollectionConverters._
    val afterFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/graph"))
      .iterator().asScala.map(p =>
        p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis)
      .toMap
    assert(afterFiles == baseFiles, "append must never reopen the base segment")
    // every id serves: an odd (delta) query finds itself at sim ~ 1
    val q = Seq((1L, corpus(1L)), (2L, corpus(2L))).toDF("q_id", "qvec")
    val hits = HnswAnn.probeHnsw(spark, dir, q, k = 5, ef = 64, segs).collect()
      .groupBy(_.getLong(0))
    for (id <- Seq(1L, 2L)) {
      val self = hits(id).find(_.getLong(1) == id)
      assert(self.isDefined && self.get.getDouble(2) > 0.999999,
        s"query $id must find itself through its segment")
    }
    // union coverage: segments partition the corpus
    val ids = segs.flatMap(seg =>
      spark.read.parquet(s"$dir/$seg").select("vec_id").collect().map(_.getLong(0)))
    assert(ids.sorted == corpus.keys.toSeq.sorted)
    // idempotent re-delivery: re-appending the same batch changes nothing
    val before = HnswAnn.probeHnsw(spark, dir, q, k = 5, ef = 64, segs).collect().toSeq
    HnswAnn.appendHnswSegment(e.where(pmod(col("vec_id"), lit(2L)) === 1), dir,
      "odd", shards = 2)
    val after = HnswAnn.probeHnsw(spark, dir, q, k = 5, ef = 64, segs).collect().toSeq
    assert(before == after)
  }

  test("compaction folds deltas into one base; rebuild is deterministic") {
    import spark.implicits._
    import graft.streaming.HnswIngestStream
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw-cmp").toString
    val e = graft.Tables(spark, sf001, "embeddings")
    // two stream batches: the even ids bootstrap base_0, the odd ids land
    // as batch_1
    HnswIngestStream.ingestBatch(e.where(pmod(col("vec_id"), lit(2L)) === 0),
      dir, 0L, shards = 4, maxSegments = 4)
    HnswIngestStream.ingestBatch(e.where(pmod(col("vec_id"), lit(2L)) === 1),
      dir, 1L, shards = 4, maxSegments = 4)
    def compact(): Unit = HnswIngestStream.compactionSteps(spark, dir, shards = 4)
      .foreach { case (_, step) => step() }
    compact()
    // deltas gone, one base left, coverage intact
    assert(graft.StoredManifest.read(dir) == (("gen_1", Seq("base_1"))))
    val dirs = graft.StoredArtifacts.list(dir)
      .filter(java.nio.file.Files.isDirectory(_)).map(_.getFileName.toString)
    assert(dirs == Seq("gen_1"), s"compaction must leave only the base, got $dirs")
    val ids = spark.read.parquet(s"$dir/gen_1/base_1").select("vec_id")
      .collect().map(_.getLong(0))
    assert(ids.sorted.toSeq == corpus.keys.toSeq.sorted)
    // the compacted index serves, and a SECOND compaction (same union,
    // deterministic build) leaves probe results bit-identical
    val q = Seq((1L, corpus(1L)), (4L, corpus(4L))).toDF("q_id", "qvec")
    val a = HnswIngestStream.probe(spark, dir, q, k = 5, ef = 64).collect().toSeq
    assert(a.nonEmpty)
    compact()
    assert(graft.StoredManifest.read(dir) == (("gen_2", Seq("base_1"))))
    val b = HnswIngestStream.probe(spark, dir, q, k = 5, ef = 64).collect().toSeq
    assert(a == b, "re-compaction of an already-compacted index must be a fixed point")
  }

  test("x127 kNN graph: k=5 rows per node, exact scores, recall vs brute pairs") {
    val sub = graft.Tables(spark, sf001, "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("graft-hnsw-knn").toString
    HnswAnn.writeHnswIndex(sub, dir, shards = 4)
    val queries = sub.select(col("vec_id").as("q_id"),
      col("embedding").cast("array<double>").as("qvec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("q_id")).orderBy(col("sim").desc, col("vec_id"))
    val knn = HnswAnn.probeHnsw(spark, dir, queries, k = 6, ef = 64)
      .where(col("q_id") =!= col("vec_id"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 5)
      .collect()
      .groupBy(_.getLong(0))
    assert(knn.keySet == corpus.keySet)
    assert(knn.values.forall(_.length == 5))
    // recall vs brute top-5, averaged over a sample of nodes
    val sample = corpus.keys.toSeq.sorted.take(50)
    val recalls = sample.map { q =>
      val exact = corpus.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cosine(corpus(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      val gotIds = knn(q).map(_.getLong(1)).toSet
      (gotIds & exact).size.toDouble / 5
    }
    val mean = recalls.sum / recalls.length
    assert(mean >= 0.85, s"kNN-graph mean recall $mean")
  }
}
