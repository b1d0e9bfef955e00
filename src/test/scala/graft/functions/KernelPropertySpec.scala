package graft.functions

import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the text kernels, evaluated driver-side via Literal
  * inputs (no Spark jobs — hundreds of samples per property). Reference
  * semantics are recomputed in plain Scala, so the kernels are checked
  * against the DEFINITION, not against another Spark formulation.
  */
class KernelPropertySpec extends AnyFunSuite {

  private def holds(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), p)
    assert(r.passed, r.status.toString)
  }

  private def litTokens(ts: Seq[String]): Literal =
    Literal.create(ts, ArrayType(StringType))

  // small vocab → plenty of repeats and shared windows; plus arbitrary
  // unicode tokens to exercise UTF8String equality/hashing
  private val token: Gen[String] = Gen.oneOf(
    Gen.oneOf("a", "b", "c", "aa", "é", "世界", ""),
    Gen.stringOfN(3, Gen.asciiPrintableChar))
  private val tokensGen: Gen[List[String]] = Gen.listOf(token)

  test("TopTokenCount == max multiplicity under plain Scala grouping") {
    holds(Prop.forAll(tokensGen) { ts =>
      val expected =
        if (ts.isEmpty) 0L
        else ts.groupBy(identity).values.map(_.size).max.toLong
      TopTokenCount(litTokens(ts)).eval() == expected
    })
  }

  test("ShingleHashes: window count and window-identity under plain Scala") {
    val ngramGen = Gen.choose(1, 8)
    holds(Prop.forAll(tokensGen, ngramGen) { (ts, n) =>
      val windows: Seq[Seq[String]] =
        if (ts.isEmpty) Nil
        else if (ts.length < n) Seq(ts)
        else ts.sliding(n).toSeq
      val hashes = ShingleHashes(litTokens(ts), n).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq
      // one hash per window, and hash equality ⇔ window equality (64-bit
      // collisions are impossible at these sizes in practice — a failure
      // here means the construction broke, not bad luck)
      hashes.length == windows.length &&
        hashes.distinct.length == windows.distinct.length &&
        windows.zip(hashes).groupBy(_._1).values
          .forall(g => g.map(_._2).distinct.length == 1)
    })
  }

  test("ShingleHashes skips null tokens like the explode idiom") {
    val withNull = Literal.create(Seq("x", null, "y", "z"), ArrayType(StringType))
    val noNull = Literal.create(Seq("x", "y", "z"), ArrayType(StringType))
    for (n <- 1 to 4)
      assert(
        ShingleHashes(withNull, n).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq ==
        ShingleHashes(noNull, n).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray().toSeq)
  }

  private def litLongs(xs: Seq[Long]): Literal =
    Literal.create(xs, ArrayType(org.apache.spark.sql.types.LongType,
      containsNull = false))

  test("TokenHashSet: sorted, distinct, size == distinct token count") {
    holds(Prop.forAll(tokensGen) { ts =>
      val out = TokenHashSet(litTokens(ts)).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      out == out.sorted && out.distinct == out &&
        out.length == ts.filter(_ != null).distinct.length
    })
  }

  test("JaccardLongs == the set-theoretic definition on sorted distinct inputs") {
    val setGen = Gen.listOf(Gen.choose(-50L, 50L)).map(_.distinct.sorted)
    holds(Prop.forAll(setGen, setGen) { (a, b) =>
      val inter = a.toSet.intersect(b.toSet).size
      val union = a.toSet.union(b.toSet).size
      val expected = if (union == 0) 0.0 else inter.toDouble / union
      JaccardLongs(litLongs(a), litLongs(b)).eval()
        .asInstanceOf[Double] == expected &&
        IntersectCountLongs(litLongs(a), litLongs(b)).eval() == inter.toLong
    })
  }

  test("IntersectCountLongs rejects unsorted or duplicate input on either side") {
    val ok = litLongs(Seq(1L, 3L, 5L))
    for (bad <- Seq(Seq(3L, 1L, 5L), Seq(1L, 3L, 3L), Seq(5L, 3L, 1L), Seq(2L, 2L))) {
      for ((l, r, side) <- Seq((litLongs(bad), ok, "left"), (ok, litLongs(bad), "right"))) {
        val e = intercept[IllegalArgumentException](IntersectCountLongs(l, r).eval())
        assert(e.getMessage.contains(side) && e.getMessage.contains("sorted ascending"),
          e.getMessage)
      }
    }
    // an unsorted array whose disorder the merge walk would never visit
    // (the other side runs out first) is rejected all the same
    intercept[IllegalArgumentException](
      IntersectCountLongs(litLongs(Seq(0L)), litLongs(Seq(9L, 8L))).eval())
    holds(Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-5L, 5L))) { xs =>
      val strictly = xs.zip(xs.tail).forall { case (p, q) => p < q }
      val threw =
        try { IntersectCountLongs(litLongs(xs), litLongs(xs)).eval(); false }
        catch { case _: IllegalArgumentException => true }
      threw == !strictly
    })
  }

  /** The md5 SimHash bit rule spelled out the way the oracle SQL does:
    * bigram strings (`concat_ws(' ', ...)`, nulls skipped), the md5 hex
    * digest of "s:" + bigram, `hi`/`lo` parsed from hex digits 17–24 and
    * 25–32, one ±1 vote per bigram occurrence on each of the 64 bits.
    */
  private def md5SimhashBitsRef(ts: Seq[String]): Seq[Int] = {
    val grams = ts.sliding(2).filter(_.length == 2)
      .map(_.filter(_ != null).mkString(" ")).toSeq
    val votes = new Array[Long](64)
    for (g <- grams) {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(("s:" + g).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val hex = d.map(b => f"${b & 0xff}%02x").mkString
      val hi = java.lang.Long.parseLong(hex.substring(16, 24), 16)
      val lo = java.lang.Long.parseLong(hex.substring(24, 32), 16)
      for (b <- 0 until 64) {
        val bit = if (b < 32) (lo >> b) & 1 else (hi >> (b - 32)) & 1
        votes(b) += bit * 2 - 1
      }
    }
    (0 until 64).filter(votes(_) > 0)
  }

  private def md5SimhashBits(ts: Seq[String]): Seq[Int] =
    Md5SimHashBits(litTokens(ts)).eval()
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toIntArray().toSeq

  test("Md5SimHashBits == the md5-hex bigram vote definition") {
    val withNulls: Gen[List[String]] =
      Gen.listOf(Gen.frequency(6 -> token, 1 -> Gen.const(null: String)))
    holds(Prop.forAll(withNulls) { ts => md5SimhashBits(ts) == md5SimhashBitsRef(ts) })
    // 0- and 1-token arrays have no bigram; 2 tokens have exactly one
    assert(md5SimhashBits(Nil).isEmpty && md5SimhashBits(Seq("solo")).isEmpty)
    for (ts <- Seq(Seq("a", "b"), Seq("", ""), Seq("", "x"), Seq("é", "世界"),
        Seq(null, "x"), Seq(null, null), Seq("naïve", "café", "naïve", "café")))
      assert(md5SimhashBits(ts) == md5SimhashBitsRef(ts), ts)
  }

  private val litWord: String => Literal =
    w => Literal.create(w, org.apache.spark.sql.types.StringType)

  test("WordPieceSegment: round-trip, vocab membership, maximal munch — or a lone [UNK]") {
    val pieceGen = Gen.choose(1, 3).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
    val vocabGen = Gen.nonEmptyListOf(pieceGen).map(_.distinct)
    val wordGen = Gen.choose(1, 8).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c', 'd')))
    holds(Prop.forAll(vocabGen, vocabGen, wordGen) { (init, cont, word) =>
      val out = WordPieceSegment(litWord(word), init, cont).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      if (out == Seq("[UNK]")) {
        // refusal is only legal when greedy truly cannot finish: replay
        // the greedy walk and confirm it strands
        var pos = 0; var stuck = false
        while (pos < word.length && !stuck) {
          val set = if (pos == 0) init.toSet else cont.toSet
          val hit = (math.min(3, word.length - pos) to 1 by -1)
            .map(l => word.substring(pos, pos + l)).find(set.contains)
          hit match { case Some(h) => pos += h.length case None => stuck = true }
        }
        stuck
      } else {
        val bare = out.map(_.stripPrefix("##"))
        var pos = 0
        val munch = out.indices.forall { i =>
          val set = if (i == 0) init.toSet else cont.toSet
          val rest = word.substring(pos)
          val ok = set.contains(bare(i)) &&
            !(bare(i).length + 1 to math.min(3, rest.length))
              .exists(l => set.contains(rest.substring(0, l)))
          pos += bare(i).length; ok
        }
        bare.mkString == word && munch &&
          out.tail.forall(_.startsWith("##")) && !out.head.startsWith("##")
      }
    })
  }

  test("UnigramSegment: pieces concatenate to the word; known pieces or single chars") {
    val pieceGen = Gen.choose(1, 3).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b')))
    val vocabGen = Gen.nonEmptyListOf(pieceGen).map(_.distinct)
    val wordGen = Gen.choose(1, 8).flatMap(n =>
      Gen.stringOfN(n, Gen.oneOf('a', 'b', 'c')))
    holds(Prop.forAll(vocabGen, wordGen) { (pieces, word) =>
      val lps = pieces.indices.map(i => -1.0 - i * 0.1)
      val out = UnigramSegment(litWord(word), pieces, lps).eval()
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      out.mkString == word &&
        out.forall(p => pieces.contains(p) || p.length == 1)
    })
  }
}
