package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.ColumnGlue
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Native Catalyst expressions for the text-fingerprinting operators the
  * built-in function library can't express in one pass.
  *
  * Both run inside the row pipeline (no extra shuffle, no Scala-UDF
  * serialization overhead); `CodegenFallback` keeps them inside the
  * WholeStageCodegen span of the surrounding plan with a single virtual call.
  * Semantics derive from the public SimHash (Charikar 2002) and Karp-Rabin
  * rolling-hash constructions; token hashing reuses Spark's own xxhash64 so
  * results are deterministic across JVMs and cluster nodes.
  */

/** 64-bit SimHash over an array<string> of tokens, with optional word-n-gram
  * shingle features (Charikar 2002; shingle features are the construction the
  * published near-dup systems use — they keep word order).
  *
  * bit b of the output = sign of Σ_features (bit b of feature hash ? +1 : -1),
  * where a feature is a token hash (`ngram = 1`) or the Karp-Rabin-combined,
  * splitmix64-finalized hash of `ngram` consecutive token hashes. Null tokens
  * are skipped; a document shorter than `ngram` tokens contributes its whole
  * sequence as one feature. Near-duplicate documents land within a small
  * Hamming distance.
  */
case class SimHash64(child: Expression, ngram: Int = 1)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.intRange(prettyName, "ngram", ngram, 1, 16)(
      KernelTypes.check(prettyName, child -> KernelTypes.stringArray))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new Array[Int](64)
    MinHashSig.foreachShingleHash(arr, ngram) { h =>
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** md5-keyed 64-bit SimHash over word bigrams, returned as the ascending
  * positive-vote bit positions (array<int>) — the cross-engine-exact
  * signature of the x333/x348/x356 tier, one pass per document.
  *
  * Features are the bigrams `w(i) + " " + w(i+1)` (a null token is skipped
  * as `concat_ws` skips it). Feature g hashes to `md5("s:" + g)`; its digest
  * bytes 8–11 are `hi` and 12–15 are `lo` (unsigned 32-bit, i.e. the
  * 17th–24th and 25th–32nd hex digits), and bit b of the feature is bit b of
  * `lo` for b < 32, else bit b − 32 of `hi`. Each bigram occurrence votes
  * ±1 on every bit; a bit is set when its vote sum is positive. Every step
  * is integer arithmetic DuckDB reproduces with `md5`/`substr`/`>>`, so the
  * oracle checks the same bits. A document with fewer than 2 tokens has no
  * feature and yields an empty array.
  */
case class Md5SimHashBits(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "md5_simhash_bits"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.stringArray)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val toks = Array.tabulate(n)(i =>
      if (arr.isNullAt(i)) null else arr.getUTF8String(i).getBytes)
    val md = java.security.MessageDigest.getInstance("MD5")
    val votes = new Array[Int](64)
    var i = 0
    while (i < n - 1) {
      val a = toks(i)
      val b = toks(i + 1)
      md.update(Md5SimHashBits.Prefix)
      if (a != null) md.update(a)
      if (a != null && b != null) md.update(Md5SimHashBits.Space)
      if (b != null) md.update(b)
      val d = md.digest()
      // bytes 8–15 big-endian: hi in the upper 32 bits, lo in the lower,
      // so bit b of h is the feature's bit b
      var h = 0L
      var k = 8
      while (k < 16) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
      var bit = 0
      while (bit < 64) {
        votes(bit) += (if (((h >>> bit) & 1L) == 1L) 1 else -1)
        bit += 1
      }
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray((0 until 64).filter(votes(_) > 0).toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): Md5SimHashBits =
    copy(child = newChild)
}

object Md5SimHashBits {
  private val Prefix = "s:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val Space = " ".getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

/** Karp-Rabin polynomial rolling hash over an array<string> of tokens:
  * h = Σ token_hash_i · B^(n-1-i)  (mod 2^64), B = 1000003.
  *
  * Order-sensitive (unlike SimHash), so it fingerprints the document as a
  * sequence — the document-identity primitive for shift-tolerant dedup.
  */
case class TokenRollingHash(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "token_rolling_hash"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.stringArray)

  private val B = 1000003L

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var h = 0L
    var i = 0
    while (i < arr.numElements()) {
      val t = if (arr.isNullAt(i)) 0L
        else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      h = h * B + t // wraps mod 2^64 — deterministic on the JVM
      i += 1
    }
    h
  }

  override protected def withNewChildInternal(newChild: Expression): TokenRollingHash =
    copy(child = newChild)
}

/** k-slot MinHash signature over an array<string> of tokens, one pass, with
  * optional word-n-gram shingling.
  *
  * Each token is hashed ONCE with xxhash64; for `ngram > 1` consecutive
  * token hashes combine into shingle hashes via a Karp-Rabin polynomial +
  * splitmix64 finalizer (order-sensitive, so shingles — unlike unigram token
  * sets — distinguish word order). Slot i applies an affine universal-hash
  * transform `a_i * h + b_i` (a_i odd, from splitmix64(i)) to each shingle
  * hash and keeps the minimum — the standard one-permutation-per-slot
  * construction (Broder 1997 family). O(T·(n + k)) cheap long ops instead of
  * T·k string hashes, native instead of interpreted higher-order functions.
  * `ngram = 1` degenerates to the raw token hash (no finalizer), so unigram
  * signatures are unchanged from the shingle-free construction. Null tokens
  * are skipped (as in the unigram form); a document with fewer than `ngram`
  * tokens contributes its whole (short) token sequence as one shingle, so
  * distinct short documents keep distinct signatures.
  */
case class MinHashSig(child: Expression, k: Int, ngram: Int = 1)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.intRange(prettyName, "ngram", ngram, 1, 16)(
      KernelTypes.intRange(prettyName, "k", k, 1, 1024)(
        KernelTypes.check(prettyName, child -> KernelTypes.stringArray)))

  // affine coefficients fixed by splitmix64 so signatures are stable;
  // lazy so an out-of-range k fails analysis before any allocation
  private lazy val as = Array.tabulate(k)(i => MinHashSig.splitmix64(2L * i) | 1L)
  private lazy val bs = Array.tabulate(k)(i => MinHashSig.splitmix64(2L * i + 1))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val mins = Array.fill(k)(Long.MaxValue)
    MinHashSig.foreachShingleHash(arr, ngram) { h =>
      var i = 0
      while (i < k) {
        val v = as(i) * h + bs(i)
        if (v < mins(i)) mins(i) = v
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** splitmix64 finalizer (public-domain constant set; Steele et al. 2014). */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Karp-Rabin base shared by every shingle construction in this file. */
  private[functions] val ShingleBase = 1000003L

  /** THE shingle-feature construction, shared by [[MinHashSig]] and
    * [[SimHash64]] so their feature spaces cannot diverge: hash each
    * non-null token once (order of the rest preserved), slide an `ngram`
    * window combining token hashes via Karp-Rabin + splitmix64 finalize
    * (`ngram = 1` emits the raw token hash), and a document shorter than
    * `ngram` tokens contributes its whole sequence as one feature. Calls
    * `f` once per feature hash.
    */
  private[functions] def foreachShingleHash(
      arr: ArrayData, ngram: Int)(f: Long => Unit): Unit = {
    val nRaw = arr.numElements()
    val th = new Array[Long](nRaw)
    var n = 0
    var t = 0
    while (t < nRaw) {
      if (!arr.isNullAt(t)) {
        th(n) = XxHash64Function.hash(arr.getUTF8String(t), StringType, 42L)
        n += 1
      }
      t += 1
    }
    val win = if (n > 0 && n < ngram) n else ngram
    var s = 0
    while (s <= n - win) {
      val h =
        if (win == 1) th(s)
        else {
          var acc = 0L
          var j = 0
          while (j < win) { acc = acc * ShingleBase + th(s + j); j += 1 }
          splitmix64(acc)
        }
      f(h)
      s += 1
    }
  }
}

/** All word-n-gram shingle hashes of an array<string> of tokens, in document
  * order, as array<long> — the feature stream [[MinHashSig]] and
  * [[SimHash64]] consume, exposed directly so set-membership operators
  * (decontamination, passage dedup) can join on 8-byte hashes instead of
  * materializing every n-gram as a string. Uses the SAME construction
  * ([[MinHashSig.foreachShingleHash]]): one xxhash64 per token, Karp-Rabin
  * window combine + splitmix64 finalize, whole-sequence fallback for
  * documents shorter than `ngram`. Two windows collide only with
  * probability ~2⁻⁶⁴ — the standard trade every production shingle pipeline
  * makes (string n-grams cost ~5× the bytes and the string-build CPU).
  */
case class ShingleHashes(child: Expression, ngram: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.intRange(prettyName, "ngram", ngram, 1, 16)(
      KernelTypes.check(prettyName, child -> KernelTypes.stringArray))

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new scala.collection.mutable.ArrayBuffer[Long](
      math.max(arr.numElements() - ngram + 1, 1))
    MinHashSig.foreachShingleHash(arr, ngram)(out += _)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Multiplicity of the most frequent element in an array<string> of tokens —
  * the per-document half of the Gopher repetition statistics
  * (top_token_frac = TopTokenCount / size). EXACT: counts key on the token
  * strings themselves (UTF8String equality), not hashes.
  *
  * The repetition statistic is per-document local, so computing it inside
  * the row pipeline replaces the explode → groupBy(doc, token) →
  * groupBy(doc) two-shuffle idiom with a narrow scan-bound projection — at
  * 100 TB that is the difference between shuffling one row per TOKEN of the
  * corpus and shuffling nothing. Null tokens are SKIPPED (consistent with
  * every kernel in this file; note this differs from explode + groupBy,
  * which groups null elements and counts them — split() output never
  * contains nulls, so the curated queries can't observe the difference);
  * an all-null or empty array yields 0.
  */
case class TopTokenCount(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "top_token_count"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.stringArray)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val counts = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String, Long]()
    var best = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (!arr.isNullAt(i)) {
        val c = counts.merge(arr.getUTF8String(i), 1L, _ + _)
        if (c > best) best = c
      }
      i += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): TopTokenCount =
    copy(child = newChild)
}

/** Count of equal positions between two equal-length array<long> signatures —
  * the MinHash agreement kernel (estimated Jaccard = agreement / k). Native
  * loop; the interpreted `zip_with`+`aggregate` equivalent dominates runtime
  * at millions of candidate pairs.
  */
case class SigAgreement(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "sig_agreement"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, left -> KernelTypes.longSet, right -> KernelTypes.longSet)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var c = 0L
    var i = 0
    while (i < n) {
      if (x.getLong(i) == y.getLong(i)) c += 1
      i += 1
    }
    c
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SigAgreement =
    copy(left = newLeft, right = newRight)
}

/** One BPE merge applied to an array<string> of symbols: every adjacent
  * (left, right) pair becomes the concatenated symbol, scanning left to
  * right without overlap ("a","a","a" under merge (a,a) → "aa","a" — the
  * standard greedy BPE application; Sennrich et al. 2016). Null symbols
  * never match and pass through unchanged.
  *
  * [[graft.operators.Bpe]] folds N of these (one per learned merge, in rank
  * order) over the DISTINCT-WORD table, so the per-round work is vocab-
  * bounded, never corpus-bounded; the corpus-wide application joins the
  * segmented vocab back by word. CodegenFallback keeps the fold inside the
  * surrounding WholeStageCodegen span with one virtual call per merge.
  */
case class BpeMergeStep(child: Expression, left: String, right: String)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "bpe_merge_step"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.stringArray)

  @transient private lazy val l = org.apache.spark.unsafe.types.UTF8String.fromString(left)
  @transient private lazy val r = org.apache.spark.unsafe.types.UTF8String.fromString(right)
  @transient private lazy val merged =
    org.apache.spark.unsafe.types.UTF8String.concat(l, r)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[AnyRef](n)
    var i = 0
    while (i < n) {
      val cur = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      if (cur != null && i + 1 < n && !arr.isNullAt(i + 1) &&
          cur.equals(l) && arr.getUTF8String(i + 1).equals(r)) {
        out += merged
        i += 2
      } else {
        out += cur
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeStep =
    copy(child = newChild)
}

/** A WHOLE learned BPE merge table applied in one expression — the scale
  * form of folding [[BpeMergeStep]] per rank. The fold builds one nested
  * kernel node per merge, so a production 30k-merge tokenizer would create
  * a 30k-deep expression tree (analysis-time and codegen blowup); this
  * kernel holds the table as two plain string sequences inside ONE node, so
  * plan size is constant in the merge count and the table ships to
  * executors once with the serialized plan.
  *
  * Semantics are EXACTLY the rank-order fold's (BpeSpec pins agreement on a
  * 1000-merge learned table): instead of visiting every rank, each round
  * scans the word's adjacent pairs for the MINIMUM applicable rank at or
  * after a cursor, applies that rank's left-to-right non-overlapping pass
  * ([[BpeMergeStep]]'s convention), and advances the cursor past it. Every
  * rank skipped between cursor positions has no adjacent occurrence in the
  * current state — precisely the ranks whose fold pass is a no-op — so the
  * applied passes and intermediate states coincide with the fold's, for ANY
  * table (duplicate pairs included: each pair keeps its full ascending rank
  * list and the cursor picks the first unconsumed one). Cost is O(len²)
  * per word independent of table size — each applied pass shrinks the
  * symbol array, so there are at most len-1 rounds of O(len) scans.
  *
  * Null symbols never match and pass through unchanged, as in
  * [[BpeMergeStep]]. Empty or null merge components are rejected at
  * analysis time: no trainable symbol is empty (round-0 symbols are single
  * characters), so an empty component in the table is always a caller bug.
  */
case class BpeApplyAll(child: Expression, lefts: Seq[String], rights: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = child.dataType
  override def prettyName: String = "bpe_apply_all"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.stringArray) match {
      case TypeCheckResult.TypeCheckSuccess if lefts.length != rights.length =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: lefts and rights must be the same length, " +
            s"got ${lefts.length} vs ${rights.length}")
      case TypeCheckResult.TypeCheckSuccess
          if lefts.exists(s => s == null || s.isEmpty) ||
            rights.exists(s => s == null || s.isEmpty) =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: merge components (lefts/rights) must be non-null, " +
            "non-empty strings")
      case other => other
    }

  import org.apache.spark.unsafe.types.UTF8String

  @transient private lazy val leftsU: Array[UTF8String] =
    lefts.iterator.map(UTF8String.fromString).toArray
  @transient private lazy val rightsU: Array[UTF8String] =
    rights.iterator.map(UTF8String.fromString).toArray
  @transient private lazy val mergedU: Array[UTF8String] =
    Array.tabulate(leftsU.length)(i => UTF8String.concat(leftsU(i), rightsU(i)))
  /** left → right → ascending ranks (built in rank order, so pre-sorted). */
  @transient private lazy val pairRanks
      : java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Array[Int]]] = {
    val tmp = new java.util.HashMap[
      UTF8String,
      java.util.HashMap[UTF8String, scala.collection.mutable.ArrayBuffer[Int]]]()
    var k = 0
    while (k < leftsU.length) {
      tmp.computeIfAbsent(leftsU(k), _ => new java.util.HashMap)
        .computeIfAbsent(rightsU(k), _ => scala.collection.mutable.ArrayBuffer.empty[Int])
        .append(k)
      k += 1
    }
    val out = new java.util.HashMap[UTF8String, java.util.HashMap[UTF8String, Array[Int]]]()
    tmp.forEach { (l, byRight) =>
      val m = new java.util.HashMap[UTF8String, Array[Int]]()
      byRight.forEach((r, ranks) => m.put(r, ranks.toArray))
      out.put(l, m)
    }
    out
  }

  /** First element of ascending `ranks` that is >= lo, or Int.MaxValue. */
  private def firstAtLeast(ranks: Array[Int], lo: Int): Int = {
    var a = 0
    var b = ranks.length
    while (a < b) {
      val m = (a + b) >>> 1
      if (ranks(m) < lo) a = m + 1 else b = m
    }
    if (a < ranks.length) ranks(a) else Int.MaxValue
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    var n = arr.numElements()
    val syms = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      syms(i) = if (arr.isNullAt(i)) null else arr.getUTF8String(i)
      i += 1
    }
    var cursor = 0
    var done = n < 2 || leftsU.length == 0
    while (!done) {
      var best = Int.MaxValue
      i = 0
      while (i + 1 < n) {
        val a = syms(i)
        val b = syms(i + 1)
        if (a != null && b != null) {
          val byRight = pairRanks.get(a)
          if (byRight != null) {
            val ranks = byRight.get(b)
            if (ranks != null) {
              val r = firstAtLeast(ranks, cursor)
              if (r < best) best = r
            }
          }
        }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val l = leftsU(best)
        val r = rightsU(best)
        val m = mergedU(best)
        var w = 0
        i = 0
        while (i < n) {
          if (i + 1 < n && syms(i) != null && syms(i + 1) != null &&
              syms(i).equals(l) && syms(i + 1).equals(r)) {
            syms(w) = m
            i += 2
          } else {
            syms(w) = syms(i)
            i += 1
          }
          w += 1
        }
        n = w
        cursor = best + 1
        done = n < 2
      }
    }
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) { out(i) = syms(i); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyAll =
    copy(child = newChild)
}

/** Viterbi segmentation of a word under a LITERAL unigram language model
  * (the apply kernel of the SentencePiece unigram tokenizer, Kudo 2018) —
  * the whole (piece, logProb) vocabulary rides in ONE expression node,
  * the [[BpeApplyAll]] plan-shipping pattern: plan size constant in the
  * vocabulary size, per-word cost O(len · maxPieceLen) independent of it.
  *
  * Semantics (shared with the trainer's E-step and with UnigramSpec's
  * independent driver reference — one definition of the tie-break):
  * maximize the sum of piece log-probabilities over segmentations; on
  * equal score prefer the segmentation whose LAST piece is longest
  * (ascending start-position scan with strict improvement). The word is
  * segmented over CODE POINTS (Spark `substring` semantics, matching
  * [[graft.operators.Bpe.charSymbols]]'s convention), so supplementary-
  * plane characters are never split. A character absent from the
  * vocabulary becomes its own piece at the documented floor log-prob
  * (−1e9) — surfaced, never dropped; trainers seed all corpus characters
  * so this is the UNSEEN-character path only.
  */
case class UnigramSegment(child: Expression, pieces: Seq[String],
    logProbs: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "unigram_segment"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if pieces.length != logProbs.length =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: pieces and logProbs must be the same length, " +
          s"got ${pieces.length} vs ${logProbs.length}")
    case StringType if pieces.exists(p => p == null || p.isEmpty) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: pieces must be non-null, non-empty strings")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: word must be string, got ${other.simpleString(10)}")
  }

  private val FloorLogProb = -1e9

  @transient private lazy val vocab: java.util.HashMap[String, Double] = {
    val m = new java.util.HashMap[String, Double]()
    var i = 0
    while (i < pieces.length) {
      // duplicate surfaces keep the best (max) log-prob — deterministic
      val p = pieces(i); val lp = logProbs(i)
      val prev = m.get(p)
      if (!m.containsKey(p) || lp > prev) m.put(p, lp)
      i += 1
    }
    m
  }
  @transient private lazy val maxPieceCp: Int =
    if (pieces.isEmpty) 1
    else pieces.map(p => p.codePointCount(0, p.length)).max

  override def nullSafeEval(input: Any): Any = {
    val word = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    if (word.isEmpty)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    // code-point array (Spark substring semantics)
    val cps = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        buf += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      buf.toArray
    }
    val n = cps.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val prev = new Array[Int](n + 1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceCp)
      while (j < i) {
        if (best(j) > Double.NegativeInfinity) {
          val piece = cps.slice(j, i).mkString
          val lp =
            if (vocab.containsKey(piece)) vocab.get(piece)
            else if (i - j == 1) FloorLogProb // unseen single character
            else Double.NegativeInfinity
          if (lp > Double.NegativeInfinity) {
            val s = best(j) + lp
            if (s > best(i)) { best(i) = s; prev(i) = j }
          }
        }
        j += 1
      }
      i += 1
    }
    // reconstruct
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = n
    while (pos > 0) {
      val j = prev(pos)
      out += org.apache.spark.unsafe.types.UTF8String
        .fromString(cps.slice(j, pos).mkString)
      pos = j
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.reverseIterator.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): UnigramSegment =
    copy(child = newChild)
}

/** WordPiece segmentation (Wu et al. 2016; the BERT tokenizer): GREEDY
  * longest-match-first against a two-part vocabulary — word-INITIAL
  * pieces at position 0, CONTINUATION pieces (rendered with the standard
  * `##` prefix) thereafter. The third production tokenizer family next to
  * BPE (merge-order replay) and unigram-LM (Viterbi): same word in, a
  * maximal-munch segmentation out. A position with no vocabulary match
  * maps the WHOLE word to `[UNK]` — BERT's behavior — though vocabularies
  * built by [[graft.operators.WordPiece]] include every single character
  * in both parts, so the branch is a safety net there.
  *
  * Literal vocabulary inside the expression node (the [[UnigramSegment]]
  * discipline): one kernel call segments a whole word column with no join
  * against a vocab table, which is what lets x230 run the fertility
  * harness at scan speed over the distinct-word vocabulary.
  */
case class WordPieceSegment(child: Expression, initPieces: Seq[String],
    contPieces: Seq[String])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "wordpiece_segment"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType
        if (initPieces ++ contPieces).exists(p => p == null || p.isEmpty) =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: pieces must be non-null, non-empty strings")
    case StringType if initPieces.isEmpty =>
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName: the initial-piece vocabulary must be non-empty")
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: word must be string, got ${other.simpleString(10)}")
  }

  @transient private lazy val initSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](); initPieces.foreach(s.add); s
  }
  @transient private lazy val contSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String](); contPieces.foreach(s.add); s
  }
  @transient private lazy val maxInitCp: Int =
    initPieces.map(p => p.codePointCount(0, p.length)).max
  @transient private lazy val maxContCp: Int =
    if (contPieces.isEmpty) 1
    else contPieces.map(p => p.codePointCount(0, p.length)).max

  private val Unk = org.apache.spark.unsafe.types.UTF8String.fromString("[UNK]")

  override def nullSafeEval(input: Any): Any = {
    val word = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    if (word.isEmpty)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array.empty[Any])
    val cps = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < word.length) {
        val cp = word.codePointAt(i)
        buf += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      buf.toArray
    }
    val n = cps.length
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var pos = 0
    while (pos < n) {
      val atStart = pos == 0
      val set = if (atStart) initSet else contSet
      val maxCp = if (atStart) maxInitCp else maxContCp
      var len = math.min(maxCp, n - pos)
      var hit: String = null
      while (len >= 1 && hit == null) {
        val cand = cps.slice(pos, pos + len).mkString
        if (set.contains(cand)) hit = cand else len -= 1
      }
      if (hit == null)
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          Array[Any](Unk))
      out += org.apache.spark.unsafe.types.UTF8String
        .fromString(if (atStart) hit else "##" + hit)
      pos += len
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): WordPieceSegment =
    copy(child = newChild)
}

/** Membership test against a BROADCAST Bloom filter — the native form of
  * the classic `udf((x: Long) => bc.value.mightContainLong(x))` pattern
  * (x39's sketch-side decontamination). Spark's public surface exposes no
  * might_contain expression (the built-in one is `private[sql]`, reserved
  * for runtime-filter injection), so sketch probes usually fall back to a
  * Scala UDF — which boxes every input and breaks the codegen pipeline's
  * null-tracking. This expression generates a direct `mightContainLong`
  * call inside whole-stage codegen: the broadcast handle rides in the plan
  * (bytes, not the filter), each executor resolves `.value()` ONCE into a
  * generated-class field, and the per-row cost is the filter's own bit
  * probes. Bloom semantics are the caller's contract: never a false
  * negative, bounded false positives (x39's spec gates both sides).
  */
case class BloomMightContainLong(
    child: Expression,
    filter: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "bloom_might_contain"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: key must be bigint, got ${other.simpleString(10)}")
  }

  @transient private lazy val bf = filter.value

  override def nullSafeEval(input: Any): Any =
    bf.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val bfClass = classOf[org.apache.spark.util.sketch.BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", filter,
      "org.apache.spark.broadcast.Broadcast")
    // one .value() resolution per generated-class instance, not per row
    val bfVar = ctx.addMutableState(bfClass, "bloomFilter",
      v => s"$v = ($bfClass) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$bfVar.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContainLong =
    copy(child = newChild)
}

/** Unicode NFC normalization of a string column — the canonical-composition
  * step every text-cleaning pipeline runs before fingerprinting (a
  * decomposed `e` + COMBINING ACUTE and the precomposed `é` are the same
  * text to a user and to a tokenizer, but different bytes to md5/xxhash64,
  * so un-normalized dedup silently splits duplicate groups). Spark's SQL
  * surface has no normalizer; this wraps the JDK's ICU-derived
  * `java.text.Normalizer` (Unicode 13.0 tables in Java 17; DuckDB's
  * utf8proc tracks a newer Unicode, but NFC is stability-guaranteed for
  * assigned code points, so the two engines agree on any text whose code
  * points both know — that normalization STABILITY, not identical Unicode
  * versions, is what makes the x110 oracle a cross-engine check OF this
  * kernel). Stateless,
  * null-in/null-out; already-NFC strings (all ASCII included) pass through
  * unchanged, and `Normalizer.isNormalized` short-circuits that common case
  * without allocating.
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.str)

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC)) input
    else org.apache.spark.unsafe.types.UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

/** Jaro-Winkler similarity — the record-linkage string measure (Winkler
  * 1990) next to the exact-edit kernels: prefix-weighted Jaro, tuned for
  * short name/token comparisons where leading characters carry identity.
  *
  * The exact convention was pinned EMPIRICALLY against DuckDB's
  * implementation (5000 random cases, zero divergence) so x159 can
  * hash-verify the kernel cross-engine: match window
  * max(⌊max(l1,l2)/2⌋−1, 0); greedy left-to-right matching;
  * transpositions = ⌊mismatched-order matches / 2⌋ (INTEGER half — the
  * RapidFuzz/DuckDB choice; a float half diverges on odd counts); the
  * Winkler prefix boost (ℓ ≤ 4, p = 0.1) applies only when jaro > 0.7
  * (the classic boost threshold — unboosted below it); empty input → 0.
  * Comparison is by Java char (UTF-16 unit) — identical to DuckDB on the
  * ASCII corpus; supplementary-plane text would diverge engine-to-engine
  * and is out of the verified scope.
  *
  * Per-row cost is O(l1·window) with two small boolean scratch arrays —
  * scan-bound like every kernel here; no shuffle implications.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaro_winkler"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, left -> KernelTypes.str, right -> KernelTypes.str)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val s1 = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    val s2 = b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString
    JaroWinkler.similarity(s1, s2)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {
  def similarity(s1: String, s2: String): Double = {
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      var j = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk both matched subsequences in order
    var mis = 0
    var j2 = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(j2)) j2 += 1
        if (s1.charAt(i) != s2.charAt(j2)) mis += 1
        j2 += 1
      }
      i += 1
    }
    val t = mis / 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 + (m - t).toDouble / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      var l = 0
      while (l < 4 && l < l1 && l < l2 && s1.charAt(l) == s2.charAt(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }
}

object HashFunctions {
  /** Column API for [[SimHash64]]. */
  def simhash64(tokens: Column, ngram: Int = 1): Column =
    ColumnGlue.column(SimHash64(ColumnGlue.expression(tokens), ngram))

  /** Column API for [[Md5SimHashBits]]: array<string> tokens → ascending
    * positive-vote bit positions of the md5-keyed bigram SimHash.
    */
  def md5SimhashBits(tokens: Column): Column =
    ColumnGlue.column(Md5SimHashBits(ColumnGlue.expression(tokens)))

  /** Column API for [[TokenRollingHash]]. */
  def tokenRollingHash(tokens: Column): Column =
    ColumnGlue.column(TokenRollingHash(ColumnGlue.expression(tokens)))

  /** Column API for [[MinHashSig]]; `ngram > 1` = word-shingle signatures. */
  def minhashSig(tokens: Column, k: Int, ngram: Int = 1): Column =
    ColumnGlue.column(MinHashSig(ColumnGlue.expression(tokens), k, ngram))

  /** Column API for [[SigAgreement]]. */
  def sigAgreement(a: Column, b: Column): Column =
    ColumnGlue.column(SigAgreement(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  /** Column API for [[TokenHashSet]]: array<string> → sorted distinct array<long>. */
  def tokenHashSet(tokens: Column): Column =
    ColumnGlue.column(TokenHashSet(ColumnGlue.expression(tokens)))

  /** Column API for [[JaccardLongs]] over two [[TokenHashSet]] columns. */
  def jaccardLongs(a: Column, b: Column): Column =
    ColumnGlue.column(JaccardLongs(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  /** Column API for [[IntersectCountLongs]]: |a ∩ b| of two array<long> set
    * columns.
    *
    * Precondition: both arrays are sorted ascending and hold no duplicates,
    * as [[tokenHashSet]] and the `shingleSets` outputs are. The kernel
    * checks it per row and fails the task on unsorted or duplicate input,
    * which the merge walk would otherwise silently undercount.
    */
  def intersectLongs(a: Column, b: Column): Column =
    ColumnGlue.column(IntersectCountLongs(
      ColumnGlue.expression(a), ColumnGlue.expression(b)))

  /** Column API for [[ShingleHashes]]: array<string> → array<long> of
    * word-`ngram` shingle hashes in document order.
    */
  def shingleHashes(tokens: Column, ngram: Int): Column =
    ColumnGlue.column(ShingleHashes(ColumnGlue.expression(tokens), ngram))

  /** Column API for [[TopTokenCount]]. */
  def topTokenCount(tokens: Column): Column =
    ColumnGlue.column(TopTokenCount(ColumnGlue.expression(tokens)))

  /** Column API for [[BpeMergeStep]]: one learned BPE merge over a symbol
    * array; fold in rank order to apply a whole merge table.
    */
  def bpeMergeStep(syms: Column, left: String, right: String): Column =
    ColumnGlue.column(BpeMergeStep(ColumnGlue.expression(syms), left, right))

  /** Column API for [[BpeApplyAll]]: a whole merge table (rank order) in one
    * kernel call — plan size constant in the merge count.
    */
  def bpeApplyAll(syms: Column, lefts: Seq[String], rights: Seq[String]): Column =
    ColumnGlue.column(BpeApplyAll(ColumnGlue.expression(syms), lefts, rights))

  /** Column API for [[UnigramSegment]]: Viterbi segmentation under a
    * literal unigram LM — whole vocabulary in one kernel node.
    */
  def unigramSegment(word: Column, pieces: Seq[String],
      logProbs: Seq[Double]): Column =
    ColumnGlue.column(UnigramSegment(ColumnGlue.expression(word), pieces, logProbs))

  /** Column API for [[WordPieceSegment]]: greedy longest-match WordPiece
    * under a literal two-part vocabulary.
    */
  def wordPieceSegment(word: Column, initPieces: Seq[String],
      contPieces: Seq[String]): Column =
    ColumnGlue.column(WordPieceSegment(ColumnGlue.expression(word),
      initPieces, contPieces))

  /** Column API for [[NfcNormalize]]: Unicode canonical composition. */
  def nfcNormalize(s: Column): Column =
    ColumnGlue.column(NfcNormalize(ColumnGlue.expression(s)))

  /** Column API for [[JaroWinkler]]: prefix-weighted name similarity. */
  def jaroWinkler(a: Column, b: Column): Column =
    ColumnGlue.column(JaroWinkler(ColumnGlue.expression(a), ColumnGlue.expression(b)))

  /** Column API for [[BloomMightContainLong]]: codegen'd membership probe
    * of a broadcast Bloom filter over a bigint key column.
    */
  def bloomMightContainLong(
      key: Column,
      filter: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
      : Column =
    ColumnGlue.column(BloomMightContainLong(ColumnGlue.expression(key), filter))
}
