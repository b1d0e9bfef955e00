package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression, UnsafeArrayData, XxHash64Function}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst kernels for the vector-similarity and set-similarity
  * operators. Spark's higher-order functions (`aggregate`/`zip_with`) are
  * evaluated interpreted — one closure call per element per row — which made
  * the similarity queries dominate the benchmark. These expressions do the
  * same arithmetic as a single tight JVM loop per row (`CodegenFallback`
  * costs one virtual call per row, not per element, and the surrounding
  * projection stays inside WholeStageCodegen).
  *
  * All accumulation is double-precision, left-to-right in array order, so
  * results are bit-identical to the previous higher-order-function
  * formulation and to DuckDB's `list_dot_product`-based oracle. A null array
  * ELEMENT also matches that formulation: it propagates to a null result
  * (checked only when the array type declares containsNull, so the common
  * non-null-element case pays nothing).
  */
private[functions] object VectorKernels {
  /** Element accessor widened to double; supports array<float> and array<double>. */
  @inline def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  def isFloatArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"expected array<float|double>, got $other")
  }

  def elemNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
}

/** Analysis-time input-type validation shared by every kernel in this file
  * and in HashExpressions. The kernels are exposed to ad-hoc SQL via
  * [[SqlFunctions.register]], so misuse (`cosine_sim('a','b')`) must fail
  * during analysis with a named argument message, not as a ClassCastException
  * on an executor.
  */
private[functions] object KernelTypes {
  /** numeric vector: array<float> or array<double>, any element nullability. */
  val vec: DataType => Option[String] = {
    case ArrayType(FloatType | DoubleType, _) => None
    case other => Some(s"array<float> or array<double>, got ${other.catalogString}")
  }
  /** token list: array<string>, any element nullability (nulls are skipped). */
  val stringArray: DataType => Option[String] = {
    case ArrayType(StringType, _) => None
    case other => Some(s"array<string>, got ${other.catalogString}")
  }
  /** packed signature/set: array<long> with provably non-null elements (the
    * TokenHashSet / MinHashSig output shape) — a nullable-element array would
    * read garbage in the merge walks, so it is rejected at analysis time. */
  val longSet: DataType => Option[String] = {
    case ArrayType(LongType, false) => None
    case ArrayType(LongType, true) =>
      Some("array<long> with non-nullable elements, got nullable elements")
    case other => Some(s"array<long> with non-nullable elements, got ${other.catalogString}")
  }
  val dbl: DataType => Option[String] = {
    case DoubleType => None
    case other => Some(s"double, got ${other.catalogString}")
  }
  val str: DataType => Option[String] = {
    case StringType => None
    case other => Some(s"string, got ${other.catalogString}")
  }

  def check(fn: String, args: (Expression, DataType => Option[String])*): TypeCheckResult =
    args.zipWithIndex.collectFirst {
      case ((e, p), i) if p(e.dataType).isDefined =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn argument ${i + 1} requires ${p(e.dataType).get}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)

  /** Scalar-parameter range validation, layered over `check`. Kernels are
    * built by the SQL front-end BEFORE analysis, so a constructor require()
    * on an out-of-range literal (shingle_hashes(arr, 0)) would escape as
    * IllegalArgumentException at expression-build time instead of the
    * AnalysisException the misuse gate guarantees for every kernel —
    * range checks therefore live here, in checkInputDataTypes.
    */
  def intRange(fn: String, arg: String, v: Int, lo: Int, hi: Int)(
      base: TypeCheckResult): TypeCheckResult =
    base match {
      case TypeCheckResult.TypeCheckSuccess if v < lo || v > hi =>
        TypeCheckResult.TypeCheckFailure(
          s"$fn: $arg must be in [$lo, $hi], got $v")
      case other => other
    }
}

/** A kernel over two vectors (array<float|double>): the type check and
  * each side's element type and element nullability.
  */
private[functions] trait VecPairKernel extends BinaryExpression with CodegenFallback {
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, left -> KernelTypes.vec, right -> KernelTypes.vec)
  protected lazy val lf = VectorKernels.isFloatArray(left)
  protected lazy val rf = VectorKernels.isFloatArray(right)
  protected lazy val ln = VectorKernels.elemNullable(left)
  protected lazy val rn = VectorKernels.elemNullable(right)
}

/** cosine(a, b) = (Σ a_i b_i) / (√(Σ a_i²) · √(Σ b_i²)), one fused pass.
  * Mismatched lengths yield null (a corrupt/truncated embedding must surface
  * as missing, not as a plausible similarity — the semantics the zip_with
  * formulation had via null-padding).
  */
case class CosineSim(left: Expression, right: Expression)
    extends VecPairKernel {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var sx = 0.0; var sy = 0.0
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val xv = VectorKernels.elem(x, i, lf)
      val yv = VectorKernels.elem(y, i, rf)
      dot += xv * yv; sx += xv * xv; sy += yv * yv
      i += 1
    }
    dot / (math.sqrt(sx) * math.sqrt(sy))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** cosine with the right-hand norm precomputed (hoisted out of the per-row
  * expression when the right side is a broadcast constant, e.g. a query
  * vector): dot(a,b) / (√(Σ a_i²) · bNorm).
  */
case class CosineSimPreNorm(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_sim_prenorm"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, first -> KernelTypes.vec,
      second -> KernelTypes.vec, third -> KernelTypes.dbl)
  private lazy val lf = VectorKernels.isFloatArray(first)
  private lazy val rf = VectorKernels.isFloatArray(second)
  private lazy val ln = VectorKernels.elemNullable(first)
  private lazy val rn = VectorKernels.elemNullable(second)

  override def nullSafeEval(a: Any, b: Any, nb: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var dot = 0.0; var sx = 0.0
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val xv = VectorKernels.elem(x, i, lf)
      val yv = VectorKernels.elem(y, i, rf)
      dot += xv * yv; sx += xv * xv
      i += 1
    }
    dot / (math.sqrt(sx) * nb.asInstanceOf[Double])
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): CosineSimPreNorm =
    copy(first = f, second = s, third = t)
}

/** √(Σ x_i²) — the norm half of [[CosineSimPreNorm]]'s contract. */
case class L2Norm(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable || VectorKernels.elemNullable(child)
  override def prettyName: String = "l2_norm"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.vec)
  private lazy val f = VectorKernels.isFloatArray(child)
  private lazy val en = VectorKernels.elemNullable(child)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    var s = 0.0
    var i = 0
    while (i < x.numElements()) {
      if (en && x.isNullAt(i)) return null
      val v = VectorKernels.elem(x, i, f)
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  override protected def withNewChildInternal(newChild: Expression): L2Norm =
    copy(child = newChild)
}

/** Dense matrix-vector product against a LITERAL row-major matrix —
  * `y_i = Σ_j flat(i·cols + j) · x_j`. The per-row linear map behind
  * OPQ's learned rotation (graft.operators.Opq) and any fixed embedding
  * projection: the matrix is a MODEL constant (dim² doubles — independent
  * of corpus size and of the index's cell count, the same class of plan
  * literal as an ADC lookup table), so inlining it keeps the map a narrow
  * fused per-row loop with no join and no shuffle. Null on input length
  * mismatch (per-row data problem, surfaced not dropped).
  */
case class MatVecLit(child: Expression, rows: Int, flat: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "mat_vec_lit"
  private def cols: Int = if (rows == 0) 0 else flat.length / rows
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.vec) match {
      case TypeCheckResult.TypeCheckSuccess if rows < 1 =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName: rows must be >= 1, got $rows")
      case TypeCheckResult.TypeCheckSuccess
          if flat.isEmpty || flat.length % rows != 0 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: matrix length ${flat.length} is not a positive multiple of rows=$rows")
      case ok => ok
    }

  private lazy val f = VectorKernels.isFloatArray(child)
  private lazy val en = VectorKernels.elemNullable(child)
  @transient private lazy val m = flat.toArray

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val c = cols
    if (x.numElements() != c) return null
    val xs = new Array[Double](c)
    var j = 0
    while (j < c) {
      if (en && x.isNullAt(j)) return null
      xs(j) = VectorKernels.elem(x, j, f)
      j += 1
    }
    val out = new Array[Double](rows)
    var i = 0
    while (i < rows) {
      var s = 0.0
      var jj = 0
      val base = i * c
      while (jj < c) { s += m(base + jj) * xs(jj); jj += 1 }
      out(i) = s
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecLit =
    copy(child = newChild)
}

/** Σ (a_i − b_i)² — squared euclidean distance; null on length mismatch. */
case class SqDist(left: Expression, right: Expression)
    extends VecPairKernel {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq_dist"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((ln && x.isNullAt(i)) || (rn && y.isNullAt(i))) return null
      val d = VectorKernels.elem(x, i, lf) - VectorKernels.elem(y, i, rf)
      s += d * d
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDist =
    copy(left = newLeft, right = newRight)
}

/** array<string> tokens → sorted, deduplicated array<long> of xxhash64 values
  * (seed 42, same as [[MinHashSig]]/[[SimHash64]]). Turns token-set operators
  * (Jaccard) into merge-walks over packed longs: the text itself never has to
  * be carried, compared, or shuffled past this projection.
  */
case class TokenHashSet(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "token_hash_set"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.stringArray)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    val hs = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        hs(m) = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        m += 1
      }
      i += 1
    }
    java.util.Arrays.sort(hs, 0, m)
    var w = 0
    var r = 0
    while (r < m) {
      if (w == 0 || hs(w - 1) != hs(r)) { hs(w) = hs(r); w += 1 }
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, w))
  }

  override protected def withNewChildInternal(newChild: Expression): TokenHashSet =
    copy(child = newChild)
}

/** Jaccard similarity |A∩B| / |A∪B| of two SORTED DEDUPLICATED array<long>
  * sets (the [[TokenHashSet]] representation) via a single merge walk —
  * O(|A|+|B|) with no allocation, replacing per-pair `array_intersect` over
  * full token-string arrays. Returns null for two empty sets (0/0), matching
  * SQL division semantics.
  */
case class JaccardLongs(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  // eval returns null for two empty sets even when both inputs are non-null,
  // so nullability must not be derived from the children
  override def nullable: Boolean = true
  override def prettyName: String = "jaccard_longs"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, left -> KernelTypes.longSet, right -> KernelTypes.longSet)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    var i = 0; var j = 0; var common = 0
    while (i < na && j < nb) {
      val av = x.getLong(i)
      val bv = y.getLong(j)
      if (av == bv) { common += 1; i += 1; j += 1 }
      else if (av < bv) i += 1
      else j += 1
    }
    val uni = na + nb - common
    if (uni == 0) null else common.toDouble / uni
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardLongs =
    copy(left = newLeft, right = newRight)
}

/** |A∩B| of two SORTED DEDUPLICATED array<long> sets via the same merge
  * walk as [[JaccardLongs]] — O(|A|+|B|), zero allocation. Replaces
  * `size(array_intersect(a, b))` on the prefix-filter verify paths
  * (round 15): `array_intersect` builds a per-row hash set AND
  * materializes the intersection array when only its SIZE is consumed —
  * measured as the dominant CPU of every τ = 1/2 truth-tier verify
  * (hundreds of thousands of candidate pairs × ~100-element sets per
  * registry row). Exact same integer result by construction: both
  * inputs are [[TokenHashSet]]/`shingleSets` outputs (sorted, distinct),
  * where intersection-of-sets equals the merge-walk match count.
  * The precondition is checked per row: an element that is not strictly
  * greater than its predecessor on either side raises an
  * IllegalArgumentException naming the side and index, since the walk
  * would otherwise skip it and silently undercount.
  */
case class IntersectCountLongs(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = LongType
  override def prettyName: String = "intersect_count_longs"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, left -> KernelTypes.longSet, right -> KernelTypes.longSet)

  override def nullSafeEval(a: Any, b: Any): Any = {
    import IntersectCountLongs.{next, requireSortedFrom}
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val na = x.numElements()
    val nb = y.numElements()
    // the walk reads each element once and checks it against its
    // predecessor there; the tail it never reaches is checked after it
    var i = 0; var j = 0; var common = 0L
    if (na > 0 && nb > 0) {
      var av = x.getLong(0)
      var bv = y.getLong(0)
      while (i < na && j < nb) {
        if (av <= bv) {
          if (av == bv) {
            common += 1L; j += 1
            if (j < nb) bv = next(y, j, bv, "right")
          }
          i += 1
          if (i < na) av = next(x, i, av, "left")
        } else {
          j += 1
          if (j < nb) bv = next(y, j, bv, "right")
        }
      }
    }
    requireSortedFrom(x, i + 1, "left")
    requireSortedFrom(y, j + 1, "right")
    common
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountLongs =
    copy(left = newLeft, right = newRight)
}

object IntersectCountLongs {
  /** Element `k` of `s`, after checking it is above its predecessor `prev`. */
  private def next(s: ArrayData, k: Int, prev: Long, side: String): Long = {
    val v = s.getLong(k)
    if (v <= prev)
      throw new IllegalArgumentException(
        s"intersect_count_longs: $side input must be sorted ascending with no " +
          s"duplicates, but element $k ($v) follows $prev")
    v
  }

  /** Checks elements `from` onwards of `s` against their predecessors. */
  private def requireSortedFrom(s: ArrayData, from: Int, side: String): Unit = {
    var k = math.max(from, 1)
    if (k < s.numElements()) {
      var prev = s.getLong(k - 1)
      while (k < s.numElements()) { prev = next(s, k, prev, side); k += 1 }
    }
  }
}

/** `nTables` random-hyperplane LSH bucket codes in one pass over the vector
  * (Charikar 2002). Table t, plane p's component for dimension j is a
  * splitmix64-derived pseudo-random double in [-1, 1]; bucket t packs the
  * sign bits of that table's `nPlanes` projections into a long.
  *
  * The plane matrix is materialized once per (deserialized) expression
  * instance and reused across rows, so per-row cost is one multiply-add per
  * (dimension × plane) — no per-element hashing, no interpreted closures.
  * Downstream, only the packed longs are exploded/shuffled; the vectors stay
  * in place.
  */
case class HyperplaneBuckets(child: Expression, nPlanes: Int, nTables: Int, seedBase: Int)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable || VectorKernels.elemNullable(child)
  override def prettyName: String = "hyperplane_buckets"
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.intRange(prettyName, "nTables", nTables, 1, 64)(
      KernelTypes.intRange(prettyName, "nPlanes", nPlanes, 1, 32)(
        KernelTypes.check(prettyName, child -> KernelTypes.vec)))
  private lazy val f = VectorKernels.isFloatArray(child)
  private lazy val en = VectorKernels.elemNullable(child)

  // plane matrix cached per vector dimensionality. The (dim, matrix) pair is
  // published together through one volatile reference so a concurrent reader
  // can never observe a dim that matches with a stale differently-sized
  // matrix (mixed-dimensionality inputs are legal).
  @transient @volatile private var cached: (Int, Array[Double]) = _

  private def planeMatrix(dim: Int): Array[Double] = {
    val c = cached
    if (c != null && c._1 == dim) return c._2
    val m = new Array[Double](nTables * nPlanes * dim)
    var t = 0
    while (t < nTables) {
      var p = 0
      while (p < nPlanes) {
        var j = 0
        while (j < dim) {
          val h = MinHashSig.splitmix64(
            ((seedBase + t).toLong << 42) ^ (p.toLong << 21) ^ j.toLong)
          m((t * nPlanes + p) * dim + j) = h.toDouble / Long.MaxValue.toDouble
          j += 1
        }
        p += 1
      }
      t += 1
    }
    cached = (dim, m)
    m
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val m = planeMatrix(dim)
    val nProj = nTables * nPlanes
    val acc = new Array[Double](nProj)
    var j = 0
    while (j < dim) {
      if (en && v.isNullAt(j)) return null
      val xv = VectorKernels.elem(v, j, f)
      var k = 0
      while (k < nProj) {
        acc(k) += xv * m(k * dim + j)
        k += 1
      }
      j += 1
    }
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var code = 0L
      var p = 0
      while (p < nPlanes) {
        if (acc(t * nPlanes + p) >= 0) code |= (1L << p)
        p += 1
      }
      out(t) = code
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

/** Product-quantization encoder (Jégou et al. 2011, "Product Quantization
  * for Nearest Neighbor Search"): split the vector into `m` subspaces of
  * `dsub` dims and emit, per subspace, the index of the nearest codebook
  * centroid — compressing a dim-vector to `m` small ints. The flattened
  * codebook (`m · k · dsub` doubles, laid out [sub][centroid][dim]) is an
  * index artifact that rides inside this one expression node, the
  * BpeApplyAll plan-shipping pattern. NOT SQL-registered: the codebook is
  * loaded from the stored index by the engine, never typed as a SQL
  * literal (same rationale as the broadcast-handle Bloom probe).
  *
  * A vector whose length is not `m · dsub`, or with a null element, encodes
  * to null — surfacing corrupt embeddings instead of a plausible code.
  *
  * With `packed = true` the output is BINARY — `m` unsigned bytes instead
  * of `m` 4-byte ints (requires k ≤ 256, which every production PQ uses:
  * k = 256 IS the byte-code design point). This is the storage format's
  * honest 32× compression (64 floats → 8 bytes); the int-array form
  * remains for debuggability and back-compat, and both score through the
  * same ADC kernels.
  */
case class PqEncode(child: Expression, m: Int, dsub: Int, flat: Seq[Double],
    packed: Boolean = false)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    if (packed) BinaryType else ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_encode"
  private def k: Int = if (m * dsub == 0) 0 else flat.length / (m * dsub)
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.vec) match {
      case TypeCheckResult.TypeCheckSuccess if m < 1 || dsub < 1 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: m and dsub must be >= 1, got m=$m dsub=$dsub")
      case TypeCheckResult.TypeCheckSuccess
          if flat.isEmpty || flat.length % (m * dsub) != 0 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: codebook length ${flat.length} is not a positive " +
            s"multiple of m*dsub = ${m * dsub}")
      case TypeCheckResult.TypeCheckSuccess if packed && k > 256 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: packed codes are unsigned bytes, k must be <= 256, got $k")
      case ok => ok
    }

  private lazy val f = VectorKernels.isFloatArray(child)
  private lazy val en = VectorKernels.elemNullable(child)
  @transient private lazy val cb = flat.toArray

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * dsub) return null
    val kk = k
    val out = new Array[Int](m)
    var sub = 0
    while (sub < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < kk) {
        var d2 = 0.0
        var d = 0
        val base = (sub * kk + c) * dsub
        while (d < dsub) {
          val i = sub * dsub + d
          if (en && v.isNullAt(i)) return null
          val diff = VectorKernels.elem(v, i, f) - cb(base + d)
          d2 += diff * diff
          d += 1
        }
        if (d2 < bestD) { bestD = d2; best = c }
        c += 1
      }
      out(sub) = best
      sub += 1
    }
    if (packed) {
      val b = new Array[Byte](m)
      var i = 0
      while (i < m) { b(i) = out(i).toByte; i += 1 }
      b
    } else UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Asymmetric-distance cosine scoring over PQ codes (the ADC table lookup
  * of Jégou et al. 2011): with per-subspace lookup tables precomputed ONCE
  * per query on the driver — `lutDot(sub·k + c)` = dot(query_sub,
  * centroid_{sub,c}), `lutNorm` = ‖centroid_{sub,c}‖² — the per-row score
  * is `m` additions into each of two sums:
  * cos ≈ Σ lutDot / (qnorm · √(Σ lutNorm)), i.e. the EXACT cosine between
  * the query and the reconstructed vector (subspace concatenation makes
  * the decomposition exact; the only approximation is quantization
  * itself). 64 float reads become `m` table lookups — the arithmetic-
  * bandwidth trade that makes PQ the 100 TB ANN scan format. An
  * out-of-range code or a zero reconstruction scores null.
  */
case class PqAdcScore(child: Expression, k: Int,
    lutDot: Seq[Double], lutNorm: Seq[Double], qnorm: Double)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_score"
  // codes may be array<int> or BINARY (the byte-packed storage format —
  // m unsigned bytes); both read through the same LUT arithmetic, so a
  // packed index scores bit-identically to its unpacked form (PqSpec pins)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) | BinaryType =>
      if (k < 1)
        TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1, got $k")
      else if (lutDot.length != lutNorm.length || lutDot.isEmpty ||
          lutDot.length % k != 0)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: LUTs must be equal-length non-empty multiples of k, " +
            s"got ${lutDot.length} and ${lutNorm.length} with k=$k")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: codes must be array<int> or binary, got ${other.catalogString}")
  }

  @transient private lazy val ld = lutDot.toArray
  @transient private lazy val ln = lutNorm.toArray
  private def m: Int = lutDot.length / k
  private lazy val binary = child.dataType == BinaryType

  override def nullSafeEval(input: Any): Any = {
    var dot = 0.0
    var n2 = 0.0
    if (binary) {
      val codes = input.asInstanceOf[Array[Byte]]
      if (codes.length != m) return null
      var sub = 0
      while (sub < m) {
        val c = codes(sub) & 0xff // unsigned byte code
        if (c >= k) return null
        dot += ld(sub * k + c)
        n2 += ln(sub * k + c)
        sub += 1
      }
    } else {
      val codes = input.asInstanceOf[ArrayData]
      if (codes.numElements() != m) return null
      var sub = 0
      while (sub < m) {
        if (codes.isNullAt(sub)) return null
        val c = codes.getInt(sub)
        if (c < 0 || c >= k) return null
        dot += ld(sub * k + c)
        n2 += ln(sub * k + c)
        sub += 1
      }
    }
    val denom = qnorm * math.sqrt(n2)
    if (denom == 0.0) null else dot / denom
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcScore =
    copy(child = newChild)
}

/** Multi-query ADC scoring — [[PqAdcScore]] for a BATCH of queries in one
  * kernel node: `lutDot` stacks each query's m×k dot table
  * (`lutDot[(qi·m + sub)·k + code]`), `lutNorm` holds the centroid norms
  * ONCE (they are query-independent), and `qnorms[qi]` the per-query norm.
  * The right child selects the query: each scanned code row arrives joined
  * to the (query, cell) probe pairs, so one scan of the unioned cells
  * scores every (row, probing query) pair — the batch-serving shape at
  * PQ compression. The stacked table is B·m·k doubles built once on the
  * driver (FAISS's coordinator does the same): 1000 queries × 8×256 ≈
  * 16 MB, broadcast-sized by the batch contract. Scores are bit-identical
  * to [[PqAdcScore]] per query (same accumulation order; spec-pinned).
  * Codes may be `array<int>` or byte-packed BINARY, as in the single-query
  * kernel; an out-of-range code, query index, or zero reconstruction
  * scores null.
  */
case class PqAdcScoreMulti(left: Expression, right: Expression, k: Int,
    lutDot: Seq[Double], lutNorm: Seq[Double], qnorms: Seq[Double])
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_score_multi"
  private def m: Int = if (k == 0) 0 else lutNorm.length / k
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _) | BinaryType, IntegerType) =>
        if (k < 1 || lutNorm.isEmpty || lutNorm.length % k != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutNorm must be a non-empty multiple of k, got ${lutNorm.length}")
        else if (qnorms.isEmpty || lutDot.length != qnorms.length * lutNorm.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutDot length ${lutDot.length} != nQueries×m×k " +
              s"${qnorms.length * lutNorm.length}")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (array<int> or binary codes, int query index), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val ld = lutDot.toArray
  @transient private lazy val ln = lutNorm.toArray
  @transient private lazy val qn = qnorms.toArray
  private lazy val binary = left.dataType == BinaryType

  override def nullSafeEval(codesAny: Any, qiAny: Any): Any = {
    val qi = qiAny.asInstanceOf[Int]
    if (qi < 0 || qi >= qn.length) return null
    val base = qi * m * k
    var dot = 0.0
    var n2 = 0.0
    if (binary) {
      val codes = codesAny.asInstanceOf[Array[Byte]]
      if (codes.length != m) return null
      var sub = 0
      while (sub < m) {
        val c = codes(sub) & 0xff // unsigned byte code
        if (c >= k) return null
        dot += ld(base + sub * k + c)
        n2 += ln(sub * k + c)
        sub += 1
      }
    } else {
      val codes = codesAny.asInstanceOf[ArrayData]
      if (codes.numElements() != m) return null
      var sub = 0
      while (sub < m) {
        if (codes.isNullAt(sub)) return null
        val c = codes.getInt(sub)
        if (c < 0 || c >= k) return null
        dot += ld(base + sub * k + c)
        n2 += ln(sub * k + c)
        sub += 1
      }
    }
    val denom = qn(qi) * math.sqrt(n2)
    if (denom == 0.0) null else dot / denom
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcScoreMulti =
    copy(left = newLeft, right = newRight)
}

/** Multi-query RESIDUAL ADC scoring — [[PqAdcResidualScore]] for a query
  * batch in one kernel node. The residual decomposition splits cleanly by
  * what depends on the query: `lutCross` (cell-centroid × residual-centroid
  * cross terms), `lutResidNorm`, and `cellNorm2` are query-INDEPENDENT and
  * stored once for the probed-cell union; only `lutDot` (query × residual
  * centroids, stacked `lutDot[(qi·m + sub)·k + c]`), `qDotCell`
  * (`qDotCell[qi·nCells + ci]`), and `qnorms` stack per query. Children:
  * (codes, cell, query index) — each scanned row arrives joined to the
  * (query, cell) probe pairs, so one scan of the unioned cells scores
  * every (row, probing query) pair, bit-identically to the single-query
  * kernel (same accumulation order; spec-pinned). Codes may be
  * `array<int>` or byte-packed BINARY. A row from a cell outside the
  * union, an out-of-range code or query index, or a zero reconstruction
  * scores null.
  */
case class PqAdcResidualScoreMulti(first: Expression, second: Expression,
    third: Expression, k: Int, probedCells: Seq[Int], lutDot: Seq[Double],
    lutResidNorm: Seq[Double], lutCross: Seq[Double], qDotCell: Seq[Double],
    cellNorm2: Seq[Double], qnorms: Seq[Double])
    extends TernaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_residual_score_multi"
  private def m: Int = if (k == 0) 0 else lutResidNorm.length / k
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(IntegerType, _) | BinaryType, IntegerType, IntegerType) =>
        if (k < 1 || lutResidNorm.isEmpty || lutResidNorm.length % k != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutResidNorm must be a non-empty multiple of k, got ${lutResidNorm.length}")
        else if (lutDot.length != qnorms.length * lutResidNorm.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutDot length ${lutDot.length} != nQueries×m×k " +
              s"${qnorms.length * lutResidNorm.length}")
        else if (lutCross.length != probedCells.length * lutResidNorm.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutCross length ${lutCross.length} != cells×m×k " +
              s"${probedCells.length * lutResidNorm.length}")
        else if (qDotCell.length != qnorms.length * probedCells.length ||
            cellNorm2.length != probedCells.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: per-cell tables must match nQueries×cells and cells, " +
              s"got ${qDotCell.length} and ${cellNorm2.length}")
        else TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (array<int> or binary codes, int cell, int query " +
          s"index), got (${a.catalogString}, ${b.catalogString}, ${c.catalogString})")
    }

  @transient private lazy val ld = lutDot.toArray
  @transient private lazy val lr = lutResidNorm.toArray
  @transient private lazy val lc = lutCross.toArray
  @transient private lazy val qdc = qDotCell.toArray
  @transient private lazy val qn = qnorms.toArray
  @transient private lazy val cellIdx: Map[Int, Int] = probedCells.zipWithIndex.toMap
  private lazy val binary = first.dataType == BinaryType

  override def nullSafeEval(codesAny: Any, cellAny: Any, qiAny: Any): Any = {
    val ci = cellIdx.getOrElse(cellAny.asInstanceOf[Int], -1)
    val qi = qiAny.asInstanceOf[Int]
    if (ci < 0 || qi < 0 || qi >= qn.length) return null
    val mk = m * k
    var dot = qdc(qi * probedCells.length + ci)
    var n2 = cellNorm2(ci)
    if (binary) {
      val codes = codesAny.asInstanceOf[Array[Byte]]
      if (codes.length != m) return null
      var sub = 0
      while (sub < m) {
        val c = codes(sub) & 0xff // unsigned byte code
        if (c >= k) return null
        val i = sub * k + c
        dot += ld(qi * mk + i)
        n2 += 2.0 * lc(ci * mk + i) + lr(i)
        sub += 1
      }
    } else {
      val codes = codesAny.asInstanceOf[ArrayData]
      if (codes.numElements() != m) return null
      var sub = 0
      while (sub < m) {
        if (codes.isNullAt(sub)) return null
        val c = codes.getInt(sub)
        if (c < 0 || c >= k) return null
        val i = sub * k + c
        dot += ld(qi * mk + i)
        n2 += 2.0 * lc(ci * mk + i) + lr(i)
        sub += 1
      }
    }
    val denom = qn(qi) * math.sqrt(math.max(n2, 0.0))
    if (denom == 0.0) null else dot / denom
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): PqAdcResidualScoreMulti =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Residual-PQ ADC scoring — the faiss-IVFPQ formulation: codes quantize
  * the RESIDUAL x − c_cell, so the reconstruction is x̂ = c_cell + r̂ and
  * cosine needs three LUT families plus two per-cell scalars, all built
  * once per query on the driver:
  *
  *   dot(q, x̂)  = qDotCell(cell) + Σ_sub lutDot(sub·k + code_sub)
  *   ‖x̂‖²      = cellNorm2(cell) + Σ_sub [ 2·lutCross((ci·m + sub)·k + code_sub)
  *                                          + lutResidNorm(sub·k + code_sub) ]
  *
  * where `lutCross` is PER PROBED CELL (dot of the cell centroid's
  * subspace slice with each residual centroid — the term a raw-PQ ADC
  * does not need), and subspace cross-terms of r̂ vanish because
  * reconstruction is concatenation. The score is therefore the EXACT
  * cosine of q and the reconstruction; residual quantization shrinks
  * ‖x − x̂‖ versus raw PQ because each subspace codebook only has to
  * cover the within-cell spread, not the coarse structure. A row from a
  * cell outside `probedCells`, an out-of-range code, or a zero
  * reconstruction scores null.
  */
case class PqAdcResidualScore(left: Expression, right: Expression, k: Int,
    probedCells: Seq[Int], lutDot: Seq[Double], lutResidNorm: Seq[Double],
    lutCross: Seq[Double], qDotCell: Seq[Double], cellNorm2: Seq[Double],
    qnorm: Double)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "pq_adc_residual_score"
  private def m: Int = lutDot.length / k
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _) | BinaryType, IntegerType) =>
        if (k < 1 || lutDot.isEmpty || lutDot.length % k != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutDot must be a non-empty multiple of k, got ${lutDot.length}")
        else if (lutResidNorm.length != lutDot.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutResidNorm length ${lutResidNorm.length} != lutDot ${lutDot.length}")
        else if (lutCross.length != probedCells.length * lutDot.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: lutCross length ${lutCross.length} != cells×m×k " +
              s"${probedCells.length * lutDot.length}")
        else if (qDotCell.length != probedCells.length ||
            cellNorm2.length != probedCells.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: per-cell scalars must match probedCells ${probedCells.length}")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (array<int> or binary codes, int cell), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  @transient private lazy val ld = lutDot.toArray
  @transient private lazy val lr = lutResidNorm.toArray
  @transient private lazy val lc = lutCross.toArray
  @transient private lazy val cellIdx: Map[Int, Int] = probedCells.zipWithIndex.toMap
  private lazy val binary = left.dataType == BinaryType

  override def nullSafeEval(codesAny: Any, cellAny: Any): Any = {
    val ci = cellIdx.getOrElse(cellAny.asInstanceOf[Int], -1)
    if (ci < 0) return null
    var dot = qDotCell(ci)
    var n2 = cellNorm2(ci)
    if (binary) {
      val codes = codesAny.asInstanceOf[Array[Byte]]
      if (codes.length != m) return null
      var sub = 0
      while (sub < m) {
        val c = codes(sub) & 0xff // unsigned byte code
        if (c >= k) return null
        val i = sub * k + c
        dot += ld(i)
        n2 += 2.0 * lc(ci * m * k + i) + lr(i)
        sub += 1
      }
    } else {
      val codes = codesAny.asInstanceOf[ArrayData]
      if (codes.numElements() != m) return null
      var sub = 0
      while (sub < m) {
        if (codes.isNullAt(sub)) return null
        val c = codes.getInt(sub)
        if (c < 0 || c >= k) return null
        val i = sub * k + c
        dot += ld(i)
        n2 += 2.0 * lc(ci * m * k + i) + lr(i)
        sub += 1
      }
    }
    val denom = qnorm * math.sqrt(math.max(n2, 0.0))
    if (denom == 0.0) null else dot / denom
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcResidualScore =
    copy(left = newLeft, right = newRight)
}

/** Sparse dot product of a hashed-feature row with a LITERAL dense weight
  * vector — the scoring kernel of the hashed linear classifier
  * ([[graft.operators.QualityClassifier]]): Σᵢ weights(indices(i)) ·
  * values(i). The weights are a model artifact (dim doubles, driver-sized
  * by the feature-hashing contract), inlined exactly like the k-means
  * centroid and PQ LUT literals, so scoring is a narrow per-row loop —
  * no join against a weights table, no shuffle. An index outside
  * [0, dim) or a length mismatch between the two arrays scores null
  * (a corrupt row must surface, not silently contribute 0).
  */
case class SparseDotLit(left: Expression, right: Expression,
    weights: Seq[Double])
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sparse_dot_lit"
  override def checkInputDataTypes(): TypeCheckResult = {
    if (weights.isEmpty)
      return TypeCheckResult.TypeCheckFailure(s"$prettyName: empty weights")
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expected (array<int>, array<double>), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }
  }
  @transient private lazy val w = weights.toArray
  private lazy val ln = VectorKernels.elemNullable(left)
  private lazy val rn = VectorKernels.elemNullable(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val idx = a.asInstanceOf[ArrayData]
    val vals = b.asInstanceOf[ArrayData]
    if (idx.numElements() != vals.numElements()) return null
    val n = idx.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if ((ln && idx.isNullAt(i)) || (rn && vals.isNullAt(i))) return null
      val j = idx.getInt(i)
      if (j < 0 || j >= w.length) return null
      s += w(j) * vals.getDouble(i)
      i += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SparseDotLit =
    copy(left = newLeft, right = newRight)
}

/** Scalar (SQ8) encoding: an `array<float|double>` vector → `dim` unsigned
  * bytes under per-dimension linear quantization
  * `code_d = round(255 · (x_d − min_d) / Δ_d)` (clamped to [0, 255];
  * a zero-range dimension encodes 0). The per-dim (min, Δ) tables are
  * model literals — dim doubles each, the k-means-centroid move — so
  * encoding is one narrow loop per row producing 4× smaller storage than
  * float32. Out-of-range inputs (a delta batch drifting past the trained
  * range) CLAMP, matching the FAISS SQ8 convention: quantization error is
  * bounded inside the trained range and saturates outside it.
  */
/** Nearest-centroid assignment against a LITERAL flat centroid table —
  * `struct(cluster, dist)` of the squared-euclidean argmin, ties to the
  * LOWEST index. One expression node regardless of k: the composed form
  * (`array_min` over k `struct(sq_dist, j)` nodes — KMeans.assign's
  * original shape) builds a k-wide expression tree whose analysis cost
  * and plan size grow with the quantizer, the BUILD-side twin of the
  * probe-side centroid-literal joint CentroidIndex closed. Arithmetic is
  * the same left-to-right (a_i − b_i)² accumulation as [[SqDist]] with
  * strict-`<` improvement, so the assignment is bit-identical to the
  * composed form (KMeansSpec pins it). The flat table is the k×dim model
  * constant every k-means implementation ships to executors anyway.
  */
case class CellArgminLit(child: Expression, k: Int, flat: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("cluster", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "cell_argmin"
  private def dim: Int = if (k == 0) 0 else flat.length / k
  override def checkInputDataTypes(): TypeCheckResult =
    KernelTypes.check(prettyName, child -> KernelTypes.vec) match {
      case TypeCheckResult.TypeCheckSuccess if k < 1 =>
        TypeCheckResult.TypeCheckFailure(s"$prettyName: k must be >= 1, got $k")
      case TypeCheckResult.TypeCheckSuccess
          if flat.isEmpty || flat.length % k != 0 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: centroid table length ${flat.length} is not a " +
            s"positive multiple of k=$k")
      case ok => ok
    }

  private lazy val f = VectorKernels.isFloatArray(child)
  private lazy val en = VectorKernels.elemNullable(child)
  @transient private lazy val cs = flat.toArray

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    val d = dim
    if (x.numElements() != d) return null
    val xs = new Array[Double](d)
    var i = 0
    while (i < d) {
      if (en && x.isNullAt(i)) return null
      xs(i) = VectorKernels.elem(x, i, f)
      i += 1
    }
    var best = 0
    var bestD = Double.MaxValue
    var j = 0
    while (j < k) {
      var s = 0.0
      var t = 0
      val base = j * d
      while (t < d) { val df = xs(t) - cs(base + t); s += df * df; t += 1 }
      if (s < bestD) { bestD = s; best = j }
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best, bestD)
  }

  override protected def withNewChildInternal(newChild: Expression): CellArgminLit =
    copy(child = newChild)
}

case class Sq8Encode(child: Expression, mins: Seq[Double], deltas: Seq[Double])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_encode"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      if (mins.isEmpty || mins.length != deltas.length)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: mins/deltas must be equal-length non-empty, " +
            s"got ${mins.length} and ${deltas.length}")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: vector must be array<float|double>, got ${other.catalogString}")
  }
  @transient private lazy val mn = mins.toArray
  @transient private lazy val dl = deltas.toArray
  private lazy val flt = VectorKernels.isFloatArray(child)
  private lazy val en = VectorKernels.elemNullable(child)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() != mn.length) return null
    val out = new Array[Byte](mn.length)
    var d = 0
    while (d < mn.length) {
      if (en && x.isNullAt(d)) return null
      val c =
        if (dl(d) == 0.0) 0
        else {
          val raw = math.round(255.0 * (VectorKernels.elem(x, d, flt) - mn(d)) / dl(d))
          math.min(255L, math.max(0L, raw)).toInt
        }
      out(d) = c.toByte
      d += 1
    }
    out
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8Encode =
    copy(child = newChild)
}

/** SQ8 asymmetric cosine: the query stays float, each stored byte row is
  * scored against its RECONSTRUCTION `x̂_d = min_d + code_d · Δ_d / 255`
  * without materializing it — all query×table cross terms are folded into
  * per-dim driver constants, so the per-row loop is one multiply-add pair
  * per dimension over bytes:
  *   dot  = dotBase + Σ aDot_d · c_d          (aDot_d = q_d Δ_d / 255)
  *   ‖x̂‖² = n2Base + Σ (nLin_d · c_d + nQuad_d · c_d²)
  * with dotBase = Σ q_d min_d, n2Base = Σ min_d², nLin_d = 2 min_d Δ_d/255,
  * nQuad_d = (Δ_d/255)². The score is EXACTLY the float cosine of q with
  * x̂ (Sq8Spec pins to 1e-12), so serving quality is a pure function of
  * quantization error. A wrong-width row scores null.
  */
case class Sq8AdcScore(child: Expression, aDot: Seq[Double], nLin: Seq[Double],
    nQuad: Seq[Double], dotBase: Double, n2Base: Double, qnorm: Double)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_adc_score"
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType =>
      if (aDot.isEmpty || aDot.length != nLin.length || aDot.length != nQuad.length)
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName: per-dim tables must be equal-length non-empty, got " +
            s"${aDot.length}/${nLin.length}/${nQuad.length}")
      else TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName: codes must be binary, got ${other.catalogString}")
  }
  @transient private lazy val ad = aDot.toArray
  @transient private lazy val nl = nLin.toArray
  @transient private lazy val nq = nQuad.toArray

  override def nullSafeEval(input: Any): Any = {
    val codes = input.asInstanceOf[Array[Byte]]
    if (codes.length != ad.length) return null
    var dot = dotBase
    var n2 = n2Base
    var d = 0
    while (d < codes.length) {
      val c = (codes(d) & 0xff).toDouble
      dot += ad(d) * c
      n2 += nl(d) * c + nq(d) * c * c
      d += 1
    }
    val denom = qnorm * math.sqrt(math.max(n2, 0.0))
    if (denom == 0.0) null else dot / denom
  }

  override protected def withNewChildInternal(newChild: Expression): Sq8AdcScore =
    copy(child = newChild)
}

/** Multi-query SQ8 asymmetric cosine — [[Sq8AdcScore]] for a BATCH of
  * queries in one kernel node. The SQ8 decomposition splits by what
  * depends on the query even more cleanly than PQ's: the reconstruction
  * norm (`nLin`/`nQuad`/`n2Base`) is query-INDEPENDENT and stored once;
  * only the folded dot weights (`aDot[qi·dim + d] = q_d Δ_d / 255`),
  * `dotBase[qi] = Σ q_d min_d`, and `qnorms[qi]` stack per query —
  * B·dim + 2B doubles for the whole batch. The right child selects the
  * query: each scanned code row arrives joined to the (query, cell)
  * probe pairs, so one scan of the unioned cells scores every
  * (row, probing query) pair. Accumulation order per dimension is
  * identical to the single-query kernel, so scores are bit-identical to
  * [[Sq8AdcScore]] per query (spec-pinned). A wrong-width row or
  * out-of-range query index scores null.
  */
case class Sq8AdcScoreMulti(left: Expression, right: Expression,
    aDot: Seq[Double], nLin: Seq[Double], nQuad: Seq[Double],
    dotBase: Seq[Double], n2Base: Double, qnorms: Seq[Double])
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq8_adc_score_multi"
  private def dim: Int = nLin.length
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, IntegerType) =>
        if (nLin.isEmpty || nQuad.length != nLin.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: per-dim norm tables must be equal-length non-empty, " +
              s"got ${nLin.length}/${nQuad.length}")
        else if (qnorms.isEmpty || aDot.length != qnorms.length * nLin.length ||
            dotBase.length != qnorms.length)
          TypeCheckResult.TypeCheckFailure(
            s"$prettyName: aDot length ${aDot.length} != nQueries×dim " +
              s"${qnorms.length * nLin.length} or dotBase ${dotBase.length} != " +
              s"nQueries ${qnorms.length}")
        else TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName: expects (binary codes, int query index), " +
          s"got (${l.catalogString}, ${r.catalogString})")
    }
  @transient private lazy val ad = aDot.toArray
  @transient private lazy val nl = nLin.toArray
  @transient private lazy val nq = nQuad.toArray
  @transient private lazy val db = dotBase.toArray
  @transient private lazy val qn = qnorms.toArray

  override def nullSafeEval(codesAny: Any, qiAny: Any): Any = {
    val qi = qiAny.asInstanceOf[Int]
    if (qi < 0 || qi >= qn.length) return null
    val codes = codesAny.asInstanceOf[Array[Byte]]
    if (codes.length != dim) return null
    val base = qi * dim
    var dot = db(qi)
    var n2 = n2Base
    var d = 0
    while (d < codes.length) {
      val c = (codes(d) & 0xff).toDouble
      dot += ad(base + d) * c
      n2 += nl(d) * c + nq(d) * c * c
      d += 1
    }
    val denom = qn(qi) * math.sqrt(math.max(n2, 0.0))
    if (denom == 0.0) null else dot / denom
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Sq8AdcScoreMulti =
    copy(left = newLeft, right = newRight)
}
