package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native random-hyperplane signature for embedding LSH
  * ([[graft.operators.Similarity]]).
  *
  * The HOF formulation (`aggregate(zip_with(vec, sequence(...), ...))` per
  * plane) re-derives every hyperplane component ±sign from xxhash64 PER ROW
  * on the interpreted lambda path — planes × dims lambda evaluations and two
  * array allocations per row per plane. This expression derives the sign
  * matrix ONCE per (task, dims) and runs the projection as a JIT-compiled
  * dot-product loop; output bits are identical to the HOF version (same
  * `xxhash64(seed, plane, i) & 1` chain: seed hashed as long, plane and
  * element index as ints — Spark's per-type XXH64 fold).
  */
case class HyperplaneSig(child: Expression, planes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  require(planes >= 1 && planes <= 64, s"planes $planes out of [1, 64]")

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"
  override protected def withNewChildInternal(c: Expression): HyperplaneSig =
    copy(child = c)

  // lazy: child is unresolved at construction time (dataType would throw)
  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other =>
      throw new IllegalArgumentException(s"hyperplane_sig over $other")
  }

  // sign matrix cache: per-task expression instance, keyed by dims (all rows
  // of a column share dims in practice; a ragged column just re-derives)
  @transient private var signs: Array[Array[Double]] = _
  @transient private var cachedDims: Int = -1

  private def signMatrix(dims: Int): Array[Array[Double]] = {
    if (cachedDims != dims) {
      val m = Array.ofDim[Double](planes, dims)
      var p = 0
      while (p < planes) {
        val hp = XXH64.hashInt(p, XXH64.hashLong(seed, 42L))
        var i = 0
        while (i < dims) {
          m(p)(i) = if ((XXH64.hashInt(i, hp) & 1L) == 0L) 1.0 else -1.0
          i += 1
        }
        p += 1
      }
      signs = m
      cachedDims = dims
    }
    signs
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dims = arr.numElements()
    val m = signMatrix(dims)
    val v = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      v(i) = if (arr.isNullAt(i)) 0.0
        else if (isFloat) arr.getFloat(i).toDouble
        else arr.getDouble(i)
      i += 1
    }
    var sig = 0L
    var p = 0
    while (p < planes) {
      val s = m(p)
      var dot = 0.0
      var j = 0
      while (j < dims) { dot += v(j) * s(j); j += 1 }
      if (dot > 0) sig |= 1L << p
      p += 1
    }
    sig
  }
}

/** Top-`n` centroid cells for a vector by dot product (IVF probe /
  * assignment). Centroids ride in the expression as literals — broadcast
  * with the plan, no join, no driver state at eval time. Ties break toward
  * the lower cell id (deterministic). `n = 1` is the assignment case. */
case class TopCells(child: Expression, centroids: Seq[Seq[Double]], n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1 && n <= centroids.size,
    s"nprobe $n out of [1, ${centroids.size}]")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "top_cells"
  override protected def withNewChildInternal(c: Expression): TopCells =
    copy(child = c)

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(s"top_cells over $other")
  }
  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dims = arr.numElements()
    val v = new Array[Double](dims)
    var i = 0
    while (i < dims) {
      v(i) = if (arr.isNullAt(i)) 0.0
        else if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val nc = cents.length
    val dots = new Array[Double](nc)
    var c = 0
    while (c < nc) {
      val cen = cents(c)
      val d = math.min(dims, cen.length)
      var dot = 0.0
      var j = 0
      while (j < d) { dot += v(j) * cen(j); j += 1 }
      dots(c) = dot
      c += 1
    }
    // partial selection of the n best cells (n is small)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](nc)
    var k = 0
    while (k < n) {
      var best = -1
      var bestDot = Double.NegativeInfinity
      var c2 = 0
      while (c2 < nc) {
        if (!taken(c2) && dots(c2) > bestDot) { best = c2; bestDot = dots(c2) }
        c2 += 1
      }
      // a NaN element makes every dot NaN, which never beats -Infinity —
      // name the cause instead of crashing on taken(-1)
      if (best < 0) throw new IllegalArgumentException(
        "top_cells: no comparable cell dot product — the vector has NaN " +
          "elements; filter or repair embeddings first")
      taken(best) = true
      out(k) = best
      k += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorExprs {
  def hyperplaneSig(vec: Column, planes: Int, seed: Long): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(vec), planes, seed))

  /** Native one-pass symmetric int8 quantization (see [[QuantizeInt8]]). */
  def quantizeInt8(vec: Column): Column =
    Bridge.column(QuantizeInt8(Bridge.expression(vec)))

  def topCells(vec: Column, centroids: Seq[Seq[Double]], n: Int): Column =
    Bridge.column(TopCells(Bridge.expression(vec), centroids, n))

  /** Native dot product (see [[VectorDot]]). */
  def vectorDot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expression(a), Bridge.expression(b)))

  /** Native one-pass cosine (see [[VectorCosine]]). */
  def vectorCosine(a: Column, b: Column): Column =
    Bridge.column(VectorCosine(Bridge.expression(a), Bridge.expression(b)))

  /** Project a vector onto fitted principal components:
    * `y(j) = Σ_i (x(i) - mean(i)) · components(j)(i)` (see
    * [[graft.operators.Embeddings]]). Components ride as literals —
    * broadcast with the plan. */
  def pcaProject(vec: Column, mean: Seq[Double],
      components: Seq[Seq[Double]]): Column =
    Bridge.column(PcaProject(Bridge.expression(vec), mean, components))
}

/** Native element-wise dot product of two float/double array columns —
  * drop-in for the `aggregate(zip_with(a, b, *), 0.0, +)` HOF chain with
  * IDENTICAL semantics (left-to-right double accumulation, so values are
  * bit-equal; null if the lengths differ — zip_with's null padding — or
  * any element is null) at ~50× less per-pair cost: the HOF path
  * allocates a zipped array and interprets two lambdas per element,
  * which dominated every pair-scoring stage (semanticDedup's block join
  * measured ~5µs/pair on dim-64 vectors; this loop is ~0.1µs). */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): VectorDot = copy(left = l, right = r)

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other =>
      throw new IllegalArgumentException(s"vector_dot over $other")
  }
  private lazy val lf = isFloat(left)
  private lazy val rf = isFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }
}

/** Native cosine similarity — `dot / (√Σx² · √Σy²)` in ONE pass over the
  * two arrays (the HOF formulation re-walks both arrays three times:
  * dot + each norm). Same values as the composed form: identical
  * left-to-right accumulation, identical null rules, 0-vector pairs
  * still yield NaN/±Inf via plain IEEE division. */
case class VectorCosine(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_cosine"
  override protected def withNewChildrenInternal(l: Expression,
      r: Expression): VectorCosine = copy(left = l, right = r)

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other =>
      throw new IllegalArgumentException(s"vector_cosine over $other")
  }
  private lazy val lf = isFloat(left)
  private lazy val rf = isFloat(right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}

/** One-pass symmetric int8 quantization: `struct(scale, q)` with
  * `scale = max(|v_i|)/127` and `q_i = round(v_i / scale)` — the storage
  * kernel behind every SQ8 index write
  * ([[graft.operators.Similarity.quantizeInt8]]).
  *
  * Values are BIT-IDENTICAL to the HOF formulation it replaces
  * (`aggregate` absMax + `transform(round(x / (absMax/127)))`): the
  * absMax fold keeps Spark's greatest semantics (NaN orders above every
  * number; nulls don't lower the fold), rounding is HALF_UP through
  * BigDecimal exactly like Spark's `Round`, a zero scale yields
  * ALL-ZERO codes (nulls included — the `transform(_ => 0)` branch),
  * and a null element otherwise carries through as a null code. A NaN
  * scale (some element was NaN) takes the QUANTIZE branch like the HOF
  * did — Spark's `>` orders NaN above every number, so `scale > 0` was
  * TRUE there — every division yields NaN, Round passes it through,
  * and the byte cast lands 0, with null elements PRESERVED (unlike the
  * zero-scale branch; a review of the first cut caught the two NaN
  * branches swapped, which silently turned null codes into 0s).
  *
  * ONE declared departure (r16 ADVICE #4): a NULL input ARRAY. The HOF
  * struct() was non-null with null `scale`/`q` FIELDS; this
  * UnaryExpression's default null handling returns a null STRUCT (and
  * declares the fields non-nullable accordingly). Identical after
  * field extraction — `s.scale`/`s.q` are null either way, which is
  * all the index write path reads — but a caller comparing WHOLE
  * structs (or pattern-matching struct nullability) sees the
  * difference; the bit-identity claim above is per-field, conditional
  * on a non-null input.
  *
  * Why native (r16, scaling/ivf_route_width.json): in the HOF form the
  * `scale` operand of the per-element divide is the whole O(d) absMax
  * aggregate, and the interpreted lambda path re-evaluates it for EVERY
  * element — O(d²) per row. Quantizing 50k d = 4096 vectors ran ~20
  * minutes there; this loop is O(d) and takes seconds. At ingest scale
  * (SQ8-index a 100 TB embedding corpus) the difference is the job. */
case class QuantizeInt8(child: Expression)
    extends UnaryExpression with CodegenFallback {
  import org.apache.spark.sql.types.{ByteType, StructField, StructType}

  override def dataType: DataType = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(ByteType, containsNull = true),
      nullable = false)))
  override def prettyName: String = "quantize_int8"
  override protected def withNewChildInternal(c: Expression): QuantizeInt8 =
    copy(child = c)

  // analysis-time rejection (the HOF form cast any numeric element to
  // double; this expression reads float/double directly — an int or
  // decimal array must be cast by the caller, and should learn that at
  // plan time, not hours into a write stage)
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"quantize_int8 expects array<float>/array<double>, got " +
            s"${other.catalogString} — cast the column first")
    }

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other =>
      throw new IllegalArgumentException(s"quantize_int8 over $other")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    // greatest-fold |v_i| with Spark's NaN-is-largest ordering; nulls
    // leave the accumulator untouched
    var absMax = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val v = math.abs(
          if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i))
        if (v.isNaN || v > absMax) absMax = v
      }
      i += 1
    }
    val scale = absMax / 127.0
    val codes = new Array[Any](n)
    if (scale > 0 || scale.isNaN) { // Spark's `>` puts NaN above 0: the
      i = 0                         // HOF quantize branch fired for NaN too
      while (i < n) {
        if (arr.isNullAt(i)) codes(i) = null
        else {
          val v = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          val q = v / scale
          // HALF_UP through BigDecimal — Spark Round's exact semantics
          // (including its NaN/∞ passthrough: ±∞ elements under a
          // finite scale divide to ±∞/NaN, which Round passes through
          // and the byte cast truncates) — so values match the HOF
          // form bit-for-bit
          codes(i) =
            if (q.isNaN || q.isInfinite) q.toByte
            else java.math.BigDecimal.valueOf(q)
              .setScale(0, java.math.RoundingMode.HALF_UP)
              .doubleValue().toByte
        }
        i += 1
      }
    } else {
      i = 0
      while (i < n) { codes(i) = 0.toByte; i += 1 }
    }
    org.apache.spark.sql.catalyst.InternalRow(scale,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(codes))
  }
}

/** Centered projection onto a fitted component matrix (k×d): the scoring
  * half of PCA/whitening. Mean and components are expression literals —
  * shipped once with the plan, no join against a components table, no
  * driver state at eval time (the [[TopCells]] posture). Whitening is the
  * caller folding 1/√λ into each component row — one expression serves
  * both. */
case class PcaProject(child: Expression, mean: Seq[Double],
    components: Seq[Seq[Double]])
    extends UnaryExpression with CodegenFallback {
  require(components.nonEmpty, "pca_project: no components")
  require(components.forall(_.length == mean.length),
    s"pca_project: component width(s) ${components.map(_.length).distinct
      .mkString(",")} != mean width ${mean.length}")

  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pca_project"
  override protected def withNewChildInternal(c: Expression): PcaProject =
    copy(child = c)

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other =>
      throw new IllegalArgumentException(s"pca_project over $other")
  }
  @transient private lazy val mu: Array[Double] = mean.toArray
  @transient private lazy val comp: Array[Array[Double]] =
    components.map(_.toArray).toArray

  override protected def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = mu.length
    require(arr.numElements() == d,
      s"pca_project: expected dim $d, got ${arr.numElements()}")
    val x = new Array[Double](d)
    var i = 0
    while (i < d) {
      // loud, matching VectorMoments (the fit half): a null element
      // silently coerced to 0 would feed plausible-looking but wrong
      // coordinates into downstream dedup/clustering
      if (arr.isNullAt(i)) throw new IllegalArgumentException(
        s"pca_project: null vector element at $i")
      x(i) = (if (isFloat) arr.getFloat(i).toDouble
        else arr.getDouble(i)) - mu(i)
      i += 1
    }
    val k = comp.length
    val y = new Array[Double](k)
    var j = 0
    while (j < k) {
      val c = comp(j)
      var dot = 0.0
      i = 0
      while (i < d) { dot += x(i) * c(i); i += 1 }
      y(j) = dot
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(y)
  }
}
