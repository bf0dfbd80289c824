package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

import graft.functions.{AggExprs, VectorExprs}

/** Distributed PCA / whitening over an embedding column — the
  * preprocessing step the SemDeDup paper (Abbas et al. 2023,
  * arXiv:2303.09540) and most embedding-dedup pipelines run before
  * clustering: reduce d to the k directions that carry the variance,
  * optionally whiten so every retained direction contributes equally to
  * distances.
  *
  * Scale shape: fitting is one bounded pivot-election aggregate (min-by
  * hash over the vec column only — deterministic, see fitPca) plus ONE
  * moments pass — a custom [[graft.functions.VectorMoments]] buffer
  * (count, Σx, upper-triangle Σxxᵀ) that partial-aggregates map-side, so
  * the corpus ships exactly one (1 + d + d(d+1)/2)-double buffer per map
  * task to the driver, never a row. The d×d eigendecomposition is
  * driver-side Householder tridiagonalization + implicit-shift QL
  * ([[Embeddings.symEigen]]) — deterministic, O(d³) with the small
  * constant (1.45 s at d = 1024 vs cyclic Jacobi's 196 s; 13.1 s at
  * d = 2048 — scaling/pca_dim.json + pca_dim_2048.json), the same
  * bounded planning cost as qcut's quantiles or z-order's cut points. Projection
  * is a native per-row expression with the mean/components as plan
  * literals ([[graft.functions.PcaProject]]): no join, no second pass
  * over the corpus, whole-stage-pipelined with whatever scan feeds it.
  */
object Embeddings {

  /** A fitted PCA basis: `components(j)` is the j-th unit principal
    * direction (descending variance), `variances(j)` its sample variance
    * (eigenvalue of the (n-1)-normalized covariance). */
  final case class PcaModel(mean: Seq[Double],
      components: Seq[Seq[Double]], variances: Seq[Double]) {
    require(components.length == variances.length,
      "components/variances length mismatch")
    def dim: Int = mean.length
    def k: Int = components.length
    /** Deterministic 64-bit fingerprint of the exact fitted values (bit
      * patterns, not rounded decimals). Stamped into a whitened index's
      * meta so long-lived callers that cache the model (a streaming
      * ingest) detect an in-place REBUILD that changed the space under
      * them — at equal pcaK the dim guard alone cannot (the same blind
      * spot the `whitened` stamp closes for raw-vs-whitened). */
    def fingerprint: Long = {
      var h = 0xcbf29ce484222325L // FNV-1a offset basis, 64-bit
      def mix(x: Double): Unit = {
        var b = java.lang.Double.doubleToLongBits(x)
        var i = 0
        while (i < 8) { h ^= b & 0xff; h *= 0x100000001b3L; b >>>= 8; i += 1 }
      }
      mean.foreach(mix); components.foreach(_.foreach(mix))
      variances.foreach(mix)
      h
    }
  }

  /** Fit the top-`k` principal components of `vec` over `df` in one
    * distributed pass + one driver-side d×d eigensolve. Null vectors are
    * skipped; needs at least 2 non-null rows (sample covariance), and
    * every vector must have the same length.
    *
    * `maxDim` is the fit's ENVELOPE, enforced loudly: the moments buffer
    * is d(d+1)/2 doubles PER MAP TASK (~16.8 MB at d = 2048) and the
    * driver eigensolve ([[symEigen]]) is O(d³) (measured: 1.45 s at
    * d = 1024; at the d = 2048 default the solve is 13.1 s and the
    * full fit 21.8 s over 20k rows — scaling/pca_dim*.json). Past the
    * default, raise
    * `maxDim` explicitly if the driver is sized for it, or reduce
    * dimensionality upstream (random projection / chunked PCA) instead
    * of asking a covariance eigensolve to do it. */
  /** One probed row doubling as the dim witness AND the moment pivot:
    * moments accumulated about a point near the data keep the
    * covariance subtraction benign where raw moments cancel
    * catastrophically for |mean| >> std (e.g. un-centered features at
    * 1e8 ± 1 lose all 16 significant digits to Σxxᵀ − n·μμᵀ). The pivot
    * is elected DETERMINISTICALLY — min over (xxhash64(v), v), the
    * array tie-break covering hash collisions — never whichever
    * partition won the race (a bare limit(1) would). Reproducibility
    * contract, stated precisely (r14 verdict #5): the PIVOT is
    * bit-identical under ANY plan or partition order (min is fully
    * commutative), so repeated fits over the same corpus AT THE SAME
    * PARTITIONING are bit-identical end-to-end; across RE-partitionings
    * the moments pass's float sums re-associate and the fitted values
    * may differ in the last ulps — `model_fp` is the detector a
    * persisted index uses to notice exactly that. One vec-column-only
    * scan; the moments pass follows. */
  private def probePivot(df: DataFrame, vec: Column,
      what: String): Array[Double] = {
    val probe = df.select(vec.cast(
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)).as("v"))
      .filter(F.col("v").isNotNull)
      .agg(F.min(F.struct(F.xxhash64(F.col("v")).as("h"),
        F.col("v").as("v"))).as("m"))
      .select(F.col("m.v")).collect()
    require(probe.nonEmpty && !probe.head.isNullAt(0),
      s"$what: no non-null vectors")
    val raw = probe.head.getSeq[Any](0)
    require(raw.forall(_ != null),
      s"$what: probed pivot vector has null elements")
    val pivot = raw.map(_.asInstanceOf[Double]).toArray
    require(pivot.forall(x => !x.isNaN),
      s"$what: probed pivot vector has NaN elements")
    pivot
  }

  def fitPca(df: DataFrame, vec: Column, k: Int,
      maxDim: Int = 2048): PcaModel =
    fitPcaPivoted(df, vec, k, maxDim, probePivot(df, vec, "fitPca"))

  /** [[fitPca]] with the pivot already probed — callers that must know
    * `d` BEFORE choosing a fit (the whitened index's exact-vs-randomized
    * route) probe once and hand the pivot down instead of paying the
    * probe's full-corpus aggregation twice. */
  private[graft] def fitPcaPivoted(df: DataFrame, vec: Column, k: Int,
      maxDim: Int, pivot: Array[Double]): PcaModel = {
    require(k >= 1, s"fitPca k must be >= 1, got $k")
    val d = pivot.length
    require(d <= maxDim,
      s"fitPca: vector dim $d exceeds the fit envelope maxDim = $maxDim" +
        " — the one-pass moments buffer is d(d+1)/2 doubles per map task" +
        f" (${d.toLong * (d + 1) / 2 * 8 / 1048576.0}%.1f MB at this d)" +
        " and the driver eigensolve is O(d³); use fitPcaTopK (randomized" +
        " subspace iteration, d×(k+p) buffers) at this width, raise" +
        " maxDim explicitly if the driver is sized for it, or reduce" +
        " dimensionality upstream")
    require(k <= d, s"fitPca k $k > dim $d")
    val row = df.select(
        AggExprs.vectorMoments(vec, d, pivot.toSeq).as("m"))
      .select("m.n", "m.sum", "m.gram").collect().head
    val n = row.getLong(0)
    require(n >= 2L, s"fitPca needs >= 2 vectors, got $n")
    val sum = row.getSeq[Double](1).toArray // Σ(x − pivot)
    val gram = row.getSeq[Double](2).toArray // Σ(x − pivot)(x − pivot)ᵀ
    val ybar = sum.map(_ / n)
    val mean = Array.tabulate(d)(i => pivot(i) + ybar(i))
    // sample covariance from the SHIFTED moments (shift-invariant):
    // C(i,j) = (Σ y_i y_j − n·ȳ_i·ȳ_j) / (n − 1), y = x − pivot
    val cov = Array.ofDim[Double](d, d)
    var idx = 0
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (gram(idx) - n * ybar(i) * ybar(j)) / (n - 1.0)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1; j += 1
      }
      i += 1
    }
    val (values, vectors) = symEigen(cov)
    PcaModel(mean.toSeq,
      components = (0 until k).map(j => vectors(j).toSeq),
      variances = values.take(k).toSeq)
  }

  /** Fit the top-`k` principal components by RANDOMIZED SUBSPACE
    * ITERATION (Halko–Martinsson–Tropp 2011, arXiv:0909.4061) — the
    * right algorithm when k ≪ d, which is exactly the whitened-index
    * regime (pcaK = 32-64 at d = 256-4096+): [[fitPca]]'s one-pass
    * moments buffer is d(d+1)/2 doubles per map task (67 MB at
    * d = 4096) and its driver eigensolve O(d³) — measured to 13.1 s at
    * the d = 2048 envelope (scaling/pca_dim_2048.json) and 8-9× per
    * doubling past it. This fit never materializes the covariance:
    * each pass computes C·Ω directly as one map-side-combined
    * aggregation ([[graft.functions.VectorProjMoments]] — 1 + d + d·m
    * doubles per map task, m = k + oversample; 2.6 MB at d = 4096,
    * m = 80), the driver orthonormalizes d×m between passes (O(d·m²))
    * and eigensolves only the m×m Rayleigh quotient. Passes over the
    * corpus: 1 pivot + (powerIters + 2) matvec passes.
    *
    * Deterministic for a FIXED partitioning: the test matrix Ω is a
    * seeded counter-based gaussian (splitmix64 → Box–Muller — no RNG
    * sequence state), iteration order is fixed, and components carry
    * the same sign convention as [[fitPca]] (largest-|component|
    * positive) — so same corpus + same partitioning + same seed ⇒
    * bit-identical model. Across RE-partitionings the matvec passes'
    * float sums re-associate and the model may differ in the last ulps
    * (r14 verdict #5) — `model_fp` stamps the exact fitted bits into a
    * persisted index so long-lived callers detect any such drift.
    *
    * Accuracy contract: with `powerIters` ≥ 2 and default oversampling,
    * components whose eigenvalues are separated match [[fitPca]] to
    * ~1e-5 in subspace angle, tightening with the spectral gap and
    * powerIters (spec-pinned via subspace agreement + residuals);
    * trailing components inside a near-degenerate cluster may span the
    * same eigenspace in a different basis — inherent to the problem,
    * same caveat as any eigensolver. Eigenvalue ACCURACY (not just
    * subspace capture) is what `powerIters` buys; 2 is the published
    * default posture for decaying spectra. */
  def fitPcaTopK(df: DataFrame, vec: Column, k: Int, oversample: Int = 8,
      powerIters: Int = 2, seed: Long = 42,
      maxDim: Int = 65536): PcaModel =
    fitPcaTopKPivoted(df, vec, k,
      probePivot(df, vec, "fitPcaTopK"), oversample, powerIters, seed,
      maxDim)

  /** [[fitPcaTopK]] with the pivot already probed — see
    * [[fitPcaPivoted]]. */
  private[graft] def fitPcaTopKPivoted(df: DataFrame, vec: Column, k: Int,
      pivot: Array[Double], oversample: Int = 8,
      powerIters: Int = 2, seed: Long = 42,
      maxDim: Int = 65536): PcaModel = {
    require(k >= 1, s"fitPcaTopK k must be >= 1, got $k")
    require(oversample >= 2, s"fitPcaTopK oversample must be >= 2")
    require(powerIters >= 0, s"fitPcaTopK powerIters must be >= 0")
    val d = pivot.length
    require(d <= maxDim,
      s"fitPcaTopK: vector dim $d exceeds maxDim = $maxDim — the " +
        "per-task buffer is d·(k+oversample) doubles; raise maxDim " +
        "explicitly if the executors are sized for it")
    require(k <= d, s"fitPcaTopK k $k > dim $d")
    val m = math.min(d, k + oversample)
    // seeded counter-based gaussian test matrix (column j of Ω lives at
    // om(i*m + j)): splitmix64 of the flat index → two 53-bit uniforms
    // → Box–Muller. No sequential RNG state, so the matrix is a pure
    // function of (seed, d, m) regardless of fill order.
    def gauss(idx: Long): Double = {
      def mix(z0: Long): Long = {
        var z = z0 + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val h1 = mix(seed * 0x100000001b3L + idx)
      val h2 = mix(h1)
      val u1 = ((h1 >>> 11).toDouble + 0.5) / 9007199254740992.0
      val u2 = (h2 >>> 11).toDouble / 9007199254740992.0
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
    }
    // basis held COLUMN-per-row: q(j) is direction j, contiguous length-d
    var q: Array[Array[Double]] =
      Array.tabulate(m, d)((j, i) => gauss(i.toLong * m + j))
    var mean: Array[Double] = null
    var nRows = 0L
    // one distributed pass: Y = C·Q from the shifted projected moments
    // (shift-invariant: Σ(y−ȳ)(y−ȳ)ᵀQ = Σ y(yᵀQ) − n·ȳ(ȳᵀQ), y = x−pivot)
    def matvecPass(): Array[Array[Double]] = {
      val mCur = q.length
      val omega = new Array[Double](d * mCur)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < mCur) { omega(i * mCur + j) = q(j)(i); j += 1 }
        i += 1
      }
      val row = df.select(graft.functions.AggExprs.vectorProjMoments(
          vec, d, mCur, pivot.toSeq, omega.toSeq).as("m"))
        .select("m.n", "m.sum", "m.g").collect().head
      val n = row.getLong(0)
      require(n >= 2L, s"fitPcaTopK needs >= 2 vectors, got $n")
      // the randomized fit makes SEVERAL passes over the corpus; a
      // source whose row count drifts between them (non-deterministic
      // frame, concurrent writer) would silently corrupt the subspace
      if (nRows == 0L) nRows = n
      else require(n == nRows,
        s"fitPcaTopK: corpus row count changed between passes " +
          s"($nRows -> $n) — the randomized fit needs a stable input; " +
          "cache or checkpoint the frame first")
      val sum = row.getSeq[Double](1).toArray
      val g = row.getSeq[Double](2).toArray
      val ybar = sum.map(_ / n)
      if (mean == null) mean = Array.tabulate(d)(i => pivot(i) + ybar(i))
      val t = new Array[Double](mCur) // ȳᵀQ
      i = 0
      while (i < d) {
        var j = 0
        while (j < mCur) { t(j) += ybar(i) * q(j)(i); j += 1 }
        i += 1
      }
      Array.tabulate(mCur, d)((j, i) =>
        (g(i * mCur + j) - n * ybar(i) * t(j)) / (n - 1.0))
    }
    // modified Gram–Schmidt, deterministic; a column whose residual
    // collapses (corpus rank below the sketch width) is DROPPED — the
    // final require tells the caller to lower k rather than padding the
    // basis with noise directions
    def orth(y: Array[Array[Double]]): Array[Array[Double]] = {
      // RELATIVE rank tolerance: columns of Y = C·Q scale with the
      // corpus variance, so an absolute cutoff would misread any
      // small-magnitude corpus (entries ~1e-7 → column norms ~1e-14)
      // as rank-deficient and refuse a full-rank fit the exact fitPca
      // accepts; residuals are judged against the largest input column
      var scale = 0.0
      var jj = 0
      while (jj < y.length) {
        var n2 = 0.0
        var l = 0
        while (l < d) { n2 += y(jj)(l) * y(jj)(l); l += 1 }
        if (n2 > scale) scale = n2
        jj += 1
      }
      val tol = math.sqrt(scale) * 1e-10
      val kept = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var j = 0
      while (j < y.length) {
        val v = y(j).clone()
        var i = 0
        while (i < kept.length) {
          val u = kept(i)
          var dot = 0.0
          var l = 0
          while (l < d) { dot += u(l) * v(l); l += 1 }
          l = 0
          while (l < d) { v(l) -= dot * u(l); l += 1 }
          i += 1
        }
        var n2 = 0.0
        var l = 0
        while (l < d) { n2 += v(l) * v(l); l += 1 }
        val nrm = math.sqrt(n2)
        if (tol > 0 && nrm > tol) {
          l = 0
          while (l < d) { v(l) /= nrm; l += 1 }
          kept += v
        }
        j += 1
      }
      kept.toArray
    }
    var it = 0
    while (it <= powerIters) { // initial range find + powerIters refines
      q = orth(matvecPass())
      require(q.length >= k,
        s"fitPcaTopK: sketch rank ${q.length} < k = $k after pass $it — " +
          "the corpus's effective rank is below k; lower k (every " +
          "direction past the true rank is pure noise)")
      it += 1
    }
    // Rayleigh–Ritz: B = QᵀCQ via one more pass, small eigensolve, map
    // the small vectors back through Q, re-fix signs on the d-dim result
    val z = matvecPass() // rows: (CQ) columns, i.e. z(j) = C·q(j)
    val mFin = q.length
    val b = Array.tabulate(mFin, mFin) { (r, c) =>
      var dot = 0.0
      var l = 0
      while (l < d) { dot += q(r)(l) * z(c)(l); l += 1 }
      dot
    }
    // symmetrize away the matvec's floating-point asymmetry
    val bs = Array.tabulate(mFin, mFin)((r, c) => (b(r)(c) + b(c)(r)) / 2.0)
    val (values, small) = symEigen(bs)
    val comps = (0 until k).map { j =>
      val u = new Array[Double](d)
      var r = 0
      while (r < mFin) {
        val w = small(j)(r)
        val qr = q(r)
        var l = 0
        while (l < d) { u(l) += w * qr(l); l += 1 }
        r += 1
      }
      // the fitPca sign convention on the FULL-width vector
      var bi = 0
      var bm = 0.0
      var l = 0
      while (l < d) {
        if (math.abs(u(l)) > bm) { bm = math.abs(u(l)); bi = l }
        l += 1
      }
      if (u(bi) < 0) { l = 0; while (l < d) { u(l) = -u(l); l += 1 } }
      u.toSeq
    }
    PcaModel(mean.toSeq, comps, values.take(k).toSeq)
  }

  /** Append `outCol` = the k-dim projection of `vec` under `model`
    * (array<double>). With `whiten = true` each retained direction is
    * scaled by 1/√variance (unit-variance scores — equal weight in any
    * downstream distance); directions with variance ≤ `varFloor` are
    * refused rather than amplified into noise. */
  def pcaProject(df: DataFrame, vec: Column, model: PcaModel,
      outCol: String = "pc", whiten: Boolean = false,
      varFloor: Double = 1e-12): DataFrame = {
    val comps =
      if (!whiten) model.components
      else model.components.zip(model.variances).map { case (c, v) =>
        require(v > varFloor,
          s"whitening would divide by √$v <= √$varFloor — a near-zero-" +
            "variance direction carries no signal; drop it (smaller k) " +
            "instead of amplifying its noise")
        val s = 1.0 / math.sqrt(v)
        c.map(_ * s)
      }
    df.withColumn(outCol, VectorExprs.pcaProject(vec, model.mean, comps))
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors as ROWS) sorted by descending
    * eigenvalue, ties by first differing vector component toward the
    * deterministic sign convention below. Eigenvectors are normalized
    * with their largest-magnitude component positive, so the fit is
    * bit-reproducible across runs (Jacobi itself is deterministic; the
    * convention removes the ±v ambiguity). */
  private[graft] def jacobiEigen(
      a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = a.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += 2.0 * m(i)(j) * m(i)(j); j += 1 }
        i += 1
      }
      math.sqrt(s)
    }
    var fro = 0.0
    for (i <- 0 until d; j <- 0 until d) fro += m(i)(j) * m(i)(j)
    fro = math.sqrt(fro)
    val tol = 1e-14 * math.max(fro, 1.0)
    var sweep = 0
    while (sweep < 64 && offNorm() > tol) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p)(q)
          if (math.abs(apq) > tol / (d * d)) {
            val app = m(p)(p); val aqq = m(q)(q)
            val theta = 0.5 * (aqq - app) / apq
            // theta == 0 (equal diagonal) → 45° rotation (t = 1)
            val t = if (theta == 0.0) 1.0
              else math.signum(theta) /
                (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val mip = m(i)(p); val miq = m(i)(q)
              m(i)(p) = c * mip - s * miq
              m(i)(q) = s * mip + c * miq
              i += 1
            }
            i = 0
            while (i < d) {
              val mpi = m(p)(i); val mqi = m(q)(i)
              m(p)(i) = c * mpi - s * mqi
              m(q)(i) = s * mpi + c * mqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // loud on non-convergence: a silently-approximate basis would feed
    // wrong components/variances downstream (practically unreachable —
    // cyclic Jacobi converges quadratically — but cheap to assert)
    val residual = offNorm()
    require(residual <= tol,
      s"jacobiEigen did not converge in $sweep sweeps on a ${d}x$d " +
        s"matrix: off-diagonal norm $residual > tolerance $tol")
    orderEigenpairs(Array.tabulate(d)(j => m(j)(j)),
      Array.tabulate(d, d)((j, i) => v(i)(j))) // columns → rows, O(d²)
  }

  /** Symmetric eigendecomposition via Householder tridiagonalization +
    * implicit-shift QL — the EISPACK tred2/tql2 pair (Wilkinson–Reinsch
    * Handbook; the dense-symmetric driver LAPACK descends from), written
    * from the published algorithm. Same contract and conventions as
    * [[jacobiEigen]] (eigenvalues descending, eigenvectors as ROWS,
    * largest-|component| positive, fully deterministic: fixed iteration
    * order, no randomness), but one O(d³) reduction + O(d²)-per-eigenvalue
    * QL instead of Jacobi's many O(d³) sweeps — and tridiagonal QL's
    * working set is two d-vectors — and the two O(d³) accumulation
    * phases are laid out for contiguous row access (loop-interchanged
    * tred2 accumulation; QL rotations on a transposed vectors-as-rows
    * matrix), so neither hits Jacobi's cache wall at transformer widths.
    * Measured (scaling/pca_dim*.json): d = 1024 Jacobi
    * 196 s → 1.45 s (135×); d = 2048 13.1 s, an 8-9× step per doubling
    * — the d³ constant, no wall. fitPca uses this; [[jacobiEigen]]
    * stays as the independent cross-check implementation the spec
    * replays both solvers against. */
  private[graft] def symEigen(
      a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = a.length
    val z = a.map(_.clone())
    val d = new Array[Double](n)
    val e = new Array[Double](n)
    // Householder reduction to tridiagonal (tred2): work row i down to
    // row 2, storing the accumulated-transform data in z
    var i = n - 1
    while (i >= 1) {
      val l = i - 1
      var h = 0.0
      if (l > 0) {
        var scale = 0.0
        var k = 0
        while (k <= l) { scale += math.abs(z(i)(k)); k += 1 }
        if (scale == 0.0) e(i) = z(i)(l)
        else {
          k = 0
          while (k <= l) {
            z(i)(k) /= scale; h += z(i)(k) * z(i)(k); k += 1
          }
          var f = z(i)(l)
          val g = if (f >= 0.0) -math.sqrt(h) else math.sqrt(h)
          e(i) = scale * g
          h -= f * g
          z(i)(l) = f - g
          f = 0.0
          var j = 0
          while (j <= l) {
            z(j)(i) = z(i)(j) / h
            var gj = 0.0
            k = 0
            while (k <= j) { gj += z(j)(k) * z(i)(k); k += 1 }
            k = j + 1
            while (k <= l) { gj += z(k)(j) * z(i)(k); k += 1 }
            e(j) = gj / h
            f += e(j) * z(i)(j)
            j += 1
          }
          val hh = f / (h + h)
          j = 0
          while (j <= l) {
            val fj = z(i)(j)
            val gj = e(j) - hh * fj
            e(j) = gj
            k = 0
            while (k <= j) {
              z(j)(k) -= fj * e(k) + gj * z(i)(k); k += 1
            }
            j += 1
          }
        }
      } else e(i) = z(i)(l)
      d(i) = h
      i -= 1
    }
    d(0) = 0.0
    e(0) = 0.0
    // accumulate the Householder transformations into z — loop
    // INTERCHANGED from the textbook j-then-k order: the inner sweeps
    // walk z's ROWS (contiguous in a row-major array) instead of
    // striding down columns, which past ~1k costs a cache miss per
    // element (the same wall Jacobi hit, scaling/pca_dim.json; measured on
    // this phase + the transposed QL below: 142 s → 13.1 s at d = 2048).
    // Summation order changes (k-major), still fixed → deterministic.
    val gs = new Array[Double](n)
    i = 0
    while (i < n) {
      val l = i - 1
      if (d(i) != 0.0) {
        java.util.Arrays.fill(gs, 0, l + 1, 0.0)
        var k = 0
        while (k <= l) {
          val wk = z(i)(k)
          val rowk = z(k)
          var j = 0
          while (j <= l) { gs(j) += wk * rowk(j); j += 1 }
          k += 1
        }
        k = 0
        while (k <= l) {
          val vk = z(k)(i)
          val rowk = z(k)
          var j = 0
          while (j <= l) { rowk(j) -= gs(j) * vk; j += 1 }
          k += 1
        }
      }
      d(i) = z(i)(i)
      z(i)(i) = 1.0
      var j = 0
      while (j <= l) { z(j)(i) = 0.0; z(i)(j) = 0.0; j += 1 }
      i += 1
    }
    // implicit-shift QL on the tridiagonal (tql2). Rotations are
    // accumulated into the eigenvector matrix TRANSPOSED (vecs(j) = the
    // j-th eigenvector as a contiguous row): each rotation updates two
    // whole vectors, which on the column layout is two stride-n walks —
    // the dominant O(n³) term and, past ~1k, a cache miss per element
    val vecs = Array.tabulate(n, n)((j, k) => z(k)(j))
    i = 1
    while (i < n) { e(i - 1) = e(i); i += 1 }
    e(n - 1) = 0.0
    val eps = java.lang.Math.ulp(1.0)
    var l = 0
    while (l < n) {
      var iter = 0
      var m = l
      do {
        m = l
        var found = false
        while (m < n - 1 && !found) {
          val dd = math.abs(d(m)) + math.abs(d(m + 1))
          if (math.abs(e(m)) <= eps * dd) found = true else m += 1
        }
        if (m != l) {
          // loud on non-convergence (same posture as jacobiEigen): a
          // silently-approximate basis would feed wrong components
          // downstream. 50 shifted-QL iterations per eigenvalue is far
          // past the observed worst case (~4-8)
          require(iter < 50,
            s"symEigen: QL failed to converge within 50 iterations on " +
              s"eigenvalue $l of a ${n}x$n matrix")
          iter += 1
          var g = (d(l + 1) - d(l)) / (2.0 * e(l))
          var r = math.hypot(g, 1.0)
          g = d(m) - d(l) + e(l) / (g + (if (g >= 0.0) r else -r))
          var s = 1.0
          var c = 1.0
          var p = 0.0
          var ii = m - 1
          var underflow = false
          while (ii >= l && !underflow) {
            var f = s * e(ii)
            val b = c * e(ii)
            r = math.hypot(f, g)
            e(ii + 1) = r
            if (r == 0.0) {
              // rotation annihilated early: deflate and restart this l
              d(ii + 1) -= p
              e(m) = 0.0
              underflow = true
            } else {
              s = f / r
              c = g / r
              g = d(ii + 1) - p
              r = (d(ii) - g) * s + 2.0 * c * b
              p = s * r
              d(ii + 1) = g + p
              g = c * r - b
              val vHi = vecs(ii + 1)
              val vLo = vecs(ii)
              var k = 0
              while (k < n) {
                f = vHi(k)
                vHi(k) = s * vLo(k) + c * f
                vLo(k) = c * vLo(k) - s * f
                k += 1
              }
              ii -= 1
            }
          }
          if (!underflow) {
            d(l) -= p
            e(l) = g
            e(m) = 0.0
          }
        }
      } while (m != l)
      l += 1
    }
    orderEigenpairs(d, vecs)
  }

  /** Shared eigenpair postprocessing: eigenvector j is ROW j of `v`
    * with eigenvalue `values(j)` — emit descending by value (stable, so
    * equal values keep solver order), each vector's sign fixed by
    * largest-|component| positive (removes the ±v ambiguity so fits are
    * bit-reproducible). Mutates `v`'s rows in place (both callers own
    * their matrices). */
  private def orderEigenpairs(values: Array[Double],
      v: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val n = values.length
    val pairs = (0 until n).map { j =>
      val vec = v(j)
      var bi = 0
      var bm = 0.0
      var i = 0
      while (i < n) {
        if (math.abs(vec(i)) > bm) { bm = math.abs(vec(i)); bi = i }
        i += 1
      }
      if (vec(bi) < 0) { i = 0; while (i < n) { vec(i) = -vec(i); i += 1 } }
      (values(j), vec)
    }.sortBy(-_._1)
    (pairs.map(_._1).toArray, pairs.map(_._2).toArray)
  }

  // ======== whitened IVF index (PCA × ANN composition) =====================

  /** Persist a [[PcaModel]] as a one-row parquet table under
    * `path/pca` (mean, components, variances). */
  private def writePcaModel(spark: org.apache.spark.sql.SparkSession,
      model: PcaModel, path: String): Unit = {
    import org.apache.spark.sql.types._
    // one driver-resident row (O(dim²) doubles) — written driver-side
    // with zero jobs (r17 optimization)
    graft.io.GraftIO.writeSmallParquet(spark,
      StructType(Seq(
        StructField("mean", ArrayType(DoubleType, containsNull = false)),
        StructField("components", ArrayType(
          ArrayType(DoubleType, containsNull = false),
          containsNull = false)),
        StructField("variances",
          ArrayType(DoubleType, containsNull = false)))),
      Seq(org.apache.spark.sql.Row(
        model.mean, model.components, model.variances)),
      s"$path/pca")
  }

  /** Read a persisted [[PcaModel]] back. Loud when absent — searching a
    * whitened index without its model would embed queries in the wrong
    * space and return plausible-looking garbage. */
  def readPcaModel(spark: org.apache.spark.sql.SparkSession,
      path: String): PcaModel = {
    val p = new org.apache.hadoop.fs.Path(s"$path/pca")
    require(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(p),
      s"no PCA model at $path/pca — not a writeWhitenedIvfIndex layout")
    val r = spark.read.parquet(s"$path/pca").collect().head
    // inner arrays surface as mutable ArraySeq — convert explicitly
    PcaModel(r.getSeq[Double](0).toSeq,
      r.getSeq[scala.collection.Seq[Double]](1).map(_.toSeq).toSeq,
      r.getSeq[Double](2).toSeq)
  }

  /** PCA-reduce + whiten the corpus, then build a persisted IVF index
    * over the whitened vectors — the SemDeDup-style composition: distance
    * in the whitened space weighs every retained direction equally
    * (cosine there ≈ a Mahalanobis angle in the original space) and the
    * index clusters/probes k-dim vectors instead of d-dim ones (k ≪ d
    * cuts both centroid-assignment flops and candidate exact-scoring
    * flops by d/k).
    *
    * Scale shape: the PCA fit is the bounded two-pass of [[fitPca]] up
    * to `maxDim`, and the randomized [[fitPcaTopK]] PAST it (r14) — the
    * whitened regime is pcaK ≪ d, exactly the randomized solver's, so
    * modern embedding widths (d = 4096+) build instead of refusing; the
    * lifecycle is unchanged because search/append bind to the PERSISTED
    * model, whichever fit produced it. The projection fuses into the
    * SAME scan that feeds IVF training and assignment (a native
    * expression — no join, no extra pass); index build/probe inherit
    * [[graft.operators.Similarity]]'s segment contracts unchanged. The model lands under `path/pca` BEFORE the
    * index tables, so a readable index always has its model (a crash
    * between leaves a model with no index — searches fail loud on the
    * missing meta, the same posture as an un-manifested lake).
    *
    * Semantic note, stated honestly: results rank by similarity in the
    * WHITENED space, not raw cosine — that is the point (boilerplate
    * directions stop dominating), but it is a different metric; use the
    * plain index when raw cosine is the contract.
    *
    * `sq8 = true` composes the d/k payload win with int8 storage
    * ([[graft.operators.Similarity.writeIvfIndex]]'s sq8 stamp): the
    * assigned table stores pcaK int8 codes instead of pcaK float64s —
    * ~8× smaller candidate IO ON TOP of the d/pcaK reduction, the
    * 100 TB candidate-scan term. Quantization error lives in the
    * whitened space (where scoring happens), so the d46 tolerance
    * contract applies unchanged; appends through
    * [[appendToWhitenedIvfIndex]] and probes through
    * [[searchWhitenedIvfIndex]] honor the stamp transparently. */
  def writeWhitenedIvfIndex(corpus: DataFrame, id: Column, vec: Column,
      path: String, pcaK: Int, nlist: Int = 16, iters: Int = 5,
      trainSample: Int = 10000, seed: Long = 42,
      varFloor: Double = 1e-12, maxDim: Int = 2048,
      sq8: Boolean = false): PcaModel = {
    // pcaK should track the corpus's effective rank, not "as many as
    // fit": every component past the true signal rank is a noise
    // direction whitening amplifies to unit variance — measured
    // (scaling/whitened_ivf_256.json, rank-32 corpus): doubling pcaK
    // 32 → 64 dropped the whitened ranking's raw-cosine overlap from
    // 0.22 to 0.05 and its own-space IVF recall at every nprobe
    require(!corpus.columns.exists(
        _.toLowerCase(java.util.Locale.ROOT) == "__wv"),
      "writeWhitenedIvfIndex reserves column name __wv — rename first")
    val spark = corpus.sparkSession
    // fit routing (r14): the exact one-pass fit up to its measured
    // envelope (maxDim — scaling/pca_dim.json), the randomized top-k
    // solver past it instead of a refusal: the whitened regime IS
    // pcaK ≪ d, exactly where fitPcaTopK's d×(k+p) buffers replace the
    // exact fit's d(d+1)/2 (d = 4096 fits in ~6 s where fitPca refuses —
    // scaling/pca_dim_rand.json). Both fits are deterministic, and the
    // search/append contract is the PERSISTED model either way
    // (model_fp guards drift), so the route changes no lifecycle rule.
    val model = {
      // one probe decides the route AND seeds the chosen fit — the
      // route must not cost an extra full-corpus pass (the probe is a
      // corpus-wide min-hash aggregation, not a head())
      val pivot = probePivot(corpus, vec, "writeWhitenedIvfIndex")
      if (pivot.length <= maxDim)
        fitPcaPivoted(corpus, vec, pcaK, maxDim, pivot)
      else fitPcaTopKPivoted(corpus, vec, pcaK, pivot)
    }
    val projected = pcaProject(corpus, vec, model, "__wv", whiten = true,
      varFloor = varFloor)
    // whitened = true stamps the meta: raw-vector appendToIvfIndex /
    // searchIvfIndex against this layout refuse loudly instead of
    // silently mixing spaces (undetectable by the dim guard at pcaK == d)
    if (Similarity.ivfLayoutExists(spark, path)) {
      // atomic in-place REBUILD: model + tables land COMPLETE under a
      // sibling staging dir and the whole layout swaps in as ONE unit
      // (TierCompact.swapLayout). Writing the new model over the live one
      // first (the fresh-build order) would mis-project every search
      // between the model write and the table write — and the per-table
      // swap this replaced could crash between renames and leave that
      // mismatch permanently, the silent-space-mixing failure the
      // whitened stamp exists to stop. A RAW layout upgrades whitened in
      // place through the same swap (the staged layout carries the
      // model; nothing stale can linger — the old layout is retired
      // wholesale).
      val staged = TierCompact.stageDir(spark, path, "__rebuild")
      writePcaModel(spark, model, staged)
      Similarity.writeIvfIndexImpl(projected, id, F.col("__wv"), staged,
        nlist, iters, trainSample, seed, whitened = true,
        modelFp = model.fingerprint, sq8 = sq8)
      TierCompact.swapLayout(spark, path, staged, "rebuild")
    } else {
      // fresh build: the model lands BEFORE the tables, so a readable
      // index always has its model (a crash between leaves a model with
      // no index — searches fail loud on the missing meta)
      writePcaModel(spark, model, path)
      Similarity.writeIvfIndexImpl(projected, id, F.col("__wv"), path,
        nlist, iters, trainSample, seed, whitened = true,
        modelFp = model.fingerprint, sq8 = sq8)
    }
    model
  }

  /** Append a batch of RAW vectors to a whitened index as segment
    * `segment`: the batch is projected through the PERSISTED model (never
    * a re-fit — a fit over the batch would drift the space away from the
    * one the centroids live in), then appended with
    * [[graft.operators.Similarity.appendToIvfIndex]]'s exact contract —
    * assignment against stored centroids scan-side, dynamic-overwrite
    * segment idempotency for retried streaming batches. The raw-space
    * `appendToIvfIndex` refuses this layout loudly (and this entry point
    * refuses a raw layout), so no append path can mix spaces. */
  def appendToWhitenedIvfIndex(batch: DataFrame, id: Column, vec: Column,
      path: String, segment: String): Unit = {
    require(!batch.columns.exists(
        _.toLowerCase(java.util.Locale.ROOT) == "__wv"),
      "appendToWhitenedIvfIndex reserves column name __wv — rename first")
    val model = readPcaModel(batch.sparkSession, path)
    val projected = pcaProject(batch, vec, model, "__wv", whiten = true)
    // the fingerprint guards this verb's own read-then-append window: a
    // rebuild landing between readPcaModel and the append refuses loudly
    Similarity.appendToIvfIndexImpl(projected, id, F.col("__wv"), path,
      segment, expectWhitened = true,
      expectedModelFp = Some(model.fingerprint))
  }

  /** Probe a whitened index: queries are projected through the PERSISTED
    * model (never a re-fit — query-time fits would drift the space), then
    * searched with [[graft.operators.Similarity.searchIvfIndex]]'s exact
    * plan (static cell pruning, broadcast probes, exact cosine on
    * whitened candidates).
    *
    * `nprobe` must be sized HIGHER than a raw index's: the whitened
    * space is isotropic by construction (unit variance per direction),
    * which weakens the cluster structure IVF's coarse quantizer prunes
    * with — measured (scaling/whitened_ivf_256.json, rank-32 corpus at
    * d = 256, nlist = 64): nprobe = 8 reaches 0.69 recall@10 in the
    * whitened metric where a raw index reaches 0.97; nprobe = 32
    * restores 0.98 and still runs 2.5× faster than the raw index at the
    * same recall — candidates are pcaK doubles, not d. The DEFAULT
    * (`nprobe = 0`; negative is refused loud) resolves to
    * `max(4, nlist / 2)` from the
    * index's own meta — r13's measurement showed the raw verb's
    * nprobe = 4 default is simply wrong in this space (0.69 recall@10
    * even at twice that), and a default that contradicts the verb's own
    * documentation is a trap. Pass an explicit nprobe to trade recall
    * for probe cost deliberately.
    *
    * `rescore` (opt-in, SQ8 layouts only): the caller's full-precision
    * source holds RAW d-dim vectors — it is projected through the SAME
    * persisted model as the queries, so the refine step re-ranks with
    * exact float cosines in the index's own whitened space (quantization
    * error removed; the metric change stays, by design). Only the
    * quantized top `k·factor` ids are looked up — an id-pruned read,
    * never a corpus re-scan ([[graft.operators.Similarity.RescoreSource]]). */
  def searchWhitenedIvfIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, queryId: Column, queryVec: Column,
      k: Int, nprobe: Int = 0, excludeSegment: Option[String] = None,
      localizeQueries: Boolean = true,
      rescore: Option[Similarity.RescoreSource] = None): DataFrame = {
    require(!queries.columns.exists(
        _.toLowerCase(java.util.Locale.ROOT) == "__wv"),
      "searchWhitenedIvfIndex reserves column name __wv — rename first")
    // 0 is the documented resolve-the-default sentinel; a NEGATIVE
    // nprobe is almost certainly broken caller arithmetic (e.g.
    // nlist - 70 gone negative) and silently defaulting would mask it
    require(nprobe >= 0,
      s"searchWhitenedIvfIndex: nprobe must be >= 0 (0 resolves the " +
        s"measured default max(4, nlist/2)), got $nprobe")
    val probes =
      if (nprobe > 0) nprobe
      else math.max(4, Similarity.ivfIndexNlist(spark, path) / 2)
    val model = readPcaModel(spark, path)
    val projected = pcaProject(queries, queryVec, model, "__wv",
      whiten = true)
    // the rescore source enters the index's space through the same
    // persisted model (never a re-fit); the projection fuses into the
    // id-pruned lookup scan, so only candidate rows ever project
    val rescoreW = rescore.map { rs =>
      require(!rs.source.columns.exists(
          _.toLowerCase(java.util.Locale.ROOT) == "__rwv"),
        "searchWhitenedIvfIndex reserves column name __rwv in the " +
          "rescore source — rename first")
      Similarity.RescoreSource(
        pcaProject(rs.source, rs.vec, model, "__rwv", whiten = true),
        rs.id, F.col("__rwv"), rs.factor)
    }
    Similarity.searchIvfIndexImpl(spark, path, projected, queryId,
      F.col("__wv"), k, probes, excludeSegment, localizeQueries,
      expectWhitened = true, expectedModelFp = Some(model.fingerprint),
      rescore = rescoreW)
  }
}
