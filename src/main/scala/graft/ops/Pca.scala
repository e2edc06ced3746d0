package graft.ops

import graft.functions.Num
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed two-component PCA over an embedding column (X188 —
  * Pearson 1901/Hotelling 1933, in the shape a 100 TB embedding table
  * forces: ONE moment pass (count, Σx, Σxxᵀ) through the map-side-
  * combining [[graft.functions.DoubleVecSum]] accumulator — only
  * 64 + 4096 doubles per partition ever cross the wire — then the
  * 64×64 covariance eigen-solve runs on the DRIVER as fixed-round
  * power iteration with deflation (Mises & Pollaczek-Geiringer 1929),
  * and the component vectors re-enter the plan as literals for the
  * projection scan. The driver matrix is metadata-sized by
  * construction: dims², independent of row count.
  *
  * Determinism contract: the result is pinned as "`iters`-round
  * power-iteration PCA", not "the true eigenvectors" — every
  * per-round lane (matvec components, norm, normalized state, λ) is
  * qround(6)-canonicalized exactly like the X66 PageRank rounds, so
  * any engine replaying the same rounds lands on bit-identical
  * components regardless of convergence; the start vector is the
  * uniform unit vector (1/8,…), never random. Fold-order exposure is
  * confined to the moment sums (qround'd, the standard aggregated-
  * double discipline); projections are sequential zip-folds off
  * identical (μ, v) lanes — bit-identical cross-engine. */
object Pca {

  final case class Model(n: Long, mu: Array[Double],
      v1: Array[Double], lambda1: Double,
      v2: Array[Double], lambda2: Double)

  private def matvec(c: Array[Array[Double]], vv: Array[Double],
      dims: Int, q: Double => Double = Num.qround(_, 6)): Array[Double] =
    Array.tabulate(dims) { i =>
      var s = 0.0
      var j = 0
      while (j < dims) { s += c(i)(j) * vv(j); j += 1 }
      q(s)
    }

  private def dotq(a: Array[Double], b: Array[Double],
      q: Double => Double): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    q(s)
  }

  /** Power iteration with qround(6) state per round; nm = 0 (zero
    * matrix) keeps the current state and reports λ = 0. `ortho`
    * (the second component's pass) Gram-Schmidt-projects the matvec
    * result off the given unit vector EVERY round — deflation alone
    * converges at (λ2/λ1)^t, which on a near-flat spectrum (the
    * embedding corpus: λ2/λ1 = 0.93) never reaches orthogonality in
    * a pinned round budget; the per-round projection makes v ⊥ v1 by
    * construction at ANY round count. */
  private[ops] def powerIter(c: Array[Array[Double]], dims: Int,
      iters: Int, ortho: Option[Array[Double]] = None)
      : (Array[Double], Double) = {
    var v = Array.fill(dims)(0.125)
    def matvec(vv: Array[Double]): Array[Double] =
      Pca.matvec(c, vv, dims)
    def project(u: Array[Double]): Array[Double] = ortho match {
      case None => u
      case Some(o) =>
        var d = 0.0
        var i = 0
        while (i < dims) { d += u(i) * o(i); i += 1 }
        val dq = Num.qround(d, 6)
        Array.tabulate(dims)(i => Num.qround(u(i) - dq * o(i), 6))
    }
    var t = 0
    while (t < iters) {
      val u = project(matvec(v))
      var s2 = 0.0
      var i = 0
      while (i < dims) { s2 += u(i) * u(i); i += 1 }
      val nm = math.sqrt(Num.qround(s2, 6))
      if (nm == 0.0) return (v, 0.0)
      v = u.map(x => Num.qround(x / nm, 6))
      t += 1
    }
    val u = matvec(v)
    var l = 0.0
    var i = 0
    while (i < dims) { l += v(i) * u(i); i += 1 }
    (v, Num.qround(l, 6))
  }

  /** Top-2 eigenpairs of an arbitrary symmetric driver matrix by the
    * same pinned-round deflated power iteration the X188 oracle
    * replays (chain a on `m`, chain b on the rank-1 deflation with
    * per-round Gram-Schmidt; λ₂ as the qround(6) Rayleigh quotient of
    * the second vector against the ORIGINAL matrix — X206's PPMI-SVD
    * entry point; no Rayleigh–Ritz rotation, PPMI spectra are not
    * near-flat). NOT restricted to PSD input: a caller whose matrix
    * has a negative eigenvalue sees it in the returned λ and guards
    * the sqrt itself. */
  def eigen2(m: Array[Array[Double]], dims: Int, iters: Int)
      : (Array[Double], Double, Array[Double], Double) = {
    val (p1, l1) = powerIter(m, dims, iters)
    val c2 = Array.tabulate(dims, dims)((i, j) =>
      m(i)(j) - l1 * p1(i) * p1(j))
    val (p2, _) = powerIter(c2, dims, iters, ortho = Some(p1))
    val u2 = matvec(m, p2, dims)
    var l2 = 0.0
    var i = 0
    while (i < dims) { l2 += p2(i) * u2(i); i += 1 }
    (p1, l1, p2, Num.qround(l2, 6))
  }

  /** One moment pass + driver eigen-solve. `dims` must be the
    * embedding length (64 for the testdata corpus). */
  def fit(df: DataFrame, vecCol: String, dims: Int = 64,
      iters: Int = 12): Model = {
    val xd = transform(col(vecCol), x => x.cast("double"))
    val outer = flatten(transform(xd, x => transform(xd, y => x * y)))
    val row = df.select(xd.as("x"), outer.as("xx"))
      .agg(count(lit(1)),
        graft.functions.VecAggregates.vecSum(col("x"), dims),
        graft.functions.VecAggregates.vecSum(col("xx"), dims * dims))
      .head()
    val n = row.getLong(0)
    require(n > 0, "Pca.fit: empty input")
    val sx = row.getSeq[Double](1).toArray
    val sxx = row.getSeq[Double](2).toArray
    val nD = n.toDouble
    val mu = sx.map(s => Num.qround(s / nD, 6))
    val c1 = Array.tabulate(dims, dims)((i, j) =>
      Num.qround(sxx(i * dims + j) / nD, 6) - mu(i) * mu(j))
    val (p1, dl) = powerIter(c1, dims, iters)
    val c2 = Array.tabulate(dims, dims)((i, j) =>
      c1(i)(j) - dl * p1(i) * p1(j))
    val (p2, _) = powerIter(c2, dims, iters, ortho = Some(p1))
    // Rayleigh–Ritz rotation of span{p1, p2} w.r.t. the ORIGINAL
    // covariance: on a near-flat spectrum a pinned round budget
    // leaves p1 short of the top eigenvector — the 2×2 eigen-solve
    // H = [p1 p2]ᵀ C [p1 p2] re-extracts the variance-optimal
    // ordered basis OF THE SUBSPACE, so λ1 ≥ λ2 by construction.
    // Every lane quantized in the exact order the oracle replays, at
    // 1e-12, not 1e-6: the intermediate magnitudes (h12² + (l1−h11)²
    // ≈ 1e-5) would lose 10% to a 1e-6 floor — 1e-12 still sits 5
    // decades above the ~1e-17 fold-order ulp drift it exists to kill.
    val w1 = matvec(c1, p1, dims, Num.qround(_, 12))
    val w2 = matvec(c1, p2, dims, Num.qround(_, 12))
    val h11 = dotq(p1, w1, Num.qround(_, 12))
    val h12 = dotq(p2, w1, Num.qround(_, 12))
    val h22 = dotq(p2, w2, Num.qround(_, 12))
    val disc = Num.qround(math.sqrt(Num.qround(
      (h11 - h22) * (h11 - h22) + 4.0 * h12 * h12, 12)), 12)
    val l1 = Num.qround((h11 + h22 + disc) / 2.0, 12)
    val l2 = Num.qround((h11 + h22 - disc) / 2.0, 12)
    val (v1, v2) =
      if (h12 == 0.0) {
        // the 1e-12 lane makes this branch condition replay identically
        if (h11 >= h22) (p1, p2) else (p2, p1)
      } else {
        val nrm =
          math.sqrt(Num.qround(h12 * h12 + (l1 - h11) * (l1 - h11), 12))
        val al = Num.qround(h12 / nrm, 12)
        val be = Num.qround((l1 - h11) / nrm, 12)
        (Array.tabulate(dims)(i => Num.qround(al * p1(i) + be * p2(i), 6)),
          Array.tabulate(dims)(i => Num.qround(be * p1(i) - al * p2(i), 6)))
      }
    Model(n, mu, v1, l1, v2, l2)
  }

  /** Mean-centered projection onto the two components: a sequential
    * zip-fold per row (the X49 device — bit-identical to DuckDB's
    * list_reduce), model lanes entering as literals. */
  def project(df: DataFrame, idCol: String, vecCol: String,
      m: Model): DataFrame = {
    def proj(v: Array[Double]): Column =
      aggregate(
        zip_with(
          zip_with(transform(col(vecCol), x => x.cast("double")),
            typedLit(m.mu), (x, mm) => x - mm),
          typedLit(v), (x, w) => x * w),
        lit(0.0), (a, x) => a + x)
    df.select(col(idCol), proj(m.v1).as("pc1"), proj(m.v2).as("pc2"),
      lit(m.lambda1).as("lambda1"), lit(m.lambda2).as("lambda2"))
  }
}
