package graft.stats

import org.apache.commons.math3.distribution.ChiSquaredDistribution
import org.apache.commons.math3.linear.{Array2DRowRealMatrix, LUDecomposition}

/** Unstructured (`type=UN`) within-subject covariance for slot-structured
  * panels — the PROC MIXED `repeated / type=UN` surface the random-intercept
  * default (VarComp) declares out of scope (longitudinalPlot.sas:423-442
  * options surface; SURVEY.md §7.6(1) deviation, narrowed here).
  *
  * Scope and method, stated exactly:
  *   - panels are COMPLETE-CASE: the covariance is estimated from (and
  *     subjects are scored on) subjects observed in every one of the T
  *     slots — the MANOVA-style estimator PROC GLM's repeated statement
  *     uses; incomplete subjects are the random-intercept path's job.
  *   - the fixed-effect model is the slot cell-means model (the
  *     longitudinal plot's visit-classified mean), under which GLS fixed
  *     effects equal the per-slot sample means for ANY Σ on balanced data,
  *     so "UN" changes only the covariance — estimated as the pooled
  *     cross-product of residual vectors, Σ̂ = Σᵢ rᵢ rᵢᵀ / (k − 1).
  *   - per-subject distance d²ᵢ = rᵢᵀ Σ̂⁻¹ rᵢ is compared to a χ²_T
  *     quantile (the large-k calibration; the exact (k−1)T/(k−T)·F small-k
  *     form is noted in the scaladoc of `cutoff`).
  *
  * Spark shape: the slot domain, slot means and Σ̂ of one scope key are
  * ONE mergeable aggregate over its subject vectors (`PanelFitAgg`): the
  * buffer is the key's slot domain, a count, a T-vector of means and a
  * T×T co-moment matrix (`CoMoment`, combined pairwise after Chan et
  * al.), so per-key state is O(T²) with T capped at `MaxSlots`, partials
  * merge map-side, and nothing subject-proportional is held on the driver
  * or in one task.
  */
object UnCov {

  /** Hard cap on the slot dimension — T² sizes the per-key co-moment
    * buffer and the inverse; 32 keeps both trivially bounded. */
  val MaxSlots = 32

  /** Mergeable per-key moments of complete-case subject vectors: count,
    * mean vector and co-moment matrix Σᵢ (yᵢ − ȳ)(yᵢ − ȳ)ᵀ (row-major,
    * T×T). Empty arrays are the zero state. */
  final case class CoMoment(n: Long, mean: Array[Double], m2: Array[Double])

  /** The zero state. */
  def emptyMoments: CoMoment = CoMoment(0L, Array.emptyDoubleArray, Array.emptyDoubleArray)

  /** Merge two co-moment states (the pairwise update of Chan, Golub &
    * LeVeque): with δ = ȳ_b − ȳ_a, ȳ = ȳ_a + δ·n_b/n and
    * M = M_a + M_b + δδᵀ·n_a·n_b/n. Updates `a` in place. */
  def merge(a: CoMoment, b: CoMoment): CoMoment =
    if (b.n == 0) a
    else if (a.n == 0) CoMoment(b.n, b.mean.clone(), b.m2.clone())
    else combine(a, b.n, b.mean, b.m2)

  /** Add one subject vector — `merge` with a count-1, zero-co-moment
    * state, without allocating its T×T zeros. */
  def add(a: CoMoment, y: Array[Double]): CoMoment =
    if (a.n == 0) CoMoment(1L, y.clone(), new Array[Double](y.length * y.length))
    else combine(a, 1L, y, null)

  /** `a` ⊕ (nb, mb, m2b); `m2b == null` is the zero matrix. Vectors of
    * unequal length (a subject outside this key's slot domain) throw. */
  private def combine(a: CoMoment, nb: Long, mb: Array[Double],
      m2b: Array[Double]): CoMoment = {
    val t = a.mean.length
    require(mb.length == t, s"co-moment length ${mb.length} != $t")
    val n = a.n + nb
    val w = a.n.toDouble * nb / n
    val f = nb.toDouble / n
    val d = new Array[Double](t)
    var i = 0
    while (i < t) { d(i) = mb(i) - a.mean(i); a.mean(i) += d(i) * f; i += 1 }
    i = 0
    while (i < t) {
      var j = 0
      while (j < t) {
        val ij = i * t + j
        a.m2(ij) += (if (m2b == null) 0.0 else m2b(ij)) + d(i) * d(j) * w
        j += 1
      }
      i += 1
    }
    CoMoment(n, a.mean, a.m2)
  }

  /** Σ̂⁻¹ from one key's merged moments, where Σ̂ = M / (k − 1) is the
    * unbiased pooled covariance (residuals are from slot means estimated
    * on the same k subjects); null when Σ̂ is singular (k ≤ T or
    * degenerate residuals). */
  def inverseCov(m: CoMoment): Array[Array[Double]] = {
    val t = m.mean.length
    val div = math.max(1L, m.n - 1L).toDouble
    invert(Array.tabulate(t, t)((i, j) => m.m2(i * t + j) / div))
  }

  /** Inverse via LU with partial pivoting (commons-math3); null when the
    * matrix is singular (k ≤ T or degenerate residuals) — callers flag the
    * scope as not-evaluable rather than fabricating distances. */
  def invert(m: Array[Array[Double]]): Array[Array[Double]] =
    try {
      val lu = new LUDecomposition(new Array2DRowRealMatrix(m))
      if (math.abs(lu.getDeterminant) < Double.MinPositiveValue * 1e10) null
      else lu.getSolver.getInverse.getData
    } catch { case _: Exception => null }

  /** Mahalanobis distance d² = rᵀ Σ̂⁻¹ r of one subject's residual vector. */
  def mahalanobis(r: Array[Double], inv: Array[Array[Double]]): Double = {
    val t = r.length
    var acc = 0.0
    var i = 0
    while (i < t) {
      var j = 0
      while (j < t) { acc += r(i) * inv(i)(j) * r(j); j += 1 }
      i += 1
    }
    acc
  }

  /** χ²_T quantile cutoff for d² at `pct` percent (e.g. 99 → 0.99
    * quantile). This is the k→∞ calibration of the exact Hotelling form
    * d² ~ (k−1)T/(k−T) · F(T, k−T); at the reference's panel sizes the
    * difference is < the reporting precision, and χ² keeps the cutoff
    * independent of k (one cutoff per scope, broadcastable). */
  def chi2Inv(pct: Double, df: Int): Double =
    if (df <= 0 || pct <= 0 || pct >= 100) Double.NaN
    else new ChiSquaredDistribution(df.toDouble).inverseCumulativeProbability(pct / 100.0)
}
