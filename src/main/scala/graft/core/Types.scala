package graft.core

/** Core data model of the engine, derived from the reference's world
  * (see SURVEY.md §1; reference: code/bfr.py:142-188, 209-217).
  */

/** BFR sufficient statistics for one cluster: the N/SUM/SUMSQ triple.
  * Reference: `class SummarizedSet` (code/bfr.py:142-188). A commutative
  * monoid: `add` folds one point, `merge` folds two summaries.
  */
final case class ClusterSummary(
    n: Long,
    sum: Array[Double],
    sumsq: Array[Double]
) {
  def d: Int = sum.length

  /** Centroid = SUM/N (code/bfr.py:168,188). */
  def center: Array[Double] = {
    val c = new Array[Double](sum.length)
    var i = 0
    while (i < sum.length) { c(i) = sum(i) / n; i += 1 }
    c
  }

  /** Per-dimension std = sqrt(SUMSQ/N - (SUM/N)^2) (code/bfr.py:156-160).
    * Negative variance from FP cancellation is clamped to 0.
    */
  def std: Array[Double] = {
    val s = new Array[Double](sum.length)
    var i = 0
    while (i < sum.length) {
      val m = sum(i) / n
      val v = sumsq(i) / n - m * m
      s(i) = if (v > 0) math.sqrt(v) else 0.0
      i += 1
    }
    s
  }

  /** Add a single point (code/bfr.py:162-168). */
  def add(features: Array[Double]): ClusterSummary = {
    val ns = new Array[Double](sum.length)
    val nq = new Array[Double](sum.length)
    var i = 0
    while (i < sum.length) {
      ns(i) = sum(i) + features(i)
      nq(i) = sumsq(i) + features(i) * features(i)
      i += 1
    }
    ClusterSummary(n + 1, ns, nq)
  }

  /** Monoid merge (code/bfr.py:181-188). */
  def merge(o: ClusterSummary): ClusterSummary = {
    if (n == 0) return o
    if (o.n == 0) return this
    val ns = new Array[Double](sum.length)
    val nq = new Array[Double](sum.length)
    var i = 0
    while (i < sum.length) {
      ns(i) = sum(i) + o.sum(i)
      nq(i) = sumsq(i) + o.sumsq(i)
      i += 1
    }
    ClusterSummary(n + o.n, ns, nq)
  }

  /** Mahalanobis distance of a point to this cluster under the diagonal-σ
    * model; zero-σ dimensions are skipped (code/bfr.py:119-126).
    */
  def mahalanobis(p: Array[Double]): Double = {
    val c = center
    val s = std
    var acc = 0.0
    var i = 0
    while (i < p.length) {
      if (s(i) != 0.0) {
        val z = (p(i) - c(i)) / s(i)
        acc += z * z
      }
      i += 1
    }
    math.sqrt(acc)
  }
}

object ClusterSummary {
  def zero(d: Int): ClusterSummary =
    ClusterSummary(0L, new Array[Double](d), new Array[Double](d))

  def ofPoint(features: Array[Double]): ClusterSummary = {
    val sq = new Array[Double](features.length)
    var i = 0
    while (i < features.length) { sq(i) = features(i) * features(i); i += 1 }
    ClusterSummary(1L, features.clone(), sq)
  }
}

/** One row of the reference's intermediate-results CSV
  * (code/bfr.py:197-198, 454-460).
  */
final case class RoundStats(
    round_id: Int,
    nof_cluster_discard: Int,
    nof_point_discard: Long,
    nof_cluster_compression: Int,
    nof_point_compression: Long,
    nof_point_retained: Long
)
