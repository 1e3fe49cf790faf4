package graft.operators

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

import graft.core.ClusterSummary

/** Typed aggregator folding feature vectors into BFR sufficient statistics
  * (N/SUM/SUMSQ). This is the engine's one mandatory custom aggregate
  * (SURVEY.md §2.10); partial aggregation (map-side combine) and the final
  * merge both go through the ClusterSummary monoid, mirroring the
  * reference's `SummarizedSet.update`/`merge` (code/bfr.py:162-188).
  *
  * Catalyst plans it as HashAggregate(partial) → Exchange → final, so the
  * shuffle carries one (K·d) summary per partition, never raw points.
  */
object SummaryAggregator extends Aggregator[Array[Double], ClusterSummary, ClusterSummary] {
  override def zero: ClusterSummary = ClusterSummary(0L, Array.empty, Array.empty)

  override def reduce(b: ClusterSummary, a: Array[Double]): ClusterSummary =
    if (b.n == 0) ClusterSummary.ofPoint(a) else b.add(a)

  override def merge(b1: ClusterSummary, b2: ClusterSummary): ClusterSummary =
    if (b1.n == 0) b2 else if (b2.n == 0) b1 else b1.merge(b2)

  override def finish(r: ClusterSummary): ClusterSummary = r

  override def bufferEncoder: Encoder[ClusterSummary] = Encoders.product[ClusterSummary]
  override def outputEncoder: Encoder[ClusterSummary] = Encoders.product[ClusterSummary]

  /** Use as an untyped DataFrame aggregate: `df.groupBy("label").agg(summarize(col("features")))`. */
  def summarize(features: Column): Column = udaf(SummaryAggregator).apply(features)
}
