package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distributed order statistics without a global sort.
  *
  * `orderBy(c).limit(k)` with a large k compiles to TakeOrderedAndProject:
  * every partition's top-k funnels through the driver — fine for k≈10,
  * fatal when k is a FRACTION of the data (BFR's init sample is 20% of a
  * chunk; at 100 TB that is hundreds of millions of rows through one
  * merge). Selecting the k-th smallest VALUE first and filtering by it
  * keeps every pass a map-side partial aggregation.
  */
object Selection {

  /** Exact k-th smallest (1-based) value of an integral column, by
    * iterative range-narrowing: each pass buckets the surviving value
    * range into at most `buckets` cells with one partial+final count
    * aggregation, and the driver walks the ≤`buckets`-row histogram to
    * the cell containing the k-th value. A 64-bit domain narrows in
    * ≤ ⌈64 / log2(buckets)⌉ = 4 passes (typically 2 for id-like ranges);
    * no sort, no single-partition funnel, driver memory bounded by
    * `buckets` rows per pass. Input should be cached by the caller when
    * it is re-scanned afterwards.
    */
  def kthSmallestLong(df: DataFrame, c: String, k: Long, buckets: Int = 1 << 16): Long =
    kthSmallestLongWithRank(df, c, k, buckets)._1

  /** [[kthSmallestLong]] plus the number of non-null values at or below
    * it, from the same passes: the values below the final cell are the
    * ones the walk skipped, and the final cell holds exactly the k-th
    * value. It exceeds k only by the repeats of that value.
    */
  def kthSmallestLongWithRank(df: DataFrame, c: String, k: Long,
                              buckets: Int = 1 << 16): (Long, Long) = {
    require(k >= 1, s"k must be >= 1, got $k")
    val proj = df.select(col(c).cast("long").as("__v"))
    val mm = proj.agg(min(col("__v")).as("mn"), max(col("__v")).as("mx"),
      count(col("__v")).as("n")).head()
    require(!mm.isNullAt(0), "kthSmallestLong on empty input")
    var lo = mm.getLong(0)
    var hi = mm.getLong(1)
    val n = mm.getLong(2)
    require(k <= n, s"k=$k exceeds row count $n")
    var kRem = k
    var atLo = n // with lo == hi every value equals lo
    while (hi > lo) {
      // ceil-width so the whole [lo, hi] range always fits `buckets` cells
      val width = math.max(1L, (hi - lo) / buckets + 1)
      val hist = proj.filter(col("__v").between(lo, hi))
        .groupBy(((col("__v") - lo) / width).cast("long").as("__b"))
        .agg(count(lit(1)).as("__c"))
        .collect().sortBy(_.getLong(0))
      var i = 0
      var found = false
      while (i < hist.length && !found) {
        val b = hist(i).getLong(0)
        val cb = hist(i).getLong(1)
        if (kRem <= cb) {
          val newLo = lo + b * width
          hi = math.min(hi, newLo + width - 1)
          lo = newLo
          atLo = cb
          found = true
        } else {
          kRem -= cb
          i += 1
        }
      }
      assert(found, s"histogram walk exhausted with kRem=$kRem — non-stationary input?")
    }
    (lo, k - kRem + atLo)
  }
}
