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
  * keeps every pass a per-partition count with no exchange.
  */
object Selection {

  /** Exact k-th smallest (1-based) value of an integral column, by
    * iterative range-narrowing: each pass buckets the surviving value
    * range into at most `buckets` cells, and the driver walks the
    * histogram to the cell containing the k-th value. Every pass (the
    * first finds min, max and count) is one job with no exchange: each
    * partition counts into a dense array, and the driver adds the arrays
    * as tasks finish — counts are integers, so any order is exact, and
    * driver memory stays at `buckets` longs whatever the partition count.
    * A 64-bit domain narrows in ≤ ⌈64 / log2(buckets)⌉ = 4 passes
    * (typically 2 for id-like ranges); no sort, no single-partition
    * funnel. NULLs are not counted. Input should be cached by the caller
    * when it is re-scanned afterwards.
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
    val spark = df.sparkSession
    import spark.implicits._
    val values = df.select(col(c).cast("long").as("__v")).filter(col("__v").isNotNull)
      .as[Long].rdd
    val mm = values.aggregate(Array(Long.MaxValue, Long.MinValue, 0L))( // min, max, count
      (a, v) => { a(0) = math.min(a(0), v); a(1) = math.max(a(1), v); a(2) += 1; a },
      (a, b) => Array(math.min(a(0), b(0)), math.max(a(1), b(1)), a(2) + b(2)))
    require(mm(2) > 0, "kthSmallestLong on empty input")
    var lo = mm(0)
    var hi = mm(1)
    val n = mm(2)
    require(k <= n, s"k=$k exceeds row count $n")
    var kRem = k
    var atLo = n // with lo == hi every value equals lo
    while (hi > lo) {
      // ceil-width so the whole [lo, hi] range always fits `buckets` cells;
      // the task closures take vals, not the loop's vars
      val (from, to, width) = (lo, hi, math.max(1L, (hi - lo) / buckets + 1))
      val cells = ((to - from) / width + 1).toInt
      val hist = values.aggregate(new Array[Long](cells))(
        (a, v) => { if (v >= from && v <= to) a(((v - from) / width).toInt) += 1; a },
        (a, b) => { for (i <- a.indices) a(i) += b(i); a })
      var b = 0
      while (b < cells && kRem > hist(b)) { kRem -= hist(b); b += 1 }
      assert(b < cells, s"histogram walk exhausted with kRem=$kRem — non-stationary input?")
      lo = from + b * width
      hi = math.min(to, lo + width - 1)
      atLo = hist(b)
    }
    (lo, k - kRem + atLo)
  }
}
