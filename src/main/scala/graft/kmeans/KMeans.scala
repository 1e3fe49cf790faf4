package graft.kmeans

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.VectorFunctions.sqDist
import graft.operators.SummaryAggregator

/** Distributed, deterministic K-Means: farthest-first (maximin) seeding +
  * fixed-iteration Lloyd, re-expressing the reference's `HCluster`
  * (seeding code/bfr.py:18-40; Lloyd code/bfr.py:60-90 — 5 iterations, no
  * convergence test, empty clusters keep their old center,
  * code/bfr.py:46-58).
  *
  * Execution shape: the model side (K centers) is always a broadcast-sized
  * literal folded into the assignment expression, so assignment is
  * map-side only — the point side never shuffles. The update step is a
  * partial+final aggregation over K groups (SummaryAggregator). Per Lloyd
  * iteration exactly one job runs, collecting K summaries to the driver.
  *
  * Determinism: the first seed is the minimum-id point (the reference uses
  * `random.randint`, code/bfr.py:21 — we pin it for reproducible tests);
  * ties in argmin/argmax break toward the lower index / lower id,
  * matching the reference's strict `<` first-minimum scan
  * (code/bfr.py:73-76).
  */
object KMeans {

  final case class Model(centers: Array[Array[Double]]) {
    def k: Int = centers.length
    def d: Int = centers.headOption.map(_.length).getOrElse(0)

    /** Squared distance of `features` to each center, as array<double> —
      * one codegen'd kernel per center (no lambda, stays inside
      * whole-stage codegen).
      */
    def distances(features: Column): Column =
      array(centers.toIndexedSeq.map(c => sqDist(features, lit(c))): _*)

    /** Above this k, assignment switches from k separate codegen kernels
      * (ideal at BFR/k-means scale — each stays inside whole-stage
      * codegen) to the single-loop [[graft.functions.NativeVectorFunctions.argMinSqDistNative]]
      * kernel whose generated code is O(1) in k — a census-scaled IVF
      * quantizer (k ≈ n/targetCell) would otherwise generate k methods'
      * worth of Java and fall out of codegen entirely.
      */
    private val ArgMinKernelMinK = 16

    /** Argmin label (first minimum wins — ties to the lowest cluster id). */
    def labelFor(features: Column): Column =
      if (k > ArgMinKernelMinK)
        graft.functions.NativeVectorFunctions.argMinSqDistNative(features, centers)
      else {
        val dists = distances(features)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }

    /** Driver-side twin of [[labelFor]] for one full-length, null-free
      * vector, bit-identical to it: the same in-order squared-distance
      * accumulation, and the same tie rule as the form `labelFor` picks —
      * first minimum with NaN sorting last (`array_min`/`array_position`)
      * up to `ArgMinKernelMinK`, strict `<` from `Double.MaxValue`
      * (−1 if no distance is below it) in the argmin kernel above it.
      */
    private[graft] def labelOf(x: Array[Double]): Int = {
      val kernel = k > ArgMinKernelMinK
      var best = if (kernel) -1 else 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < k) {
        val c = centers(j)
        var s = 0.0
        var t = 0
        while (t < c.length) { val z = x(t) - c(t); s += z * z; t += 1 }
        val better = if (kernel) s < bestD else j == 0 || java.lang.Double.compare(s, bestD) < 0
        if (better) { bestD = s; best = j }
        j += 1
      }
      best
    }

    /** Append `label` (and optionally `dist2`, the squared distance to the
      * chosen center) to `df`.
      */
    def assign(df: DataFrame, featCol: String, withDist: Boolean = false): DataFrame = {
      if (!withDist) return df.withColumn("label", labelFor(col(featCol)))
      if (k > ArgMinKernelMinK)
        return df.withColumn("label", labelFor(col(featCol)))
          .withColumn("dist2",
            graft.functions.NativeVectorFunctions.minSqDistNative(col(featCol), centers))
      val dists = distances(col(featCol))
      df.withColumn("label",
          (array_position(dists, array_min(dists)) - 1).cast("int"))
        .withColumn("dist2", array_min(dists))
    }

    /** Inertia / SSE: Σ min-squared-distance (code/test_sklearn.py:50-56). */
    def inertia(df: DataFrame, featCol: String): Double =
      df.select(sum(array_min(distances(col(featCol)))).as("sse"))
        .head().getDouble(0)
  }

  /** Multi-seed restart (M3, code/test_sklearn.py:114-129): run
    * seed+Lloyd `numSeeds` times from distinct deterministic starting
    * points (the s-th smallest id seeds restart s) and keep the model
    * with the lowest inertia.
    */
  def fitMultiSeed(points: DataFrame, k: Int, numSeeds: Int, iters: Int = 5,
                   featCol: String = "features", idCol: String = "id"): Model = {
    val cached = points.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val models = (0 until numSeeds).map { s =>
        val m = fit(cached, k, iters, featCol, idCol, firstSeedRank = s)
        m -> m.inertia(cached, featCol)
      }
      models.minBy(_._2)._1
    } finally cached.unpersist(false)
  }

  /** Farthest-first (maximin) seeding, distributed: maintain per-point
    * min-squared-distance to the chosen seeds and pick the argmax each
    * round (one TakeOrdered(1) job per seed — top-1 merges, never a data
    * fraction). `firstSeedRank` picks the (rank+1)-th smallest id as the
    * first seed (deterministic analog of the reference's random start,
    * code/bfr.py:21).
    *
    * Execution shape: ONE cached projection of the sample; the running
    * min is a lazily-folded `least` of codegen distance kernels against
    * seed literals, re-evaluated map-side per step. The fold's
    * left-to-right association and the kernel's in-order accumulation are
    * bit-identical to materializing the running min per step (kernel ≡
    * HOF exactness is unit-tested), so results are unchanged — but
    * nothing persists per step. The earlier form persisted a FULL copy of
    * the sample (features included) every iteration: 3K seed steps × a
    * 20%-of-chunk sample was GBs of storage churn per BFR init at scale,
    * and twice the job count. Total kernel work is Σᵢ i·n ≈ k²n/2 — all
    * map-side, the cheap side of the trade at every scale measured.
    */
  def seed(points: DataFrame, k: Int, featCol: String, idCol: String,
           firstSeedRank: Int = 0): Array[Array[Double]] = {
    val proj = points.select(col(idCol).cast("long").as("__id"), col(featCol).as("__f"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val first = proj.orderBy(col("__id")).select("__f")
        .limit(firstSeedRank + 1).collect().last
        .getSeq[Double](0).toArray
      val seeds = scala.collection.mutable.ArrayBuffer[Array[Double]](first)
      var minExpr: Column = sqDist(col("__f"), lit(first))
      var i = 1
      while (i < k) {
        // argmax of min-distance; ties break to the lowest id for determinism
        val next = proj.withColumn("__mind", minExpr)
          .orderBy(col("__mind").desc, col("__id"))
          .select("__f").head().getSeq[Double](0).toArray
        seeds += next
        minExpr = least(minExpr, sqDist(col("__f"), lit(next)))
        i += 1
      }
      seeds.toArray
    } finally proj.unpersist(false)
  }

  /** The driver's budget for point data, in cells (rows × dims). Inputs
    * at or below it run the identical algorithm driver-local instead of
    * as ~k + iters Spark jobs; bigger inputs stay distributed. BFR holds
    * its init sample and, while it fits, its retained set (RS) within it:
    * the init sample is capped at this many cells, so the init always
    * runs on the driver (SURVEY.md §4).
    */
  val LocalFitCells: Long = 4L * 1000 * 1000

  /** The `(id: long, features)` rows of `points` on the driver, sorted by
    * id ascending with null ids first (the order `orderBy(id)` gives) —
    * one collect job and a driver-side sort instead of a range-partition
    * sampling job plus the collect. The sort is stable: rows with equal
    * ids keep their collect order. Only for inputs under
    * [[LocalFitCells]].
    */
  private[graft] def collectById(points: DataFrame, featCol: String = "features",
                                 idCol: String = "id"): Array[Row] =
    points.select(col(idCol).cast("long"), col(featCol)).collect()
      .sortBy(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))

  /** Fixed-iteration Lloyd. Empty clusters keep their previous center
    * (code/bfr.py:52-57). The local and distributed paths implement the
    * same deterministic algorithm (same seeding rule, same first-min
    * tie-breaks); centers agree up to floating-point accumulation order.
    */
  def fit(points: DataFrame, k: Int, iters: Int = 5,
          featCol: String = "features", idCol: String = "id",
          firstSeedRank: Int = 0, forceDistributed: Boolean = false): Model = {
    val cached = points.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one job probes both the row count and the dimensionality
      val probe = cached.agg(
        count(lit(1)).as("n"),
        first(org.apache.spark.sql.functions.size(col(featCol))).as("d")).head()
      val n = probe.getLong(0)
      require(n > 0, "KMeans.fit on empty input")
      val kEff = math.min(k.toLong, n).toInt
      val d = probe.getInt(1)
      if (!forceDistributed && n * d <= LocalFitCells) {
        val rows = collectById(cached, featCol, idCol)
          .map(r => r.getSeq[Double](1).toArray)
        return fitLocal(rows, kEff, iters, firstSeedRank)
      }
      var centers = seed(cached, kEff, featCol, idCol, firstSeedRank)
      var it = 0
      while (it < iters) {
        val model = Model(centers)
        val sums = model.assign(cached, featCol)
          .groupBy(col("label"))
          .agg(SummaryAggregator.summarize(col(featCol)).as("s"))
          .collect()
        val next = centers.clone()
        sums.foreach { row =>
          val label = row.getInt(0)
          val s = row.getStruct(1)
          val n = s.getLong(0)
          if (n > 0) {
            val sum = s.getSeq[Double](1).toArray
            next(label) = sum.map(_ / n)
          }
        }
        centers = next
        it += 1
      }
      Model(centers)
    } finally cached.unpersist(false)
  }

  /** Driver-local twin of the distributed fit: exact maximin seeding
    * (first seed = point with `firstSeedRank`-th smallest id; rows arrive
    * id-sorted) + Lloyd with first-min argmin ties, empty clusters keep
    * their center — semantics of code/bfr.py:18-90. `initCenters`, when
    * given, SKIPS the maximin seeding and runs Lloyd from the supplied
    * centers instead (used by [[BalancedIvf]]'s robust median-cut split
    * init, where maximin's farthest-point second seed degenerates to
    * outlier-peeling on blob-heavy cells).
    */
  private[graft] def fitLocal(rows: Array[Array[Double]], k: Int, iters: Int,
                              firstSeedRank: Int,
                              initCenters: Array[Array[Double]] = null): Model = {
    val n = rows.length
    val d = rows.head.length
    def sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < d) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val centers = new Array[Array[Double]](k)
    if (initCenters != null) {
      require(initCenters.length == k, "initCenters must have k entries")
      var c = 0
      while (c < k) { centers(c) = initCenters(c).clone(); c += 1 }
    } else {
      // maximin seeding
      centers(0) = rows(math.min(firstSeedRank, n - 1)).clone()
      val minD = Array.fill(n)(Double.MaxValue)
      var c = 0
      while (c + 1 < k) {
        var best = -1; var bestD = -1.0
        var i = 0
        while (i < n) {
          val dd = sq(rows(i), centers(c))
          if (dd < minD(i)) minD(i) = dd
          // strict > keeps the lowest id on ties (rows are id-sorted)
          if (minD(i) > bestD) { bestD = minD(i); best = i }
          i += 1
        }
        c += 1
        centers(c) = rows(best).clone()
      }
    }
    // Lloyd
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](d))
      val counts = new Array[Long](k)
      var i = 0
      while (i < n) {
        var bi = 0; var bd = Double.MaxValue
        var j = 0
        while (j < k) {
          val dd = sq(rows(i), centers(j))
          if (dd < bd) { bd = dd; bi = j } // strict < = first-min wins
          j += 1
        }
        counts(bi) += 1
        var x = 0
        while (x < d) { sums(bi)(x) += rows(i)(x); x += 1 }
        i += 1
      }
      var j = 0
      while (j < k) {
        if (counts(j) > 0) {
          val nc = new Array[Double](d)
          var x = 0
          while (x < d) { nc(x) = sums(j)(x) / counts(j); x += 1 }
          centers(j) = nc
        }
        j += 1
      }
      it += 1
    }
    Model(centers)
  }
}
