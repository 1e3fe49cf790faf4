package graft.bfr

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.core.{ClusterSummary, RoundStats}
import graft.kmeans.KMeans
import graft.operators.SummaryAggregator

/** Bradley–Fayyad–Reina streaming clustering, re-expressed as Spark
  * dataflow. The reference (code/bfr.py:431-468) holds DS/CS/RS state on
  * the driver and loops one chunk per round; we keep the same round
  * structure (BFR is inherently order-dependent) as one [[BFR.step]] over
  * (state, chunk) plus one [[BFR.finish]]: [[BFR.run]] folds the step over
  * its chunks, and `Streaming.bfrStream` applies it per micro-batch. The
  * α=4 RS spill runs in every round, so neither caller must know its last
  * chunk in advance. No step sets session conf, so both callers run the
  * same round under the caller's conf. Every per-chunk step but the init
  * is a distributed plan:
  *
  *  - the init (round 1, M4) runs in driver memory like the reference's
  *    (code/bfr.py:393-429): one collect of a sample capped at
  *    `KMeans.LocalFitCells` cells, then fits, labels and DS summaries;
  *  - assignment = map-side expression against broadcast-small DS/CS
  *    summaries (K..5K rows of (center, std) — folded in as literals);
  *    the point side never shuffles (SURVEY.md §4.1);
  *  - the DS absorb is one exchange-free job: each partition folds its
  *    rows into K partial summaries, which merge on the driver in
  *    partition order (N, SUM and SUMSQ merge associatively);
  *  - RS is a Dataset, re-clustered into CS when it exceeds a threshold
  *    (reference M6, code/bfr.py:259-288 — defined but never called; we
  *    wire it live, fixing the dead-code path). Like the reference, the
  *    re-clustering runs in driver memory — one collect of RS, then fit,
  *    labels and CS summaries on the driver — while RS rows × d stay
  *    within `KMeans.LocalFitCells`; a larger RS takes the distributed
  *    step (k-means fit, label aggregation, broadcast joins). RS's row
  *    count rides the absorb fold, and within that budget the
  *    same collect also cuts RS's lineage every round, so a round takes
  *    RS in one job;
  *  - CS pairwise merge is a driver-side greedy loop over ≤5K summaries
  *    (code/bfr.py:290-320, with the center-vs-object bug fixed —
  *    code/bfr.py:304 passes SummarizedSet objects where vectors are
  *    expected);
  *  - assignments are kept as DataFrames (id, cluster), not a driver
  *    dict, so the output path scales with the data: each round
  *    checkpoints only its own delta, and the result is the union of the
  *    per-round checkpoints (no round re-copies earlier rounds' rows).
  *
  * Reference quirks deliberately fixed (SURVEY.md §7.2): the `if label:`
  * truthiness bug that sent points nearest cluster 0 to RS
  * (code/bfr.py:386) uses a proper null test here.
  */
object BFR {

  final case class Config(
      k: Int,
      alphaAssign: Double = 3.0,   // code/bfr.py:382 (α=3 default)
      alphaRs: Double = 4.0,       // code/bfr.py:326,339 (α=4)
      rsClusterThreshold: Int = 500, // re-cluster RS when it exceeds this
      /** Deterministic analog of the reference's random k-means start
        * (code/bfr.py:21 `random.randint`): the init-stage fits seed from
        * the (seedRank+1)-th smallest id instead of the first. Distinct
        * ranks give the independent restarts HW4 §4.3's best-of-5
        * protocol expects, reproducibly.
        */
      seedRank: Int = 0,
      /** Scale-safety valve (beyond the reference): if RS still exceeds
        * this after re-clustering, force-assign the overflow to the
        * nearest DS unconditionally (alpha = ∞) rather than letting
        * driver-adjacent state grow without bound on adversarial data.
        * None = reference-faithful unbounded RS.
        */
      rsHardCap: Option[Int] = None
  )

  private val KMeansIters = 5          // code/bfr.py:87-90
  private val InitSampleFraction = 0.2 // code/bfr.py:396-398
  private val SeedKMult = 3            // init clusters = 3K (code/bfr.py:400)
  private val CsKMult = 5              // RS re-cluster into 5K (code/bfr.py:264)

  final case class Result(
      assignments: DataFrame,       // (id: long, cluster: int), -1 = outlier
      stats: Seq[RoundStats],
      ds: IndexedSeq[ClusterSummary]
  )

  /** Nearest summary under `dist < alpha * sqrt(d)`: returns (labelCol,
    * keepCol). First minimum wins on ties (code/bfr.py:367-374 strict <).
    *
    * One fused kernel ([[graft.functions.NativeVectorExpressions
    * .NearestMahaExpr]]) with the summary matrices as reference objects:
    * bit-identical to the previous `array_min`/`array_position` over k
    * per-summary Mahalanobis literals, but O(1) plan size — the literal
    * form put ~k·2·d leaf nodes into every per-round plan, and Catalyst
    * re-analysis of those trees (2-3 fresh plans × ~6 actions per round)
    * was the BFR loop's dominant wall cost at bench scale.
    */
  private def nearestUnder(features: Column, summaries: IndexedSeq[ClusterSummary],
                           alpha: Double): (Column, Column) = {
    val d = summaries.head.d
    val packed = graft.functions.NativeVectorFunctions.nearestMahaNative(
      features, summaries.map(_.center).toArray, summaries.map(_.std).toArray,
      alpha * math.sqrt(d.toDouble))
    ((shiftright(packed, 1)).cast("int"), packed.bitwiseAND(1) === 1)
  }

  private def summaryOf(s: Row): ClusterSummary =
    ClusterSummary(s.getLong(0), s.getSeq[Double](1).toArray, s.getSeq[Double](2).toArray)

  /** Total within-cluster SSE of the discard-set summaries, driver-side
    * from the sufficient statistics alone: Σ_d (SUMSQ_d − SUM_d²/N) per
    * cluster — no data pass.
    */
  def totalSse(ds: Seq[ClusterSummary]): Double =
    ds.filter(_.n > 0).map { s =>
      var acc = 0.0
      var i = 0
      while (i < s.d) { acc += s.sumsq(i) - s.sum(i) * s.sum(i) / s.n; i += 1 }
      acc
    }.sum

  /** Mean within-cluster squared distance over the discard sets — the
    * best-of-N restart criterion (HW4 §4.3 grades the best of 5 runs).
    * Per-POINT, not total: restarts can discard different point counts,
    * and a run that routed more points to outliers would win a raw-SSE
    * comparison for the wrong reason.
    */
  def meanSse(ds: Seq[ClusterSummary]): Double = {
    val n = ds.map(_.n).sum
    if (n == 0) Double.MaxValue else totalSse(ds) / n
  }

  /** The init sample's row count for a chunk of `n` points whose longest
    * vector has `d` cells: the first 20% (code/bfr.py:396-398), capped at
    * `KMeans.LocalFitCells / d` rows, so that the driver-memory init stays
    * bounded like BFR's buffer (Bradley, Fayyad & Reina, KDD 1998).
    */
  private[graft] def initSampleSize(n: Long, d: Int): Int =
    math.min(math.ceil(InitSampleFraction * n), (KMeans.LocalFitCells / d).toDouble).toInt

  /** The deterministic init sample: the `sampleN` smallest-id points of
    * the chunk (code/bfr.py:396-398 takes the file-order prefix; ids are
    * the row's position, so the id prefix is the same set), as the filter
    * `id <= kth` by the sampleN-th smallest id — no TakeOrdered of 20% of
    * the chunk through one merge. A repeated k-th id adds its copies.
    * Returns the sample, kth and the sample's row count; the rest of the
    * chunk is then the map-side filter `id > kth`, not an anti-join.
    */
  private[graft] def initSampleWithThreshold(
      chunk: DataFrame, sampleN: Int): (DataFrame, Long, Long) = {
    val (kth, rows) = graft.operators.Selection.kthSmallestLongWithRank(chunk, "id", sampleN)
    (chunk.filter(col("id") <= kth), kth, rows)
  }

  /** The state between two rounds: DS and CS summaries, the CS membership
    * (id, cs_id), the retained set RS (id, features) and its row count,
    * the discarded-point counter and one stats row per round. A round
    * also leaves `blocks`, its assignment deltas (id, cluster) not yet
    * materialized, and `caches`, the persisted frames they read: the
    * caller materializes [[assigned]] (a checkpoint, a sink, a parquet
    * write) and only then calls [[release]].
    */
  final case class State(
      round: Int, ds: IndexedSeq[ClusterSummary], cs: IndexedSeq[ClusterSummary],
      csMembers: DataFrame, rs: DataFrame, rsCount: Long, discarded: Long,
      stats: Vector[RoundStats],
      blocks: Vector[DataFrame] = Vector.empty, caches: Vector[DataFrame] = Vector.empty) {

    /** The round's assignment blocks as one frame. */
    def assigned: DataFrame = blocks.reduceOption(_ union _)
      .getOrElse(emptyFrame(csMembers.sparkSession, "cluster"))

    /** Drops the round's caches once [[assigned]] has materialized, and
      * checkpoints the CS membership while CS state exists. Every round's
      * new members add their partitions to the union, so it narrows back
      * to the core count first (no shuffle).
      */
    def release(): State = {
      val members = if (cs.isEmpty) csMembers else csMembers
        .coalesce(csMembers.sparkSession.sparkContext.defaultParallelism).localCheckpoint(true)
      caches.foreach(_.unpersist(false))
      copy(csMembers = members, blocks = Vector.empty, caches = Vector.empty)
    }
  }

  object State {
    def empty(spark: SparkSession): State = State(0, IndexedSeq.empty, IndexedSeq.empty,
      emptyFrame(spark, "cs_id"), emptyFrame(spark, "features", ArrayType(DoubleType)),
      0L, 0L, Vector.empty)
  }

  /** Run BFR over an ordered sequence of chunk DataFrames, each with
    * columns (id: long, features: array<double>). Mirrors
    * `Runner.run` (code/bfr.py:431-468): folds [[step]] over the chunks
    * and ends with [[finish]]. Round 1's init runs in driver memory on a
    * capped sample (see [[step]]). Each round checkpoints only its own
    * assignment delta, the last round's together with finish's, and
    * `onRound` fires once that checkpoint (or `assignSink` call) is done.
    * The rounds run under the session's conf as the caller set it.
    */
  def run(spark: SparkSession, chunks: Seq[DataFrame], cfg: Config,
          onRound: Int => Unit = _ => (),
          assignSink: Option[DataFrame => Unit] = None): Result =
    runRounds(spark, chunks, cfg, onRound, assignSink, forceDistributedRs = false)

  /** [[run]] with a seam for tests: `forceDistributedRs` re-clusters RS
    * with the distributed step even where the driver-local one applies.
    */
  private[graft] def runRounds(spark: SparkSession, chunks: Seq[DataFrame], cfg: Config,
                               onRound: Int => Unit, assignSink: Option[DataFrame => Unit],
                               forceDistributedRs: Boolean): Result = {
    require(chunks.nonEmpty, "BFR needs at least one chunk")
    // sink mode hands each round's delta to the sink and accumulates
    // NOTHING: local-mode checkpoints live in the driver heap, exactly the
    // state a 100M-point probe must NOT hold (Result.assignments is then
    // empty). Else one checkpoint per round, not of the running union,
    // which would re-copy every earlier round (O(rounds^2)).
    val assignedCheckpoints = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var st = State.empty(spark)
    for ((chunk, idx) <- chunks.zipWithIndex) {
      st = step(spark, st, chunk, cfg, forceDistributedRs)
      if (idx == chunks.size - 1) st = finish(spark, st)
      describe(spark, st.round, "assigned-checkpoint")
      assignSink match {
        case Some(sink) => sink(st.assigned)
        case None       => assignedCheckpoints += st.assigned.localCheckpoint(true)
      }
      st = st.release()
      onRound(st.round) // instrumentation hook (scale probes time/heap here)
    }

    Result(assignedCheckpoints.reduceOption(_ union _)
      .getOrElse(emptyFrame(spark, "cluster")), st.stats, st.ds)
  }

  // label every action (opt guide §1.5) so job-level profiles attribute
  // the loop's cost to its steps
  private def describe(spark: SparkSession, round: Int, name: String): Unit =
    spark.sparkContext.setJobDescription(s"bfr r$round $name")

  /** One BFR round over a chunk with columns (id, features): round 1
    * initializes DS (M4) in driver memory from one collected sample of
    * [[initSampleSize]] rows, later rounds assign at α=3 and absorb (M5/A4);
    * then RS is collected or checkpointed, re-clustered into CS over the
    * threshold (M6), CS merges (M7), the hard cap applies, and RS spills
    * into DS at α=4 (M8). The spill runs in every round, the last one
    * included, so a stream need not know its last batch: [[finish]] only
    * labels what is left. Every absorb is one exchange-free job (see
    * `assignAbsorb` below). Returns the next state with the round's blocks
    * and caches pending (see [[State]]).
    */
  def step(spark: SparkSession, st: State, chunkRaw: DataFrame, cfg: Config,
           forceDistributedRs: Boolean = false): State = {
    val round = st.round + 1
    var ds = st.ds                                       // discard sets
    var cs = st.cs                                       // compression sets
    var csMembers = st.csMembers                         // (id, cs_id)
    var rs = st.rs                                       // retained points
    var rsCount = st.rsCount                             // rows of rs
    var discardedSoFar = st.discarded
    var blocks = st.blocks
    // tagged per-round assignment frames (see assignAbsorb) and round 1's
    // chunk, unpersisted by the caller once the blocks materialized
    var caches = st.caches
    import spark.implicits._

    /** One assignment step under the job description `name`: one
      * persisted distance pass tags every point with its nearest DS under
      * `alpha` (cluster, keep), so the absorb fold, the RS collect and the
      * assignment block all read one cache instead of each re-running the
      * Mahalanobis kernel; the caller unpersists it once the round's
      * blocks materialize (State.caches). With no DS every point is
      * leftover. The kept rows then fold into their DS summaries (A4, the
      * reference updates per point at code/bfr.py:389) in one job with no
      * exchange: each partition folds its kept rows, in row order, into
      * one partial summary per DS cluster and counts its leftover rows,
      * whose vectors are masked to NULL — a NULL or ragged vector routes to
      * RS and never reaches a summary. One collect brings the partials to
      * the driver, O(partitions · K · d) doubles, and they merge there in
      * partition order, so the sums never depend on which task finished
      * first. Returns (leftover (id, features), kept count, leftover count).
      */
    def assignAbsorb(name: String, points: DataFrame, alpha: Double): (DataFrame, Long, Long) = {
      describe(spark, round, name)
      val (label, keep) =
        if (ds.isEmpty) (lit(null).cast("int"), lit(false))
        else nearestUnder(col("features"), ds, alpha)
      val tagged = points
        .select(col("id"), label.cast("int").as("cluster"),
          coalesce(keep, lit(false)).as("__keep"), col("features"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      caches :+= tagged
      blocks :+= tagged.filter(col("__keep")).select("id", "cluster")
      val (k, d) = (ds.size, ds.headOption.map(_.d).getOrElse(0))
      val partials = tagged
        .select(when(col("__keep"), col("cluster")).otherwise(-1),
          when(col("__keep"), col("features")))
        .as[(Int, Array[Double])].mapPartitions { rows =>
          val n = new Array[Long](k)
          val (sum, sumsq) = (Array.ofDim[Double](k, d), Array.ofDim[Double](k, d))
          var left = 0L
          for ((c, f) <- rows) if (c < 0) left += 1 else {
            n(c) += 1
            var i = 0
            while (i < d) { sum(c)(i) += f(i); sumsq(c)(i) += f(i) * f(i); i += 1 }
          }
          Iterator((Array.tabulate(k)(c => ClusterSummary(n(c), sum(c), sumsq(c))), left))
        }.collect()
      val deltas = ds.indices.map(c => partials.foldLeft(ClusterSummary.zero(d))(_ merge _._1(c)))
      ds = ds.zip(deltas).map { case (s, delta) => s.merge(delta) }
      val kept = deltas.map(_.n).sum
      discardedSoFar += kept
      (tagged.filter(!col("__keep")).select("id", "features"), kept, partials.map(_._2).sum)
    }

    describe(spark, round, "chunk")
    val chunk = chunkRaw.select(col("id").cast("long").as("id"), col("features"))
    if (round == 1) {
      // round 1 reads its chunk four times (shape, k-th smallest id,
      // sample, rest) and caches it; later rounds read it once, through
      // assignAbsorb's persisted frame, so a chunk cache would never be read
      chunk.persist(StorageLevel.MEMORY_AND_DISK); caches :+= chunk
      // one exchange-free fold sizes the init sample: n counts every row,
      // d is the longest non-null vector
      val (n, d) = chunk.select(when(col("features").isNotNull, size(col("features"))))
        .as[Option[Int]].mapPartitions { sizes =>
          var (rows, longest) = (0L, 0)
          for (s <- sizes) { rows += 1; s.foreach(v => longest = math.max(longest, v)) }
          Iterator((rows, longest))
        }.collect().foldLeft((0L, 0)) { case ((r, l), (pr, pl)) => (r + pr, math.max(l, pl)) }
      describe(spark, round, "init")
      // --- init (M4, code/bfr.py:393-429), in driver memory ---
      require(d > 0, "BFR: chunk 1 has no feature vector")
      val sampleN = initSampleSize(n, d)
      val (sample, kth, sampleRows) = initSampleWithThreshold(chunk, sampleN)
      // the id prefix outgrows sampleN only by copies of id kth
      require(sampleRows * d <= KMeans.LocalFitCells, s"BFR: id $kth repeats so often in " +
        s"chunk 1 that its init sample holds $sampleRows rows of $d cells, over the driver budget")
      val (dsInit, toDs, toRs) = initLocal(KMeans.collectById(sample), d, sampleN, cfg)
      ds = dsInit
      blocks :+= localFrame(spark, toDs, emptyFrame(spark, "cluster").schema)
      discardedSoFar += toDs.length // sample inliers
      rs = localFrame(spark, toRs, chunk.schema)
      rsCount = toRs.length
      // rest of chunk 1 through the normal DS/RS path (code/bfr.py:429):
      // the exact complement of the `id <= kth` sample, as a map-side
      // filter — not an anti-join, which would shuffle the whole chunk
      val (r, _, nLeft) = assignAbsorb("absorb-rest", chunk.filter(col("id") > kth), cfg.alphaAssign)
      rsCount += nLeft
      rs = rs.union(r)
    } else {
      // --- per-chunk step (M5, code/bfr.py:382-391) ---
      val (r, _, nLeft) = assignAbsorb("absorb", chunk, cfg.alphaAssign)
      rsCount += nLeft
      rs = rs.union(r)
    }

    // The RS lineage must be cut every round — the plan otherwise
    // compounds (embedded center literals included) until even
    // stringifying it OOMs the driver, and it reads the round's tagged
    // cache. rsCount is already known from the absorb fold.
    // While RS fits KMeans' local-fit budget (KMeans.fit would collect
    // it for a fit anyway), ONE collect serves both cases: RS becomes a
    // driver-built frame, and an RS over the threshold re-clusters on
    // the driver from the same rows. A larger RS is checkpointed
    // eagerly for the distributed step.
    val rsSchema = rs.schema
    val localD = ds.headOption.map(_.d)
      .filter(d => !forceDistributedRs && rsCount * d <= KMeans.LocalFitCells)
    var rsRows: Array[Row] = null
    if (localD.isDefined) {
      describe(spark, round, "rs-recluster")
      rsRows = if (rsCount == 0) Array.empty[Row] else KMeans.collectById(rs)
      rs = localFrame(spark, rsRows, rsSchema)
    } else {
      describe(spark, round, "rs-checkpoint")
      rs = rs.localCheckpoint(true)
    }

    // --- RS -> CS re-clustering (M6, code/bfr.py:259-288) ---
    if (rsCount > cfg.rsClusterThreshold) {
      val kCs = math.min(CsKMult * cfg.k, (rsCount / 2).toInt max 1)
      val base = cs.size
      // the driver-local step is the distributed one's result without
      // its ~9 jobs
      localD match {
        case Some(d) =>
          val (retained, summaries, members) = reclusterLocal(rsRows, d, kCs)
          cs = cs ++ summaries
          csMembers = csMembers.union(localFrame(spark,
            members.map { case (id, i) => Row(id, base + i) }, csMembers.schema))
          rs = localFrame(spark, retained, rsSchema)
          rsCount = retained.length
        case None =>
          describe(spark, round, "rs-recluster")
          val model = KMeans.fit(rs, kCs, KMeansIters)
          val rsAssigned = model.assign(rs, "features").persist(StorageLevel.MEMORY_AND_DISK)
          val singles = rsAssigned.groupBy(col("label")).count()
            .filter(col("count") === 1).select("label")
          val newRs = rsAssigned.join(broadcast(singles), Seq("label"), "left_semi")
            .select("id", "features")
          val toCs = rsAssigned.join(broadcast(singles), Seq("label"), "left_anti")
            .persist(StorageLevel.MEMORY_AND_DISK)
          val byLabel = toCs.groupBy(col("label"))
            .agg(SummaryAggregator.summarize(col("features")).as("s")).collect()
            .map(row => row.getInt(0) -> summaryOf(row.getStruct(1))).toMap
          val labels = byLabel.keys.toSeq.sorted
          val labelToCs = labels.zipWithIndex.map { case (l, i) => (l, base + i) }.toMap
          cs = cs ++ labels.map(byLabel)
          val mapExpr = map(labelToCs.toSeq.flatMap { case (l, c) => Seq(lit(l), lit(c)) }: _*)
          csMembers = csMembers.union(
            toCs.select(col("id"), element_at(mapExpr, col("label")).cast("int").as("cs_id")))
          rs = newRs.localCheckpoint(true)
          rsCount = rs.count()
          rsAssigned.unpersist(false); toCs.unpersist(false)
      }
      // --- CS pairwise merge (M7, code/bfr.py:290-320, bug fixed) ---
      val (mergedCs, remap) = mergeCs(cs)
      if (remap.nonEmpty) {
        cs = mergedCs
        val remapExpr = map(remap.toSeq.flatMap { case (o, n2) => Seq(lit(o), lit(n2)) }: _*)
        csMembers = csMembers.select(col("id"),
          coalesce(element_at(remapExpr, col("cs_id")), col("cs_id")).cast("int").as("cs_id"))
      }
    }

    // --- RS hard cap (engine extension): force-spill overflow to DS ---
    for (cap <- cfg.rsHardCap if rsCount > cap && ds.nonEmpty) {
      describe(spark, round, "rs-cap")
      // smallest-id prefix via threshold selection — same shape as the
      // init sample; the overflow can be a large fraction of RS, so no
      // TakeOrdered funnel here either. RS's lineage is cut above, so
      // both filters read it cheaply
      val kth = graft.operators.Selection.kthSmallestLong(rs, "id", rsCount - cap)
      val (leftover, nA, _) = assignAbsorb("rs-cap", rs.filter(col("id") <= kth), Double.MaxValue)
      rsCount -= nA
      // an overflow point no DS can take (a NULL or ragged vector) stays
      rs = rs.filter(col("id") > kth).union(leftover)
    }

    // --- RS -> DS spill at α=4 (M8, code/bfr.py:322-334), every round ---
    if (rsCount > 0) {
      // one fold merges the matches into DS (code/bfr.py:331-333)
      // and counts what stays in RS
      val (r, _, nLeft) = assignAbsorb("rs-spill", rs, cfg.alphaRs)
      rsCount = nLeft
      rs = r
    }

    State(round, ds, cs, csMembers, rs, rsCount, discardedSoFar, st.stats :+
      RoundStats(round, ds.size, discardedSoFar, cs.size, cs.map(_.n).sum, rsCount), blocks, caches)
  }

  /** The end of the chunk sequence (M9, code/bfr.py:336-355): the RS left
    * after the last round's spill is labelled −1, every CS merges into
    * its nearest DS, and the last stats row is rewritten to count them.
    * Its blocks join the last round's pending ones.
    */
  def finish(spark: SparkSession, st: State): State = {
    describe(spark, st.round, "finalize")
    var ds = st.ds
    var blocks = st.blocks
    if (st.rsCount > 0) blocks :+= st.rs.select(col("id"), lit(-1).cast("int").as("cluster"))
    // force-merge every CS into its nearest DS (α=10^18, code/bfr.py:350)
    val cs = st.cs
    if (cs.nonEmpty) {
      val csToDs = cs.indices
        .map(i => i -> ds.indices.minBy(ds(_).mahalanobis(cs(i).center))).toMap
      ds = ds.zipWithIndex.map { case (s, di) =>
        csToDs.filter(_._2 == di).keys.foldLeft(s)((acc, ci) => acc.merge(cs(ci)))
      }
      val csMap = map(csToDs.toSeq.flatMap { case (c, d0) => Seq(lit(c), lit(d0)) }: _*)
      blocks :+= st.csMembers.select(col("id"),
        element_at(csMap, col("cs_id")).cast("int").as("cluster"))
    }
    val discarded = st.discarded + cs.map(_.n).sum // CS merge and remap keep N
    st.copy(ds = ds, cs = IndexedSeq.empty, csMembers = emptyFrame(spark, "cs_id"),
      discarded = discarded, blocks = blocks,
      stats = st.stats.init :+ RoundStats(st.round, ds.size, discarded, 0, 0L, st.rsCount))
  }

  /** The init (M4, code/bfr.py:393-429) on the id-sorted `(id, features)`
    * rows of chunk 1's init sample: 3K-means, rows of singleton clusters to
    * RS (A7 + P3) unless fewer than K rows would stay, K-means of the rest
    * into DS. The fits are `KMeans.fit`'s local path. Clusters the fine fit
    * leaves empty are dropped, not padded: a zero summary (NaN center,
    * zero std) lies at Mahalanobis distance 0 from every point. Returns
    * (DS summaries, (id, DS index) rows, RS rows).
    */
  private def initLocal(rows: Array[Row], d: Int, sampleN: Int, cfg: Config)
      : (IndexedSeq[ClusterSummary], Array[Row], Array[Row]) = {
    val feats = featuresOf(rows, d, "init sample point")
    val coarse = labelLocal(feats, math.min(SeedKMult * cfg.k, sampleN), cfg.seedRank)
    val multi = multiSlots(coarse)
    val kept = rows.indices.filter(i => multi.contains(coarse(i)))
    val inliers = if (kept.length < cfg.k) rows.indices else kept
    val inFeats = inliers.map(feats).toArray
    val fine = labelLocal(inFeats, cfg.k, cfg.seedRank)
    val (ds, slot) = foldSlots(inFeats, fine, fine.filter(_ >= 0).distinct.sorted.zipWithIndex.toMap)
    val dsOf = Array.fill(rows.length)(-1)
    for (j <- inliers.indices) dsOf(inliers(j)) = slot(j)
    val (toDs, toRs) = rows.indices.partition(dsOf(_) >= 0)
    (ds, toDs.map(i => Row(rows(i).get(0), dsOf(i))).toArray, toRs.map(rows).toArray)
  }

  /** Driver-local RS -> CS re-clustering of id-sorted `(id, features)`
    * rows — the distributed step's result without its jobs: the same fit
    * (the first seed is the smallest id, as `KMeans.fit`'s default), the
    * same singleton rule, and CS summaries folded in id order. Returns
    * (retained rows, CS summaries in label order, (id, summary index) per
    * CS member).
    */
  private def reclusterLocal(rows: Array[Row], d: Int, k: Int)
      : (Array[Row], IndexedSeq[ClusterSummary], Array[(Any, Int)]) = {
    val feats = featuresOf(rows, d, "RS point")
    val labels = labelLocal(feats, k, seedRank = 0)
    val (cs, slot) = foldSlots(feats, labels, multiSlots(labels))
    val (members, retained) = rows.indices.partition(slot(_) >= 0)
    (retained.map(rows).toArray, cs, members.map(i => (rows(i).get(0), slot(i))).toArray)
  }

  /** Each row's feature vector, which must be d long and null-free. */
  private def featuresOf(rows: Array[Row], d: Int, what: String): Array[Array[Double]] =
    rows.map { r =>
      val v = if (r.isNullAt(1)) null else r.getSeq[Any](1)
      require(v != null && v.length == d && !v.contains(null),
        s"BFR: $what ${r.get(0)} has no $d-long null-free feature vector")
      v.asInstanceOf[Seq[Double]].toArray
    }

  /** k-means of id-sorted vectors on the driver and each one's label:
    * `KMeans.fitLocal` with `KMeans.fit`'s k and first seed, and labels
    * from `Model.labelOf`, bit-identical to `Model.assign`.
    */
  private def labelLocal(feats: Array[Array[Double]], k: Int, seedRank: Int): Array[Int] = {
    val model = KMeans.fitLocal(feats, math.min(k, feats.length), KMeansIters, seedRank)
    feats.map(model.labelOf)
  }

  /** Ranks of the labels more than one row holds (the singleton rule). */
  private def multiSlots(labels: Array[Int]): Map[Int, Int] =
    labels.groupMapReduce(identity)(_ => 1)(_ + _).collect { case (l, c) if c > 1 => l }
      .toSeq.sorted.zipWithIndex.toMap

  /** Folds each row whose label has a slot into that slot's summary, in
    * row order. Returns the summaries and each row's slot (−1 for none).
    */
  private def foldSlots(feats: Array[Array[Double]], labels: Array[Int], slot: Map[Int, Int])
      : (IndexedSeq[ClusterSummary], Array[Int]) = {
    val rowSlot = labels.map(slot.getOrElse(_, -1))
    val acc = new Array[ClusterSummary](slot.size)
    for (i <- feats.indices; s = rowSlot(i); if s >= 0)
      acc(s) = if (acc(s) == null) ClusterSummary.ofPoint(feats(i)) else acc(s).add(feats(i))
    (acc.toIndexedSeq, rowSlot)
  }

  /** Greedy CS pairwise merge: any pair with center-to-summary Mahalanobis
    * < 3√d merges (code/bfr.py:290-320; the reference's version compares
    * objects, not centers — fixed here). Returns (new summaries, old-index
    * → new-index remap for indices that changed).
    */
  def mergeCs(cs: IndexedSeq[ClusterSummary]): (IndexedSeq[ClusterSummary], Map[Int, Int]) = {
    if (cs.size < 2) return (cs, Map.empty)
    val d = cs.head.d
    val thr = 3.0 * math.sqrt(d.toDouble)
    val parent = Array.tabulate(cs.size)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    val work = scala.collection.mutable.ArrayBuffer(cs: _*)
    var merged = true
    while (merged) {
      merged = false
      var i = 0
      while (i < work.size && !merged) {
        var j = i + 1
        while (j < work.size && !merged) {
          val ri = find(i); val rj = find(j)
          if (ri != rj && work(ri).n > 0 && work(rj).n > 0 &&
              work(ri).mahalanobis(work(rj).center) < thr) {
            work(ri) = work(ri).merge(work(rj))
            work(rj) = ClusterSummary.zero(d)
            parent(rj) = ri
            merged = true
          }
          j += 1
        }
        i += 1
      }
    }
    val roots = (0 until cs.size).map(find)
    val alive = roots.distinct.sorted
    val newIdx = alive.zipWithIndex.toMap
    val out = alive.map(work(_)).toIndexedSeq
    val remap = (0 until cs.size).map(i => i -> newIdx(roots(i))).filter(p => p._1 != p._2).toMap
    (out, remap)
  }

  private def localFrame(spark: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def emptyFrame(spark: SparkSession, valueCol: String,
                               valueType: DataType = IntegerType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("id", LongType), StructField(valueCol, valueType))))

}
