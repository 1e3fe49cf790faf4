package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.bfr.BFR
import graft.eval.Nmi
import graft.kmeans.KMeans
import graft.sources.PointSource

class BfrSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  lazy val blobs = TestBlobs.generate(spark, n = 2000, k = 5, d = 4, outliers = 20)
    .cache()

  test("kmeans recovers blob clusters with NMI above the reference pass bar") {
    val inliers = blobs.filter(col("trueLabel") >= 0)
    val model = KMeans.fit(inliers.select("id", "features"), k = 5, iters = 5)
    assert(model.centers.length == 5)
    val pred = model.assign(inliers, "features").select(col("id"), col("label"))
    val nmi = Nmi.score(pred, blobs.select(col("id"), col("trueLabel")))
    // HW4.pdf §4.3: NMI > 0.8 pass bar; clean blobs should be ~1.0
    assert(nmi > 0.95, s"NMI $nmi below expected")
  }

  test("kmeans model assigns deterministically (argmin first-min tie-break)") {
    val inliers = blobs.filter(col("trueLabel") >= 0)
    val m1 = KMeans.fit(inliers.select("id", "features"), k = 5, iters = 5)
    val m2 = KMeans.fit(inliers.select("id", "features"), k = 5, iters = 5)
    assert(m1.centers.map(_.toSeq).toSeq == m2.centers.map(_.toSeq).toSeq)
  }

  test("bfr end-to-end on chunked blobs: coverage, stats invariants, NMI") {
    val nChunks = 4
    val chunks = (0 until nChunks).map(i =>
      blobs.filter(pmod(col("id"), lit(nChunks)) === i).select("id", "features"))
    val res = BFR.run(spark, chunks, BFR.Config(k = 5, rsClusterThreshold = 100))
    val total = 2020L
    val n = res.assignments.count()
    assert(n == total, s"expected $total assignments, got $n")
    assert(res.assignments.select("id").distinct().count() == total,
      "every point labeled exactly once")
    assert(res.stats.size == nChunks)
    val discards = res.stats.map(_.nof_point_discard)
    assert(discards.zip(discards.tail).forall { case (a, b) => a <= b },
      s"nof_point_discard not monotone: $discards")
    val nmi = Nmi.score(
      res.assignments,
      blobs.select(col("id"), col("trueLabel")))
    assert(nmi > 0.8, s"BFR NMI $nmi below pass bar")
  }

  test("local and distributed fit paths agree (same algorithm)") {
    val inliers = blobs.filter(col("trueLabel") >= 0).select("id", "features")
    val local = KMeans.fit(inliers, k = 5, iters = 5)
    val dist = KMeans.fit(inliers, k = 5, iters = 5, forceDistributed = true)
    local.centers.zip(dist.centers).foreach { case (a, b) =>
      a.zip(b).foreach { case (x, y) =>
        assert(math.abs(x - y) < 1e-9, s"center drift: $x vs $y")
      }
    }
  }

  test("multi-seed restart picks the lowest-inertia model (M3)") {
    val inliers = blobs.filter(col("trueLabel") >= 0).select("id", "features")
    val best = KMeans.fitMultiSeed(inliers, k = 5, numSeeds = 3, iters = 5)
    val single = KMeans.fit(inliers, k = 5, iters = 5)
    assert(best.inertia(inliers, "features") <= single.inertia(inliers, "features") + 1e-6)
  }

  test("rs hard cap bounds retained-set size on adversarial data") {
    // 200 far outliers among 300 blob points: every outlier misses both
    // DS thresholds, so RS gains ~50 a round and, uncapped, outgrows the
    // cap; the cap must keep it bounded and still label all
    val points = TestBlobs.generate(spark, n = 300, k = 5, d = 4, outliers = 200)
      .select("id", "features")
    val chunks = (0 until 4).map(i => points.filter(pmod(col("id"), lit(4)) === i))
    val cfg = BFR.Config(k = 5, rsClusterThreshold = 1000)
    assert(BFR.run(spark, chunks, cfg).stats.dropRight(1).exists(_.nof_point_retained > 60))
    val (res, SparkJobs(jobs, _, _)) = SparkJobs.of(BFR.run(spark, chunks, cfg.copy(rsHardCap = Some(60))))
    assert(jobs.keys.exists(_.endsWith(" rs-cap")), s"the cap never fired: $jobs")
    assert(res.assignments.count() == 500)
    assert(res.assignments.select("id").distinct().count() == 500)
    // every non-final round's retained count obeys the cap
    res.stats.dropRight(1).foreach(s =>
      assert(s.nof_point_retained <= 60, s"cap violated: $s"))
  }

  test("the RS hard cap keeps overflow points no DS can take, which end as outliers") {
    import spark.implicits._
    val nulls = Seq((5000L, null: Array[Double]), (5001L, null: Array[Double]))
      .toDF("id", "features")
    val points = blobs.select("id", "features")
    val chunks = (0 until 3).map(i => points.filter(pmod(col("id"), lit(3)) === i))
      .updated(1, points.filter(pmod(col("id"), lit(3)) === 1).union(nulls))
    val res = BFR.run(spark, chunks, BFR.Config(k = 5, rsHardCap = Some(1)))
    val labels = res.assignments.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val labelled = labels.size
    assert(labelled == 2022)
    assert(labels.get(5000L).contains(-1) && labels.get(5001L).contains(-1),
      labels.filter(_._1 >= 5000L))
  }

  test("bfr on structureless embeddings terminates and labels every point") {
    val points = PointSource.fromEmbeddings(spark, "/root/testdata/sf0.001")
    val chunks = (0 until 4).map(i => points.filter(pmod(col("id"), lit(4)) === i))
    val res = BFR.run(spark, chunks, BFR.Config(k = 10, rsClusterThreshold = 50))
    assert(res.assignments.count() == 500)
    assert(res.assignments.select("id").distinct().count() == 500)
  }

  /** Blobs with 10% outliers in 4 chunks at threshold 5: RS re-clusters
    * into several CS in rounds 1-3 and keeps singletons. One outlier id
    * (outlier ids start at n = 2000) appears twice, with different
    * features.
    */
  private def rsReclusterFixture(): (Seq[DataFrame], BFR.Config) = {
    val noisy = TestBlobs.generate(spark, n = 2000, k = 5, d = 4, outliers = 200)
      .select("id", "features")
    val withDup = noisy.union(noisy.filter(col("id") === 2000L)
      .select(col("id"), reverse(col("features")).as("features")))
    val chunks = (0 until 4).map(i => withDup.filter(pmod(col("id"), lit(4)) === i))
    (chunks, BFR.Config(k = 5, rsClusterThreshold = 5))
  }

  private val RsRecluster = """bfr r(\d+) rs-recluster""".r

  test("driver-local and distributed RS re-clustering agree (stats and assignments)") {
    val (chunks, cfg) = rsReclusterFixture()
    val (local, SparkJobs(localJobs, _, _)) = SparkJobs.of(
      BFR.runRounds(spark, chunks, cfg, _ => (), None, forceDistributedRs = false))
    val (dist, SparkJobs(distJobs, _, _)) = SparkJobs.of(
      BFR.runRounds(spark, chunks, cfg, _ => (), None, forceDistributedRs = true))
    // the fixture re-clusters RS in at least two rounds on both paths
    for (jobs <- Seq(localJobs, distJobs))
      assert(jobs.keys.count(RsRecluster.matches) >= 2, s"RS re-clustered in < 2 rounds: $jobs")
    assert(local.stats == dist.stats)
    def pairs(r: BFR.Result) =
      r.assignments.collect().map(x => (x.getLong(0), x.getInt(1))).toSeq.sorted
    val a = pairs(local)
    assert(a.size == 2201, "every row (the duplicated id included) is assigned once")
    assert(a == pairs(dist))
  }

  /** Order-free fingerprint of (id, cluster) rows: the row count and the
    * wrapping sum of `xxhash64(id, cluster)`.
    */
  private def fingerprint(hashes: Seq[Long]): (Long, Long) = (hashes.size.toLong, hashes.sum)
  private def hashes(rows: DataFrame): Seq[Long] =
    rows.select(xxhash64(col("id"), col("cluster"))).collect().map(_.getLong(0)).toSeq
  private def rounds(rows: (Int, Int, Long, Int, Long, Long)*): Seq[graft.core.RoundStats] =
    rows.map((graft.core.RoundStats.apply _).tupled)

  /** Pins one run's observable behaviour: the assignment fingerprint,
    * every round's stats row and the final DS sizes.
    */
  private def assertLocked(what: String, fp: (Long, Long), res: BFR.Result,
                           wantFp: (Long, Long), wantStats: Seq[graft.core.RoundStats],
                           wantDsN: Seq[Long]): Unit = {
    assert(fp == wantFp, s"$what: assignment fingerprint")
    assert(res.stats == wantStats, s"$what: round stats")
    assert(res.ds.map(_.n) == wantDsN, s"$what: DS sizes")
  }

  private val reclusterStats = rounds((1, 5, 500L, 4, 39L, 12L), (2, 5, 1000L, 2, 98L, 3L),
    (3, 5, 1500L, 2, 141L, 10L), (4, 5, 2193L, 0, 0L, 8L))
  private val reclusterLock = (2201L, 1588383899828018388L)
  private val reclusterDsN = Seq(400L, 402L, 591L, 400L, 400L)

  test("BFR behaviour lock: RS re-clustering fixture, driver-local and distributed") {
    val (chunks, cfg) = rsReclusterFixture()
    for (force <- Seq(false, true)) {
      val res = BFR.runRounds(spark, chunks, cfg, _ => (), None, forceDistributedRs = force)
      assertLocked(s"recluster force=$force", fingerprint(hashes(res.assignments)), res,
        reclusterLock, reclusterStats, reclusterDsN)
    }
  }

  /** Blobs (σ = 2 per dimension) plus a halo of 60 points set 13..20
    * out along one axis from a blob's mean: 6.5σ..10σ, so the α=3 pass
    * (6σ in d = 4) misses all of them, the α=4 spill (8σ) takes about
    * four in ten, and the rest stay RS and end as outliers.
    */
  private def haloFixture(): (Seq[DataFrame], BFR.Config) = {
    import spark.implicits._
    val base = TestBlobs.generate(spark, n = 2000, k = 5, d = 4, outliers = 0)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val means = base.groupBy(_._3).map { case (l, rows) =>
      l -> rows.map(_._2).transpose.map(c => c.sum / c.length) }
    val halo = (0 until 60).map { i =>
      val f = means(i % 5).clone()
      f(i % 4) += 13.0 + 7.0 * i / 60
      (2000L + i, f)
    }
    val points = (base.map(r => (r._1, r._2)).toSeq ++ halo).toDF("id", "features")
    ((0 until 4).map(i => points.filter(pmod(col("id"), lit(4)) === i)), BFR.Config(k = 5))
  }

  test("BFR behaviour lock: a halo spills into DS at α=4, every round") {
    val (chunks, cfg) = haloFixture()
    val (res, SparkJobs(jobs, stages, _)) = SparkJobs.of(BFR.run(spark, chunks, cfg))
    def n(round: Int, step: String) = jobs.getOrElse(s"bfr r$round $step", 0)
    // the fixture reaches the α=4 spill before the last round and an α=4
    // pass over RS in the last round
    assert((1 to 3).exists(n(_, "rs-spill") > 0), jobs)
    assert(n(4, "rs-spill") + n(4, "finalize") > 0, jobs)
    // each spill is one partition fold: one job of one stage
    for ((desc, js) <- jobs if desc.endsWith(" rs-spill"))
      assert(js == 1 && stages.get(desc).contains(1), s"$desc: $jobs / $stages")
    assertLocked("halo", fingerprint(hashes(res.assignments)), res,
      (2060L, -5060436612051113077L),
      rounds((1, 5, 505L, 0, 0L, 10L), (2, 5, 1017L, 0, 0L, 13L),
        (3, 5, 1529L, 0, 0L, 16L), (4, 5, 2040L, 0, 0L, 20L)),
      Seq(409L, 408L, 408L, 407L, 408L))
  }

  test("BFR behaviour lock: a halo over the RS hard cap") {
    val (chunks, cfg) = haloFixture()
    val (res, SparkJobs(jobs, stages, _)) =
      SparkJobs.of(BFR.run(spark, chunks, cfg.copy(rsHardCap = Some(4))))
    // the cap's selection passes and its fold have no exchange
    assert(jobs.keys.exists(_.endsWith(" rs-cap")), jobs)
    for ((desc, js) <- jobs if desc.endsWith(" rs-cap"))
      assert(stages.get(desc).contains(js), s"$desc: $jobs / $stages")
    assertLocked("halo cap", fingerprint(hashes(res.assignments)), res,
      (2060L, 6474297523353583196L),
      rounds((1, 5, 515L, 0, 0L, 0L), (2, 5, 1030L, 0, 0L, 0L),
        (3, 5, 1543L, 0, 0L, 2L), (4, 5, 2056L, 0, 0L, 4L)),
      Seq(410L, 412L, 411L, 412L, 411L))
  }

  test("BFR behaviour lock: RS hard cap") {
    val points = PointSource.fromEmbeddings(spark, "/root/testdata/sf0.001")
    val chunks = (0 until 4).map(i => points.filter(pmod(col("id"), lit(4)) === i))
    val res = BFR.run(spark, chunks,
      BFR.Config(k = 10, rsClusterThreshold = 1000, rsHardCap = Some(60)))
    assertLocked("hard cap", fingerprint(hashes(res.assignments)), res,
      (500L, 7912568680348938295L),
      rounds((1, 10, 125L, 0, 0L, 0L), (2, 10, 250L, 0, 0L, 0L),
        (3, 10, 375L, 0, 0L, 0L), (4, 10, 500L, 0, 0L, 0L)),
      Seq(3L, 2L, 3L, 3L, 3L, 3L, 3L, 2L, 2L, 476L))
  }

  test("BFR behaviour lock: assignment sink mode") {
    val (chunks, cfg) = rsReclusterFixture()
    val sunk = scala.collection.mutable.ArrayBuffer[Long]()
    val res = BFR.run(spark, chunks, cfg, assignSink = Some(d => sunk ++= hashes(d)))
    assertLocked("sink", fingerprint(sunk.toSeq), res,
      reclusterLock, reclusterStats, reclusterDsN)
  }

  test("driver-local RS re-clustering runs at most one job per round") {
    val (chunks, cfg) = rsReclusterFixture()
    val (_, SparkJobs(jobs, _, _)) = SparkJobs.of(BFR.run(spark, chunks, cfg))
    val perRound = jobs.collect { case (RsRecluster(r), n) => r.toInt -> n }
    assert(perRound.size >= 2, s"RS re-clustered in < 2 rounds: $jobs")
    perRound.foreach { case (r, n) =>
      assert(n <= 1, s"round $r: $n rs-recluster jobs, expected at most one")
    }
  }

  test("a steady round runs one absorb job, one RS job and at most two checkpoint jobs") {
    val (chunks, cfg) = rsReclusterFixture()
    val (_, SparkJobs(jobs, stages, _)) = SparkJobs.of(BFR.run(spark, chunks, cfg))
    def n(round: Int, step: String) = jobs.getOrElse(s"bfr r$round $step", 0)
    for (r <- 2 to chunks.size) {
      assert(n(r, "absorb") == 1, s"round $r: $jobs")
      // the absorb is a partition fold: no exchange, so one stage
      assert(stages.getOrElse(s"bfr r$r absorb", 0) == 1, s"round $r: $stages")
      // RS stays within the driver-local budget: its count rides the
      // absorb fold and one collect replaces the checkpoint
      assert(n(r, "rs-checkpoint") == 0, s"round $r: $jobs")
      assert(n(r, "rs-recluster") <= 1, s"round $r: $jobs")
      assert(n(r, "assigned-checkpoint") <= 2, s"round $r: $jobs")
    }
  }

  test("BFR leaves the session conf alone: every round sees the caller's width and AQE") {
    val (chunks, cfg) = rsReclusterFixture()
    def conf = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
      .map(spark.conf.get)
    val before = conf
    val seen = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    BFR.run(spark, chunks, cfg, onRound = _ => seen += conf)
    assert(seen.size == chunks.size && seen.forall(_ == before), s"session $before, rounds $seen")
  }

  test("each round's assignment checkpoint holds only that round's rows") {
    val (chunks, cfg) = rsReclusterFixture()
    val res = BFR.run(spark, chunks, cfg)
    val perCheckpoint = res.assignments.queryExecution.analyzed.collectLeaves()
      .map { case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.count() }
    // rows labelled in round r = points newly discarded in r, plus the
    // final round's retained (-1) points
    val discard = 0L +: res.stats.map(_.nof_point_discard)
    val expected = res.stats.indices.map(i => discard(i + 1) - discard(i) +
      (if (i == res.stats.size - 1) res.stats(i).nof_point_retained else 0L))
    assert(perCheckpoint == expected, s"checkpoint rows $perCheckpoint, round deltas $expected")
    assert(perCheckpoint.sum == 2201L)
  }

  test("round 1's init runs in at most four jobs: the k-th id and one collect") {
    val (chunks, cfg) = rsReclusterFixture()
    val (_, SparkJobs(jobs, _, _)) = SparkJobs.of(BFR.run(spark, chunks, cfg))
    assert(jobs.getOrElse("bfr r1 init", 0) <= 4, jobs)
  }

  test("round 1's shape pass is one job of one stage") {
    val (chunks, cfg) = rsReclusterFixture()
    val (_, SparkJobs(jobs, stages, _)) = SparkJobs.of(BFR.run(spark, chunks, cfg))
    assert(jobs.getOrElse("bfr r1 chunk", 0) == 1, jobs)
    assert(stages.getOrElse("bfr r1 chunk", 0) == 1, stages)
  }

  test("a chunk 1 with only NULL or empty vectors fails the init") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("features", ArrayType(DoubleType))))
    val chunk = spark.createDataFrame(java.util.Arrays.asList(
      Row(1L, null), Row(2L, Seq.empty[Double]), Row(3L, null)), schema)
    val e = intercept[IllegalArgumentException](BFR.run(spark, Seq(chunk), BFR.Config(k = 2)))
    assert(e.getMessage.contains("chunk 1 has no feature vector"), e.getMessage)
  }

  test("the init sample is 20% of chunk 1, capped by the driver budget") {
    assert(BFR.initSampleSize(100000L, 8) == 20000)       // below the budget
    assert(BFR.initSampleSize(2500000L, 8) == 500000)     // at it: 4M cells
    assert(BFR.initSampleSize(2600000L, 8) == 500000)     // above it
    assert(BFR.initSampleSize(352000L, 64) == 62500)      // 0.2·n = 70,400
    assert(BFR.initSampleSize(7L, 4) == 2)                // ceil(1.4)
  }

  test("an init sample point without a d-long null-free vector fails naming its id") {
    import spark.implicits._
    val bad = Seq((-1L, null: Array[Double])).toDF("id", "features")
    val points = blobs.select("id", "features")
    for (first <- Seq(points.filter(pmod(col("id"), lit(3)) === 0).union(bad),
        points.filter(pmod(col("id"), lit(3)) === 0)
          .union(Seq((-1L, Array(1.0, 2.0))).toDF("id", "features")))) {
      val e = intercept[IllegalArgumentException](BFR.run(spark, Seq(first), BFR.Config(k = 5)))
      assert(e.getMessage.contains("init sample point -1 has no 4-long"), e.getMessage)
    }
  }

  test("an id repeated past the driver budget fails the init naming it, before any collect") {
    // the longest vector has d = 4000 cells, so the budget is 1000 rows;
    // id 7 holds 1100 of chunk 1's 1200 rows, and the 240-row sample
    // takes all its copies. The guard counts rows, so only the last row
    // carries a vector and the fixture stays small
    val chunk = spark.range(1200)
      .select(when(col("id") < 1100, 7L).otherwise(col("id")).as("id"),
        when(col("id") === 1199, array_repeat(lit(1.0), 4000)).as("features"))
    val (e, SparkJobs(jobs, _, _)) = SparkJobs.of(intercept[IllegalArgumentException](
      BFR.run(spark, Seq(chunk), BFR.Config(k = 5))))
    assert(e.getMessage.contains("id 7 repeats") && e.getMessage.contains("1100 rows"),
      e.getMessage)
    // the k-th id's min/max probe and one histogram pass, and no collect
    assert(jobs.getOrElse("bfr r1 init", 0) == 2, s"the sample was collected: $jobs")
  }

  test("NULL and ragged feature vectors route to RS and end as outliers") {
    import spark.implicits._
    val odd = Seq((5000L, null: Array[Double]), (5001L, Array(1.0, 2.0, 3.0)))
      .toDF("id", "features")
    val points = blobs.select("id", "features")
    val chunks = (0 until 3).map(i => points.filter(pmod(col("id"), lit(3)) === i))
      .updated(1, points.filter(pmod(col("id"), lit(3)) === 1).union(odd))
    val res = BFR.run(spark, chunks, BFR.Config(k = 5))
    val labels = res.assignments.collect().map(r => r.getLong(0) -> r.getInt(1))
    assert(labels.length == 2022)
    assert(labels.toMap.get(5000L).contains(-1) && labels.toMap.get(5001L).contains(-1),
      labels.filter(_._1 >= 5000L).toSeq)
  }

  test("assignment sink mode: streamed JSONL blocks ≡ accumulated assignments") {
    val nChunks = 4
    val chunks = (0 until nChunks).map(i =>
      blobs.filter(pmod(col("id"), lit(nChunks)) === i).select("id", "features"))
    val cfg = BFR.Config(k = 5, rsClusterThreshold = 100)
    val acc = BFR.run(spark, chunks, cfg)
    val sinkDir = java.nio.file.Files.createTempDirectory("graft_bfr_sink")
      .toFile.getAbsolutePath
    val streamed = BFR.run(spark, chunks, cfg,
      assignSink = Some(d => d.write.mode("append").json(sinkDir)))
    // sink mode accumulates NOTHING on the driver...
    assert(streamed.assignments.count() == 0L,
      "sink mode must not also accumulate assignment state")
    // ...and the streamed blocks reassemble the exact same assignment map
    val a = acc.assignments.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = spark.read.json(sinkDir).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("cluster").toInt).toMap
    assert(a == b, s"sink/accumulate divergence: ${(a.toSet diff b.toSet).take(5)}")
    assert(streamed.stats == acc.stats, "round stats must be sink-agnostic")
  }

  test("scale-probe smoke: round times and driver heap stay flat") {
    // miniature of app.BfrScaleBench's 10M-point run: 500 embeddings
    // replicated 100x = 50k points through 4 chunks; a compounding plan
    // or driver-held point state shows up as monotone per-round growth
    val r = graft.app.BfrScaleBench.run(
      spark, "/root/testdata/sf0.001/embeddings.parquet",
      copies = 100, nChunks = 4, k = 10)
    assert(r.points == 50000L)
    assert(r.rounds.size == 4)
    val secs = r.rounds.map(_.sec)
    // round 1 carries init (sample + 2 k-means fits); later rounds must
    // not grow past it, and the last round must not dominate the median
    val later = secs.drop(1)
    assert(later.max <= math.max(secs.head * 2, 10.0),
      s"per-round time grew: $secs")
    val heaps = r.rounds.map(_.heapMb)
    assert(heaps.last <= heaps.head * 3 + 512,
      s"driver heap grew round-over-round: $heaps")
  }
}
