package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.ConnectedComponents
import graft.sources.PartitionedSink

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get

  test("SetSimJoin: dense bitmask path ≡ sparse array path, exact vs brute force") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rng = new scala.util.Random(23)
    // 200 docs over a 50-word vocab (dense regime), with planted
    // high-overlap pairs: doc 2i+1 = doc 2i minus one token, for i < 20
    val base = (0 until 160).map { i =>
      i.toLong -> Seq.fill(12 + rng.nextInt(8))(s"w${rng.nextInt(50)}").distinct
    }
    val planted = (0 until 20).flatMap { i =>
      val ts = Seq.fill(15)(s"w${rng.nextInt(50)}").distinct
      Seq((1000L + 2 * i) -> ts, (1001L + 2 * i) -> ts.drop(1))
    }
    val toks = (base ++ planted)
      .flatMap { case (id, ts) => ts.map(id -> _) }.toDF("id", "w")
    val t = 0.8
    val dense = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // force the sparse path: maskWords = 0 makes every vocab "too big"
    val sparse = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t,
      maskWords = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(dense == sparse,
      s"paths disagree: only-dense=${dense -- sparse} only-sparse=${sparse -- dense}")
    // brute-force ground truth
    val sets = (base ++ planted).map { case (id, ts) => id -> ts.toSet }.toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a < b
      ni = sets(a).intersect(sets(b)).size
      if ni >= t * (sets(a).size + sets(b).size - ni)
    } yield (a, b)).toSet
    assert(dense.map(p => (p._1, p._2)) == truth,
      s"missing=${truth -- dense.map(p => (p._1, p._2))}")
    assert(truth.size >= 20, s"fixture too weak: ${truth.size} qualifying pairs")
  }

  test("SetSimJoin: bounded-stratum build ≡ full build filtered, both verify paths") {
    import spark.implicits._
    val rng = new scala.util.Random(59)
    val docs = (0 until 100).flatMap { i =>
      val ts = Seq.fill(12 + rng.nextInt(6))(s"w${rng.nextInt(40)}").distinct
      Seq((2L * i) -> ts, (2L * i + 1) -> ts.drop(1))
    }
    val toks = docs.flatMap { case (id, ts) => ts.map(id -> _) }.toDF("id", "w")
    val t = 0.8
    val bound = 60L
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    for (mw <- Seq(64, 0)) { // dense bitmask path and sparse array path
      val full = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t,
        maskWords = mw)
      val bounded = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t,
        maskWords = mw, aBound = Some(bound))
      assert(rows(bounded) == rows(full.filter(col("doc_a") < bound)),
        s"bounded-stratum divergence on maskWords=$mw")
      assert(rows(bounded).nonEmpty, "fixture too weak: empty stratum")
    }
  }

  test("SetSimJoin: wide-vocabulary regime ships freq by shuffle, same results") {
    // the 100 TB crawl regime: vocabN above the broadcast ceiling must
    // plan the frequency join as a shuffle equi-join (a billion-row
    // broadcast is a driver OOM), with results identical to the
    // broadcast regime
    import spark.implicits._
    val rng = new scala.util.Random(47)
    val docs = (0 until 120).flatMap { i =>
      val ts = Seq.fill(10 + rng.nextInt(6))(s"w${rng.nextInt(5000)}").distinct
      Seq((2L * i) -> ts, (2L * i + 1) -> ts.drop(1))
    }
    val toks = docs.flatMap { case (id, ts) => ts.map(id -> _) }.toDF("id", "w")
    val t = 0.8
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // maskWords = 0 pins BOTH runs to the sparse verify (the regime a
    // wide vocabulary implies) so the only difference is freq shipping
    val viaBroadcast = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t,
      maskWords = 0)
    val viaShuffle = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t,
      maskWords = 0, broadcastVocabMax = 0L)
    val p = viaShuffle.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[w".r.findFirstIn(p).isEmpty,
      s"wide-vocab regime must not broadcast the frequency table:\n$p")
    assert(rows(viaBroadcast) == rows(viaShuffle),
      "shuffle-shipped frequency join changed the result")
  }

  test("SetSimJoin: dense path over a 64+-rank vocabulary (ANSI shift regression)") {
    // The scaled documents corpus carries 31 base words + 99 copymark
    // tokens = 130 ranks; the dense path's leftmost-match filter then
    // evaluates ~shiftleft(-1L, r % 64) at r % 64 == 63, where the
    // previous (1L << 63) - 1L form raised ARITHMETIC_OVERFLOW under
    // ANSI mode. 150 ranks → 3 mask words, both the boundary bit and
    // the multi-word bitsBelow branches execute.
    import spark.implicits._
    val rng = new scala.util.Random(31)
    val docs = (0 until 60).flatMap { i =>
      // even doc: random tokens over the 150-rank base vocab + a pair-
      // local rare token; odd doc: the same set minus one base token —
      // a guaranteed high-Jaccard planted pair per i
      val ts = Seq.fill(12 + rng.nextInt(6))(s"v${rng.nextInt(150)}")
        .distinct :+ s"rare${i}"
      Seq((2L * i) -> ts, (2L * i + 1) -> (ts.drop(1)))
    }
    val toks = docs.flatMap { case (id, ts) => ts.map(id -> _) }.toDF("id", "w")
    val t = 0.8
    val got = graft.operators.SetSimJoin.selfJoin(toks, "id", "w", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sets = docs.map { case (id, ts) => id -> ts.toSet }.toMap
    val truth = (for {
      a <- sets.keys; b <- sets.keys if a < b
      ni = sets(a).intersect(sets(b)).size
      if ni >= t * (sets(a).size + sets(b).size - ni)
    } yield (a, b, ni.toLong)).toSet
    assert(got == truth, s"missing=${truth -- got} extra=${got -- truth}")
    assert(truth.size >= 40, s"fixture too weak: ${truth.size} qualifying pairs")
  }

  /** Labels `edges` on the driver path, then with the HASH-to-MIN loop
    * forced, and checks that neither run changed the session conf. */
  private def bothPaths(edges: DataFrame, maxIter: Int = 100): Seq[DataFrame] =
    Seq(false, true).map { forceLoop =>
      val conf = spark.conf.getAll
      val out = ConnectedComponents.label(edges, maxIter, forceLoop)
      assert(spark.conf.getAll == conf, s"forceLoop=$forceLoop changed the session conf")
      out
    }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: chains, triangles, and isolated pairs") {
    import spark.implicits._
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("src", "dst")
    for (got <- bothPaths(edges))
      assert(labels(got) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
        10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components converge on a long path (worst-case diameter)") {
    import spark.implicits._
    val edges = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    for (got <- bothPaths(edges, maxIter = 50).map(_.collect()))
      assert(got.length == 31 && got.forall(_.getLong(1) == 0L))
  }

  test("connected components on a sparse random graph ≡ driver union-find") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val n = 2000
    val ids = rng.shuffle((0 until n).map(_.toLong * 31 + 7).toVector).toArray
    // ~1.2 edges per node: below the giant-component threshold's dense
    // regime, so the graph has many components including long thin chains
    val edges = (0 until n * 12 / 10)
      .map(_ => (ids(rng.nextInt(n)), ids(rng.nextInt(n))))
      .filter { case (a, b) => a != b }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
    // maxIter 25 also pins the log-round convergence HASH-to-MIN promises
    for (got <- bothPaths(edges.toDF("src", "dst"), maxIter = 25))
      assert(labels(got) == want)
  }

  test("connected components on an empty edge set returns empty (clean corpus)") {
    import spark.implicits._
    val edges = Seq.empty[(Long, Long)].toDF("src", "dst")
    for (got <- bothPaths(edges)) {
      assert(got.columns.toSeq == Seq("id", "component"))
      assert(got.isEmpty)
    }
    assert(ConnectedComponents.canonicalize(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
  }

  test("dedup canonicalize groups LSH pairs by min doc id") {
    import spark.implicits._
    val pairs = Seq((5L, 9L), (9L, 7L), (100L, 101L)).toDF("doc_a", "doc_b")
    val want = Map(5L -> 5L, 9L -> 5L, 7L -> 5L, 100L -> 100L, 101L -> 100L)
    assert(labels(ConnectedComponents.canonicalize(pairs)) == want)
    assert(labels(ConnectedComponents.label(pairs, 100, forceLoop = true)) == want)
  }

  test("connected components label a bounded graph in at most two jobs") {
    import spark.implicits._
    val edges = (0L until 500L).map(i => (i / 10 * 10, i)).toDF("src", "dst")
    // the count that materializes the edge checkpoint, and the collect
    val (got, jobs) = SparkJobs.of(ConnectedComponents.run(edges))
    assert(jobs.total <= 2, jobs)
    assert(labels(got) == (0L until 500L).map(i => i -> i / 10 * 10).toMap)
  }

  test("incremental dedup merge ≡ full recompute on a random bucket layout") {
    import spark.implicits._
    import graft.functions.TextOps
    import graft.operators.IncrementalDedup
    val rng = new scala.util.Random(11)
    // 400 docs over 120 buckets, ~2 bands each — plenty of collisions,
    // components of mixed base/new membership
    val bandRows = (0L until 400L).flatMap { id =>
      Seq.fill(2)((id, rng.nextInt(4), s"b${rng.nextInt(120)}"))
    }.distinct
    val all = bandRows.toDF("doc_id", "band", "bucket")
      .select(col("doc_id"), col("band"), col("bucket"))
    val full = ConnectedComponents.canonicalize(
      TextOps.candidatePairs(all, "doc_id")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // split: new batch = doc_id % 5 == 0, base = rest (like the query)
    val base = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    val baseCanon = ConnectedComponents.canonicalize(
      TextOps.candidatePairs(base, "doc_id"))
    val got = IncrementalDedup.mergeBatch(baseCanon, batch, all, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
  }

  test("incremental dedup from a PERSISTED canon table (cold-session path)") {
    import spark.implicits._
    import graft.functions.TextOps
    import graft.operators.IncrementalDedup
    val all = Seq(
      (1L, 0, "x"), (2L, 0, "x"), (3L, 0, "y"), (4L, 0, "y"), // base groups
      (5L, 0, "x"),                                           // new joins {1,2}
      (10L, 0, "z"), (11L, 0, "z"),                           // new-only group
      (20L, 0, "w")                                           // new singleton
    ).toDF("doc_id", "band", "bucket")
    val base = all.filter(col("doc_id") < 5)
    val batch = all.filter(col("doc_id") >= 5)
    val dir = Files.createTempDirectory("canon").toString
    ConnectedComponents.canonicalize(TextOps.candidatePairs(base, "doc_id"))
      .write.mode("overwrite").parquet(s"$dir/canon.parquet")
    val persisted = spark.read.parquet(s"$dir/canon.parquet")
    val got = IncrementalDedup.mergeBatch(persisted, batch, all, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 10L, 11L -> 10L)) // 20 shares no bucket: absent (singleton)
  }

  test("incremental dedup hot-bucket guard stays component-exact") {
    import spark.implicits._
    import graft.functions.TextOps
    import graft.operators.IncrementalDedup
    // one degenerate bucket with 50 members (15 of them new) + a normal pair
    val hot = (0L until 50L).map(i => (i, 0, "degenerate"))
    val all = (hot ++ Seq((100L, 1, "p"), (101L, 1, "p")))
      .toDF("doc_id", "band", "bucket")
    val base = all.filter(col("doc_id") % 5 =!= 0)
    val batch = all.filter(col("doc_id") % 5 === 0)
    val full = ConnectedComponents.canonicalize(
      TextOps.candidatePairs(all, "doc_id", hotThreshold = 8)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val baseCanon = ConnectedComponents.canonicalize(
      TextOps.candidatePairs(base, "doc_id", hotThreshold = 8))
    val got = IncrementalDedup.mergeBatch(baseCanon, batch, all, "doc_id",
      hotThreshold = 8).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == full)
    assert(full.values.toSet == Set(0L, 100L)) // sanity: two components
  }

  test("kth-smallest selection ≡ orderBy.limit prefix, without the sort") {
    import spark.implicits._
    // non-contiguous, shuffled ids spanning several histogram widths
    val rng = new scala.util.Random(7)
    val ids = rng.shuffle((1 to 5000).map(i => i.toLong * 97 + (i % 13)))
    val df = ids.toDF("id").repartition(8)
    for (k <- Seq(1, 2, 1000, 4999, 5000)) {
      val expect = df.orderBy(col("id")).limit(k)
        .agg(max(col("id"))).head().getLong(0)
      val got = graft.operators.Selection.kthSmallestLong(df, "id", k, buckets = 64)
      assert(got == expect, s"k=$k: got $got expected $expect")
    }
  }

  test("kth-smallest selection counts the values at or below the k-th") {
    import spark.implicits._
    // repeats at the low end, in the middle and at the top, plus NULLs
    val ids = Seq.fill(5)(3L) ++ (10L to 400L) ++ Seq.fill(7)(200L) ++ Seq.fill(4)(9000L)
    val df = (ids.map(Option(_)) ++ Seq(None, None)).toDF("id").repartition(8)
    for (k <- Seq(1L, 5L, 6L, 195L, 196L, 200L, 398L, 402L, 403L)) {
      val (kth, rank) = graft.operators.Selection.kthSmallestLongWithRank(df, "id", k, buckets = 64)
      assert(kth == ids.sorted.apply(k.toInt - 1), s"k=$k")
      assert(rank == ids.count(_ <= kth), s"k=$k: rank $rank")
    }
  }

  test("BFR init sample: id-threshold filter — no Sort, no TakeOrdered") {
    import spark.implicits._
    val pts = (0 until 1000).map(i => (i.toLong, Seq(i.toDouble)))
      .toDF("id", "features").repartition(8)
    val sample = graft.bfr.BFR.initSampleWithThreshold(pts, 200)._1
    val p = sample.queryExecution.executedPlan.toString
    assert(!p.contains("TakeOrdered") && !p.contains("Sort ["),
      s"init sample must be a filter, not a global sort:\n$p")
    assert(sample.count() == 200)
    assert(sample.agg(max(col("id"))).head().getLong(0) == 199L)
  }

  test("BFR rest-of-chunk is the map-side complement filter, not an anti-join") {
    import spark.implicits._
    val pts = (0 until 1000).map(i => (i.toLong, Seq(i.toDouble)))
      .toDF("id", "features").repartition(8)
    val (sample, kth, _) = graft.bfr.BFR.initSampleWithThreshold(pts, 200)
    val rest = pts.filter(col("id") > kth)
    val p = rest.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange hashpartitioning"),
      s"complement must be a filter (no join, no hash shuffle):\n$p")
    // the two filters partition the chunk exactly (ids unique)
    assert(sample.count() + rest.count() == 1000)
    assert(rest.agg(min(col("id"))).head().getLong(0) == 200L)
  }

  test("bucketed tables join without a shuffle (co-located layout)") {
    // warehouse dir pinned to /tmp via build.sbt (static conf)
    // disable broadcast so the join would otherwise need an exchange
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      val or = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      PartitionedSink.writeBucketed(li.select("l_orderkey", "l_extendedprice"),
        "l_orderkey", "li_b", 8)
      PartitionedSink.writeBucketed(or.select("o_orderkey", "o_totalprice"),
        "o_orderkey", "or_b", 8)
      val j = spark.table("li_b").join(spark.table("or_b"),
        col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n${plan.take(1500)}")
      assert(j.count() == li.count()) // every lineitem has its order
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS or_b")
    }
  }

  test("partitioned write prunes partitions; clustered write prunes row groups") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val dir1 = Files.createTempDirectory("part").toString
    PartitionedSink.writePartitioned(li, "l_returnflag", dir1)
    val pruned = spark.read.parquet(dir1).filter(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"no partition filter:\n${plan.take(2000)}")
    val all = spark.read.parquet(dir1).count()
    assert(pruned.count() > 0 && pruned.count() < all)

    val dir2 = Files.createTempDirectory("clus").toString
    PartitionedSink.writeClustered(li, "l_orderkey", dir2, numFiles = 4)
    val point = spark.read.parquet(dir2).filter(col("l_orderkey") === 1L)
    val plan2 = point.queryExecution.executedPlan.toString
    assert(plan2.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,1)"),
      s"no pushed filter:\n${plan2.take(2000)}")
    assert(point.count() == li.filter(col("l_orderkey") === 1L).count())
  }

  test("epoch-shard write: per-file order is the serving order; epochs permute") {
    val assign = Queries.all.find(_.name == "q_epoch_shuffle").get
      .fn(spark, "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("epoch").toString
    PartitionedSink.writeEpochShards(assign, dir)

    // Every (epoch, shard) file reads back already sorted by the order
    // key — the physical row order is the epoch's serving order.
    import org.apache.spark.sql.functions.input_file_name
    val rows = spark.read.parquet(dir)
      .select(col("epoch"), col("shard"), col("ord"), col("doc_id"),
        input_file_name().as("f"))
      .collect()
    rows.groupBy(r => r.getString(4)).foreach { case (f, rs) =>
      val ords = rs.map(_.getString(2)).toSeq
      assert(ords == ords.sorted, s"file $f not in serving order")
    }

    // Both epochs carry the full corpus, and the permutation differs:
    // the same doc lands at a different (shard, position) in epoch 1.
    val byEpoch = rows.groupBy(r => r.getInt(0))
    assert(byEpoch.keySet == Set(0, 1))
    assert(byEpoch(0).map(_.getLong(3)).toSet == byEpoch(1).map(_.getLong(3)).toSet)
    def order(e: Int): Seq[Long] =
      byEpoch(e).sortBy(r => (r.getInt(1), r.getString(2))).map(_.getLong(3)).toSeq
    assert(order(0) != order(1), "epoch permutations must differ")
  }

  test("substring dedup catches a misaligned cross-doc 50-token span that segment dedup misses") {
    import spark.implicits._
    val rng = new scala.util.Random(71)
    def rand(n: Int, tag: String): Seq[String] =
      Seq.tabulate(n)(i => s"$tag${rng.nextInt(100000)}x$i")
    // the planted span: 50 tokens, embedded at offset 3 in doc 0 and
    // offset 5 in doc 1 — every 8-token ALIGNED segment cut differs
    // between the two docs, so q_line_dedup sees no repeats at all
    val span = Seq.tabulate(50)(i => s"dupspan$i")
    val doc0 = rand(3, "a") ++ span ++ rand(9, "b")
    val doc1 = rand(5, "c") ++ span ++ rand(7, "d")
    val doc2 = rand(60, "e") // control: untouched
    val df = Seq(
      (0L, doc0.mkString(" ")), (1L, doc1.mkString(" ")), (2L, doc2.mkString(" ")))
      .toDF("doc_id", "text")

    val sub = TextQueries.substringDedupOver(df, 20).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // one maximal span of exactly the 50 planted tokens in each carrier
    assert(sub(0L) == ((1L, 50L)), s"doc0: ${sub(0L)}")
    assert(sub(1L) == ((1L, 50L)), s"doc1: ${sub(1L)}")
    assert(sub(2L) == ((0L, 0L)), s"doc2: ${sub(2L)}")

    // the fixed-alignment segment pass keeps EVERYTHING (no aligned
    // 8-token segment repeats corpus-wide) — the gap this query closes
    val line = TextQueries.lineDedupOver(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    line.foreach { case (id, (nSegs, nKept)) =>
      assert(nSegs == nKept, s"doc $id: segment dedup unexpectedly dropped segments")
    }
  }
}
