package graft

import org.scalatest.funsuite.AnyFunSuite

/** Regression tests for the physical-plan shapes the scale posture
  * depends on (SURVEY §8 "Perf posture") — previously reviewed manually
  * via `runMain graft.Explain`, pinned here so a plan regression fails
  * the build instead of the 100 TB run:
  *
  *  - predicate pushdown and column pruning reach the parquet scans;
  *  - dimension joins broadcast (no shuffle of the fact side for the
  *    model/dim lookup);
  *  - per-document text operators are map-side only (no Exchange);
  *  - the map-side MinHash signature plans with no Exchange and no
  *    Generate (no explode) before its projection.
  */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val q = Queries.all.find(_.name == name).getOrElse(fail(s"no query $name"))
    q.fn(spark, sf).queryExecution.executedPlan.toString
  }

  /** Exchange lines that belong to the OPERATOR's dataflow — i.e. not the
    * input fan-out adapter ([[Queries.fanOut]]'s REPARTITION_BY_NUM over
    * the single-row-group testdata scan, which self-disables at
    * production partition counts). "Map-side only" assertions pin the
    * operator shape with these; any ENSURE_REQUIREMENTS / aggregation /
    * join exchange still fails.
    */
  private def operatorExchanges(p: String): Seq[String] =
    p.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
      .toSeq

  test("q_scan_project: filter pushed down, columns pruned at the scan") {
    val p = plan("q_scan_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"),
      s"filter not pushed:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_extendedprice:double,l_discount:double,l_shipdate"),
      s"columns not pruned to the projection+filter set:\n$p")
  }

  test("q_join_broadcast: dimension side broadcasts") {
    val p = plan("q_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"fact side must not shuffle for the dim join:\n$p")
  }

  test("q_token_count: per-document text op is map-side only (no Exchange)") {
    val p = plan("q_token_count")
    assert(operatorExchanges(p).isEmpty, s"per-doc projection must not shuffle:\n$p")
  }

  test("map-side MinHash signature: no Exchange, no Generate") {
    import org.apache.spark.sql.functions.col
    val sig = graft.functions.TextOps.signatureFromText(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id", col("text"))
    val p = sig.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"signature must not shuffle:\n$p")
    assert(!p.contains("Generate"), s"signature must not explode:\n$p")
  }

  test("map-side term frequency: word counts plan with no Exchange") {
    import org.apache.spark.sql.functions.{col, explode}
    val tf = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), explode(graft.functions.TextOps.wordCounts(col("text"))).as("wc"))
      .select(col("doc_id"), col("wc.w"), col("wc.c"))
    val p = tf.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"per-doc term frequency must not shuffle:\n$p")
  }

  private def countExchanges(name: String): Int =
    "Exchange hashpartitioning".r.findAllIn(plan(name)).length

  test("q_sessionize: window and session aggregation share ONE shuffle") {
    // hashpartitioning(user_id) satisfies the (user_id, session_id)
    // clustering, so the groupBy reuses the window's exchange
    assert(countExchanges("q_sessionize") == 1,
      s"expected 1 exchange:\n${plan("q_sessionize")}")
  }

  test("q_asof_join: tagged union + running-last window is ONE shuffle") {
    assert(countExchanges("q_asof_join") == 1,
      s"expected 1 exchange:\n${plan("q_asof_join")}")
  }

  test("q_embedding_near_dup_lsh: bucket equi-join, no theta cross join") {
    val p = plan("q_embedding_near_dup_lsh")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"LSH near-dup must not cross-join the corpus:\n$p")
  }

  test("q_group_cap: rank filter pushes WindowGroupLimit below the shuffle") {
    val p = plan("q_group_cap")
    assert(p.contains("WindowGroupLimit"),
      s"per-group cap must keep local top-k before the exchange:\n$p")
  }

  test("q_simhash_pairs / q_decontaminate: equi-joins only, no cross join") {
    for (name <- Seq("q_simhash_pairs", "q_decontaminate")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must not cross-join the corpus:\n$p")
    }
  }

  test("q_mahalanobis: summary side broadcasts back onto the fact side") {
    val p = plan("q_mahalanobis")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast of summaries:\n$p")
  }

  test("vector distances plan as codegen kernels, never as zip_with folds") {
    for ((name, kernel) <- Seq(
        "q_mahalanobis" -> "mahalanobis_native", "q_l2_norm" -> "dot_native",
        "q_sse_per_label" -> "sqdist_native", "q_ann_brute_force" -> "dot_native",
        "q_hybrid_rrf" -> "dot_native")) {
      val p = plan(name)
      assert(p.contains(kernel), s"$name: expected $kernel:\n$p")
      // q_mahalanobis builds its σ vector with a zip_with map; only the
      // fold shape aggregate(zip_with(...)) is a distance
      assert(!p.contains("aggregate(zip_with"), s"$name: HOF distance fold in the plan:\n$p")
    }
  }

  test("q_source_overlap / q_near_dedup_keep: equi-joins only, no cross join") {
    for (name <- Seq("q_source_overlap", "q_near_dedup_keep")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must not cross-join the corpus:\n$p")
    }
  }

  test("q_source_overlap: shingle self-join is shuffle-merge, never broadcast") {
    // srcSh derives from the localCheckpointed shingle artifact, whose
    // LogicalRDD stats are pre-checkpoint guesses — a statically-planned
    // broadcast of the corpus-scale distinct-shingle table is a driver
    // OOM at 100 TB. Only the two |sources|-row count dims may broadcast.
    val p = plan("q_source_overlap")
    assert("SortMergeJoin \\[sh".r.findFirstIn(p).nonEmpty,
      s"the sh self-join must be a shuffle merge:\n$p")
    assert("BroadcastHashJoin \\[sh".r.findFirstIn(p).isEmpty,
      s"the corpus-scale shingle side must never broadcast:\n$p")
  }

  test("q_cdc_chunks / q_ppjoin: census and prefix joins shuffle-merge, no cartesian") {
    // both carry corpus-scale intermediate tables behind explode /
    // checkpoint (sizes are planner guesses) — the static-broadcast
    // hazard class; tiny freq/count dims broadcasting is fine
    for (name <- Seq("q_cdc_chunks", "q_ppjoin")) {
      // q_ppjoin's registered form digests a CACHED (checkpointed) pair
      // relation — probe the un-materialized relation so the SetSimJoin
      // join shapes stay visible to the assertions
      val p = if (name == "q_ppjoin")
        TextQueries.ppjoinPairsUncached(spark, sf)
          .queryExecution.executedPlan.toString
      else plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must not cross-join:\n$p")
      assert("BroadcastHashJoin \\[(fp|w|doc)".r.findFirstIn(p).isEmpty,
        s"$name: corpus-scale side must never broadcast:\n$p")
      assert(p.contains("SortMergeJoin"),
        s"$name: expected shuffle-merge joins:\n$p")
    }
  }

  test("q_funnel: conditional min-agg, no self-join of the event log") {
    // the funnel must be ONE partial+final aggregate per user — the
    // 3-way self-join formulation shuffles the event log three times
    val p = plan("q_funnel")
    assert(!p.contains("Join"), s"funnel must not self-join the event log:\n$p")
  }

  test("q_zorder_layout: map-side Morton code, single aggregate shuffle") {
    val p = plan("q_zorder_layout")
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges <= 2, // partial->final agg exchange (+AQE read)
      s"z-order audit must be one aggregate shuffle, found $exchanges:\n$p")
    assert(!p.contains("Join"), s"no join expected:\n$p")
  }

  test("q_scd2_intervals: windows share one user_id partitioning, no join") {
    val p = plan("q_scd2_intervals")
    assert(!p.contains("Join"), s"SCD2 must be window-only, no self-join:\n$p")
  }

  test("q_priority_sample / q_weighted_sample: exact-k via TakeOrdered, no global sort") {
    // bottom-k by hash priority must plan as per-partition top-k +
    // driver merge (TakeOrderedAndProject) — a global Sort+Exchange of
    // the corpus to take 100 rows would be the 100 TB anti-pattern
    for (name <- Seq("q_priority_sample", "q_weighted_sample")) {
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"),
        s"$name must plan exact-k as TakeOrderedAndProject:\n$p")
      assert(!p.contains("Exchange rangepartitioning"),
        s"$name must not globally sort the corpus:\n$p")
    }
  }

  test("q_fuzzy_join: deletion-variant self-join shuffle-merge, never broadcast") {
    // the keyed side is vocab × O(L²) variants behind an explode — the
    // planner cannot size it, and a real dictionary is not
    // broadcast-safe; same static-broadcast hazard class as
    // q_source_overlap
    val p = plan("q_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"fuzzy join must not cross-join the vocabulary:\n$p")
    assert("SortMergeJoin \\[vkey".r.findFirstIn(p).nonEmpty,
      s"the variant-key self-join must be a shuffle merge:\n$p")
    assert("BroadcastHashJoin \\[vkey".r.findFirstIn(p).isEmpty,
      s"the variant-keyed side must never broadcast:\n$p")
  }

  test("q_minhash_recall: ground-truth joins shuffle-merge, bloom probe stays map-side") {
    // the exact-Jaccard ground truth self-joins the checkpointed shingle
    // artifact — same static-broadcast hazard as q_source_overlap
    val p = plan("q_minhash_recall")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q_minhash_recall must not cross-join:\n$p")
    assert("SortMergeJoin \\[sh".r.findFirstIn(p).nonEmpty,
      s"the co-shingle self-join must be a shuffle merge:\n$p")
    assert("BroadcastHashJoin \\[sh".r.findFirstIn(p).isEmpty,
      s"the corpus-scale shingle side must never broadcast:\n$p")
    // bloom probe: the bit list is a plan literal — the only join in
    // q_bloom_decontaminate is the bounded benchmark side for the FP
    // audit; the corpus-scale shingle table must not broadcast
    val pb = plan("q_bloom_decontaminate")
    assert(!pb.contains("CartesianProduct") && !pb.contains("BroadcastNestedLoopJoin"),
      s"bloom probe must not cross-join:\n$pb")
  }

  test("q_line_dedup: census join is shuffle-merge, never broadcast, no cross join") {
    // The segment census has one row per DISTINCT 8-token segment —
    // corpus-scale at 100 TB, never broadcastable. The keep rule is
    // min-agg + join back (partially aggregable) rather than a window,
    // so a hot boilerplate hash cannot concentrate in one task.
    val p = plan("q_line_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q_line_dedup must not cross-join:\n$p")
    assert("SortMergeJoin \\[h".r.findFirstIn(p).nonEmpty,
      s"the census join must be a shuffle merge:\n$p")
    assert("BroadcastHashJoin \\[h".r.findFirstIn(p).isEmpty,
      s"the corpus-scale census must never broadcast:\n$p")
    assert(!p.contains("Window"), s"keep rule must be agg+join, not a window:\n$p")
  }

  test("q_epoch_shuffle: one map-side projection — zero exchange, no join") {
    val p = plan("q_epoch_shuffle")
    assert(operatorExchanges(p).isEmpty, s"epoch assignment must not shuffle:\n$p")
    assert(!p.contains("Join"), s"epoch assignment must not join:\n$p")
  }

  test("q_split_leakage: pair/split joins are shuffle-merge, never broadcast") {
    // The candidate-pair table derives from checkpointed LSH artifacts
    // (planner size guesses) and the split table is corpus-scale — a
    // static broadcast of either is the driver-OOM class the 100× probe
    // caught. Both joins are hint-pinned.
    val p = plan("q_split_leakage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q_split_leakage must not cross-join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"neither corpus-scale join side may broadcast:\n$p")
    assert("SortMergeJoin \\[doc_".r.findFirstIn(p).nonEmpty,
      s"the pair/split joins must be shuffle merges:\n$p")
  }

  test("q_embedding_outliers: centroid literals fold map-side — no join, one exchange") {
    val p = plan("q_embedding_outliers")
    assert(!p.contains("Join"), s"scoring pass must not join (centroids are literals):\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1,
      s"only the rank window may shuffle:\n$p")
  }

  test("q_semantic_knn / q_semantic_dedup: cell-bounded equi-joins, no cartesian") {
    for (name <- Seq("q_semantic_knn", "q_semantic_dedup")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"$name must stay a cell equi-join:\n$p")
    }
  }

  test("q_doc_chunks / q_pii_scrub: per-document explosion/redaction is map-side only") {
    for (name <- Seq("q_doc_chunks", "q_pii_scrub")) {
      val p = plan(name)
      assert(operatorExchanges(p).isEmpty, s"$name must not shuffle:\n$p")
    }
  }

  test("q_array_ops: per-document array algebra is map-side only") {
    val p = plan("q_array_ops")
    assert(operatorExchanges(p).isEmpty, s"per-doc array ops must not shuffle:\n$p")
  }

  test("q_order_by_limit: top-k merge (TakeOrderedAndProject), no global Sort") {
    val p = plan("q_order_by_limit")
    assert(p.contains("TakeOrderedAndProject"),
      s"global order-by-limit must plan as per-task top-k merge:\n$p")
    assert(!p.contains("Exchange rangepartitioning"),
      s"must not range-shuffle for a limit:\n$p")
  }

  test("q_star_join: date filter pushed to the orders scan, dims broadcast") {
    val p = plan("q_star_join")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate)"),
      s"date filter not pushed to the orders scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dimension spokes must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"star join must stay equi-join only:\n$p")
  }

  test("q_bm25_search: inverted-index probe — term-filtered postings, top-k merge") {
    val p = plan("q_bm25_search")
    assert(!p.contains("CartesianProduct"),
      s"BM25 must stay equi/broadcast joins:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must be a per-task top-k merge, not a global sort:\n$p")
    // the 3-term posting filter runs before the first aggregation
    assert(p.contains("isin(") || p.contains("IN ("), s"term filter missing:\n$p")
  }

  test("q_cross_source_dups: source lookups shuffle-merge, never broadcast the corpus") {
    // Both doc_id→source joins carry corpus-scale sides (verified pairs
    // and the document table) — same static-broadcast hazard class as
    // q_source_overlap; only the |sources|²-key aggregate is bounded.
    val p = plan("q_cross_source_dups")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"must not cross-join:\n$p")
    assert("SortMergeJoin \\[doc".r.findFirstIn(p).nonEmpty,
      s"the doc_id source joins must be shuffle merges:\n$p")
    // pairOverlap's skew guard broadcasts BOUNDED hot-key id lists as
    // LeftSemi/LeftAnti — allowed; what must never broadcast is a
    // corpus-scale side of an INNER doc join
    assert("BroadcastHashJoin \\[doc[^\\n]*Inner".r.findFirstIn(p).isEmpty,
      s"the corpus-scale document side must never broadcast:\n$p")
  }

  test("q_winnowing: per-document window only — no join, no corpus-wide window") {
    val p = plan("q_winnowing")
    assert(!p.contains("Join"), s"winnowing is join-free:\n$p")
    assert(p.contains("Window"), s"sliding min must be a window:\n$p")
    // window partitions by doc_id → its exchange is hashpartitioning,
    // never a single-partition global window
    assert(!p.contains("Exchange SinglePartition, ENSURE_REQUIREMENTS"),
      s"winnowing window must partition by document:\n$p")
  }

  test("q_ann_sq8: 5-query side broadcasts; codes computed map-side") {
    val p = plan("q_ann_sq8")
    assert(!p.contains("CartesianProduct"),
      s"SQ8 scan × broadcast queries must not plan a cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the bounded query side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin [cid"), // rerank joins tiny shortlist
      s"the shortlist rerank must not shuffle the candidate corpus twice:\n$p")
  }

  test("q_bpe_apply: trained merges fold to literals — map-side scan, no exchange, no join") {
    val p = plan("q_bpe_apply")
    assert(operatorExchanges(p).isEmpty, s"BPE application must not shuffle:\n$p")
    assert(!p.contains("Join"), s"the merge table must travel as literals, not a join:\n$p")
  }

  test("q_video_kf_dhash / q_video_scene_cuts: container→image chain is map-side only") {
    // the full MP4 walk → sample extraction → PNG decode → dHash →
    // scene pairing runs inside one partition-local pass: no Exchange,
    // no Join — the shape that stays embarrassingly parallel at 100 TB
    for (n <- Seq("q_video_kf_dhash", "q_video_scene_cuts")) {
      val p = plan(n)
      assert(operatorExchanges(p).isEmpty, s"$n must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$n must not join:\n$p")
    }
  }

  test("q_gif_dhash / q_jpeg_dhash / q_cross_codec_dups: codec tiers never plan a cartesian") {
    // each container's fingerprint pass is partition-local decode (the
    // memoized feature tables are map-side products), and the
    // cross-codec comparison is an equi-join on doc_id, the image, audio
    // and video near-dup candidates an equi-join on (band, value) — a
    // shuffle on the join key is fine, an all-pairs plan never is
    for (n <- Seq("q_gif_dhash", "q_jpeg_dhash", "q_cross_codec_dups",
        "q_image_near_dup", "q_audio_near_dup", "q_video_near_dup")) {
      val p = plan(n)
      assert(!p.contains("CartesianProduct"), s"$n must not plan a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$n must join on keys, not nested-loop:\n$p")
    }
  }

  test("unpartitioned windows: fixed allow-list, every input bounded (agg/limit)") {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, GlobalLimit, LocalLimit, Window => LWindow}
    // Each allow-listed site computes its window over a bounded grid —
    // a grouped aggregate on a fixed-cardinality key (256-bucket corpus
    // grid, |sources|, n_chars histogram, rank histogram) or an explicit
    // limit — never over corpus rows. The runtime `WindowExec: No
    // Partition Defined` warning is silenced in Bench on the strength of
    // exactly this pin; a NEW unpartitioned window anywhere else in the
    // inventory fails here and must be partitioned or justified.
    val allowed = Set("q_vocab_growth", "q_zipf_rank", "q_source_mix",
      "q_temperature_mix", "q_apply_mixture", "q_token_budget",
      "q_bm25_search", "q_dsir_weights")
    Queries.all.foreach { q =>
      val wins = q.fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      if (wins.nonEmpty) {
        val bounded = wins.forall(_.child.collectFirst {
          case _: Aggregate => (); case _: GlobalLimit => (); case _: LocalLimit => ()
        }.nonEmpty)
        assert(bounded,
          s"${q.name}: unpartitioned window over a NON-aggregated/limited input")
        assert(allowed(q.name),
          s"${q.name}: NEW unpartitioned window — partition it or allow-list with justification")
      }
    }
  }
}
