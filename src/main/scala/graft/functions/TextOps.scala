package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared text-operator building blocks, parameterized on the text
  * column — the single source of truth for tokenization, shingling,
  * MinHash seeds, LSH band layout and language markers used by BOTH the
  * oracle-checked queries (TextQueries) and the production pipeline
  * (CorpusPipelineApp). Changing a seed or the shingle width here changes
  * every consumer together.
  */
object TextOps {

  /** Whitespace tokenization, trimmed. */
  def words(text: Column): Column = split(trim(text), "\\s+")

  /** Word 3-gram shingles: positions 1..max(n-2, 1). try_element_at
    * beyond the array end yields NULL (element_at would throw under ANSI
    * mode) and concat_ws skips NULLs, so short docs (n < 3) produce the
    * same single truncated shingle as a slice-based form — without
    * allocating a 3-element array per shingle (~1.5× faster shingling at
    * the 100k-doc scale probe).
    */
  def shingles(text: Column): Column = {
    val ws = words(text)
    transform(sequence(lit(1), greatest(size(ws) - 2, lit(1))),
      i => concat_ws(" ",
        try_element_at(ws, i), try_element_at(ws, i + 1), try_element_at(ws, i + 2)))
  }

  /** Per-document term frequencies (native single-pass kernel):
    * array<struct<w,c>>, first-occurrence order.
    */
  def wordCounts(text: Column): Column = NativeTextFunctions.wordCountsNative(text)

  /** lowercase / strip punctuation / collapse whitespace — Unicode-aware:
    * the kept class is any Unicode letter or digit (`\p{L}\p{N}`), so
    * CJK/Cyrillic/Arabic text survives normalization instead of being
    * stripped to empty. Same `\p{L}`/`\p{N}` classes exist in DuckDB's
    * RE2, so the oracle can mirror the expression exactly.
    */
  def normalize(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^\\p{L}\\p{N} ]", " "), " +", " "))

  /** Number of MinHash permutations = 32-bit chunks of two md5 digests
    * (the plain digest + one salted re-digest).
    */
  val minhashPerms: Int = 8

  /** Salt for the second digest (the first is the unsalted md5, shared
    * with the document fingerprint).
    */
  val minhashSalt: String = "s1:"

  /** LSH layout: bands of `lshRows` consecutive signature components.
    * 4 bands × 2 rows: detection probability 1-(1-J²)⁴ ≈ 0.99 at J=0.83
    * (2 bands × 2 rows missed ~10% of borderline near-dups).
    */
  val lshRows: Int = 2
  def lshBandCount: Int = minhashPerms / lshRows

  /** Bloom-filter layout for the decontamination screen: m bits, k md5
    * hashes per shingle (`md5("bloom<j>:" ++ sh)` first 8 hex chars mod
    * m). The SET-BIT LIST (≤ m longs) is bounded, so it travels as a
    * plan literal — a map-side membership test with no benchmark join,
    * shared by the batch query (`q_bloom_decontaminate`) and the
    * streaming screen ([[graft.streaming.Streaming.decontaminateStream]]).
    */
  val bloomM: Int = 4096
  val bloomK: Int = 3
  def bloomBit(sh: Column, j: Int): Column =
    conv(substring(md5(concat(lit(s"bloom$j:"), sh)), 1, 8), 16, 10)
      .cast("long") % bloomM

  /** The bloom's set-bit list from a bounded benchmark table: distinct
    * bits of all k hashes over the benchmark's distinct shingles,
    * sorted (deterministic literal). The collect is the "broadcast the
    * bloom" step — ≤ m longs (~32 KB ceiling) by construction.
    */
  def bloomBitSet(bench: DataFrame, text: Column): Array[Long] =
    bench.select(explode(NativeTextFunctions.distinctShinglesNative(text)).as("sh"))
      .select(explode(array((0 until bloomK).map(j => bloomBit(col("sh"), j)): _*))
        .as("bit"))
      .distinct().collect().map(_.getLong(0)).sorted

  /** Map-side bloom probe: per row, distinct-shingle count, the number
    * of shingles whose k bits are ALL set, and the ≥`flagAt` decision.
    * Stateless — legal in a streaming query as-is.
    *
    * The set-bit list is packed into the classic m/64-long BITMASK and
    * membership is `word[bit/64] & (1L << bit%64)` — O(1) per test.
    * (The previous `array_contains(setBits, bit)` form linearly scanned
    * the set-bit array per hash, k times per shingle: measured 3.94 s
    * for q_bloom_decontaminate at sf0.1, the slowest query in the
    * bench. Output is unchanged — the mask is derived from the same
    * set-bit list the oracle derives its membership from.)
    */
  /** Set-bit list → m/64-long packed bitmask (the plan literal). */
  def packBits(bits: Array[Long]): Array[Long] = {
    val words = new Array[Long](bloomM / 64)
    bits.foreach { b =>
      require(b >= 0 && b < bloomM, s"bloom bit $b outside [0, $bloomM)")
      words((b / 64).toInt) |= 1L << (b % 64).toInt
    }
    words
  }

  /** O(1) membership test of `bit` against a packed-bitmask literal. */
  def maskTest(maskLit: Column, bit: Column): Column =
    element_at(maskLit, (bit / 64).cast("int") + 1)
      .bitwiseAND(call_function("shiftleft", lit(1L), (bit % 64).cast("int"))) =!= lit(0L)

  def bloomProbe(df: DataFrame, text: Column, bits: Array[Long],
                 flagAt: Int = 3): DataFrame = {
    val maskLit = lit(packBits(bits))
    val shs = NativeTextFunctions.distinctShinglesNative(text)
    val hits = size(filter(shs, sh =>
      (0 until bloomK).map(j => maskTest(maskLit, bloomBit(sh, j)))
        .reduce(_ && _))).cast("long")
    df.withColumn("n_shingles", size(shs).cast("long"))
      .withColumn("n_bloom_hits", hits)
      .withColumn("flagged", hits >= flagAt)
  }

  /** Content-defined chunk fingerprints (CDC, rolling-hash boundaries):
    * a boundary falls after token position i wherever the local
    * 3-gram's md5 lands in bucket 0 of 8, so an insertion shifts
    * content but boundaries RE-SYNC and unchanged trailing chunks keep
    * their fingerprints (rsync/LBFS at token level — property-tested in
    * `TextOpsSpec`). One map-side HOF cascade; (id, fp) exploded rows.
    */
  def cdcChunkFingerprints(df: DataFrame, idCol: String,
                           text: Column): DataFrame = {
    val withWs = df.select(col(idCol), words(text).as("__ws"))
    val n = size(col("__ws"))
    val bnd = when(n < 4, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(2), n - 2), i =>
        conv(substring(md5(concat_ws(" ", slice(col("__ws"), i, lit(3)))), 1, 4),
          16, 10).cast("long") % 8 === 0))
    val starts = concat(array(lit(1)), col("__bnd"))
    val ends = concat(col("__bnd"), array(n + 1))
    withWs.withColumn("__bnd", bnd)
      .select(col(idCol), explode(zip_with(starts, ends, (st, en) =>
        md5(concat_ws(" ", slice(col("__ws"), st, en - st))))).as("fp"))
  }

  /** Distinct shingles exploded: (idCol, sh). Uses the single-pass
    * native kernel ([[NativeTextFunctions.distinctShinglesNative]],
    * unit-tested equal to `array_distinct(shingles(text))`) — the corpus
    * shingle pass dominates the dedup pipeline at scale.
    */
  def explodedShingles(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.select(col(idCol),
      explode(NativeTextFunctions.distinctShinglesNative(text)).as("sh"))

  /** 8-permutation MinHash signature from exploded shingles (single
    * pass, partial+final min aggregation): (idCol, mh0..mh7, fp).
    *
    * Each shingle is md5-hashed TWICE (plain + salted); the permutations
    * are the eight 8-hex-char (32-bit) chunks of the two digests —
    * independent enough for order-statistic MinHash, and 2.5× less
    * hashing than one seeded re-digest per permutation (the hash pass
    * dominates signature cost at the 100k-doc scale probe). `fp` is the
    * min full plain digest (the document fingerprint), computed in the
    * same pass so the fingerprint query costs no extra scan. The staged
    * projection materializes the digests before the chunk mins so each
    * md5 runs once per shingle, not once per chunk.
    */
  def signatureFromShingles(sh: DataFrame, idCol: String): DataFrame = {   // agg twin of signatureFromText
    def digest(i: Int): Column = if (i < 4) col("__h1") else col("__h2")
    sh.withColumn("__h1", md5(col("sh")))
      .withColumn("__h2", md5(concat(lit(minhashSalt), col("sh"))))
      .groupBy(col(idCol))
      .agg(
        min(substring(digest(0), 1, 8)).as("mh0"),
        (1 until minhashPerms).map(i =>
          min(substring(digest(i), (i % 4) * 8 + 1, 8)).as(s"mh$i")
        ) :+ min(col("__h1")).as("fp"): _*)
  }

  /** Map-side signature straight from the text column via the native
    * kernel ([[NativeTextFunctions.minhashSignatureNative]]): same
    * (idCol, mh0..mh7, fp) output as [[signatureFromShingles]]
    * (unit-tested equal), but with NO explode and NO aggregation — the
    * signature stage shuffles nothing at any scale.
    */
  def signatureFromText(df: DataFrame, idCol: String, text: Column): DataFrame =
    df.withColumn("__sig", NativeTextFunctions.minhashSignatureNative(text))
      .select(col(idCol) +:
        ((0 until minhashPerms).map(i => col(s"__sig.mh$i").as(s"mh$i")) :+
          col("__sig.fp").as("fp")): _*)

  /** Melt B per-band bucket expressions into (idCol, band, bucket) rows
    * in ONE pass over the input. The previous B-branch `union` form
    * scanned the feature table B times and emitted B× the map tasks —
    * each writing its own shuffle files, pure fixed overhead (measured
    * ~0.3-1.2 s of shuffle-write time per tiny map task on the bench
    * box); at corpus scale the B redundant scans are the bigger cost.
    * posexplode's pos is the band index — same rows, same types.
    */
  def meltBands(df: DataFrame, idCol: String, buckets: Seq[Column]): DataFrame =
    df.select(col(idCol), posexplode(array(buckets: _*)).as(Seq("band", "bucket")))

  /** LSH bands (4 × 2 rows): (idCol, band, bucket); the bucket key is
    * the concatenation of the band's signature components. concat_ws
    * (NULL-skipping, like DuckDB's concat) keeps a NULL component from
    * nulling the whole bucket key on either engine. Single melt pass —
    * see [[meltBands]].
    */
  def lshBands(sig: DataFrame, idCol: String): DataFrame =
    meltBands(sig, idCol, (0 until lshBandCount).map(b =>
      concat_ws("", col(s"mh${b * lshRows}"), col(s"mh${b * lshRows + 1}"))))

  /** Buckets holding more docs than this emit a hub star instead of the
    * quadratic pair self-join (see [[candidatePairs]]). Chosen above any
    * bucket the oracle corpora produce (max observed bucket ≲ 10 docs at
    * sf0.1) and far below where b² pair explosion hurts: a 256-doc bucket
    * still self-joins into a tame 32k pairs; a 100k-doc degenerate bucket
    * (empty/boilerplate docs — routine in web corpora) would emit 5e9
    * pairs on ONE shuffle key and stall the stage at 100 TB.
    */
  val hotBucketThreshold: Int = graft.Census.HotBucketThreshold

  /** Per-(band, bucket) census: member count and the min-id hub — the
    * SHARED input of every hot-bucket guard (batch candidate generation
    * here and the incremental crawl-merge in
    * [[graft.operators.IncrementalDedup]]). One definition, so the
    * incremental ≡ full-recompute equivalence cannot drift.
    */
  def bucketCensus(bands: DataFrame, idCol: String): DataFrame =
    bands.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("__n"), min(col(idCol)).as("__hub"))

  /** Docs sharing a band bucket: (doc_a, doc_b), doc_a < doc_b.
    *
    * Skew guard: bucket sizes are counted first (one partial+final agg on
    * the same key as the join). Buckets at or under `hotThreshold` take
    * the normal pair self-join. Oversized buckets take one of two paths,
    * chosen by the TIER's bucket-space geometry:
    *
    *  - `hotComplete = false` (STAR, the text-shingle default): the
    *    bucket short-circuits to a star on its minimum id (b−1 pairs
    *    instead of b(b−1)/2). Valid ONLY where a hot bucket is a
    *    guaranteed near-dup family — true for MinHash band signatures
    *    over shingles (an effectively 2^64 bucket space that cannot
    *    saturate combinatorially; a 100k-member bucket means 100k
    *    near-identical docs, and every star edge survives the Jaccard
    *    verify, so the dedup consumer's connected components are
    *    preserved while any single key's output stays linear).
    *
    *  - `hotComplete = true` (SALTED COMPLETE, the fingerprint tiers):
    *    FIXED-WIDTH fingerprint bands (8-bit embedding sign patterns,
    *    16-bit dHash / audio / video bands, SimHash) saturate
    *    combinatorially — at sf1 the 8-bit embedding band space holds
    *    20k vectors at ~78/bucket, so bucket-mates are NOT near-dups
    *    and star edges routinely FAIL the downstream cosine/hamming
    *    verify, splitting components and shrinking the declared pair
    *    relation (caught by the sf1 oracle gate: 71,351 engine pairs vs
    *    199,746 complete). These tiers get the COMPLETE pair relation
    *    via a block-grid salted self-join: members hash into
    *    g = ceil(n / hotThreshold) blocks, each unordered block pair
    *    (i ≤ j) becomes its own shuffle key carrying |Bi|·|Bj| ≈
    *    hotThreshold² output rows, so per-task work is bounded no
    *    matter how hot the bucket. The TOTAL output is the semantics'
    *    inherent b(b−1)/2 — at corpus scale the knob is fingerprint
    *    WIDTH (more bands/bits per band), which grows the bucket space
    *    with the corpus; the salting keeps every task bounded at any
    *    width/corpus mismatch instead of stalling one shuffle key.
    *
    * With no hot bucket both modes are identical to the unguarded join
    * (oracle-checked at every SF).
    *
    * Cost at composition time: building the frame runs one Spark job,
    * the census max over `bands`, before any action on the result. The
    * returned plan evaluates `bands` again, and on the hot-bucket path a
    * second time for the census it joins back — callers pass bands over
    * memoized features.
    */
  def candidatePairs(bands: DataFrame, idCol: String,
                     hotThreshold: Int = hotBucketThreshold,
                     hotComplete: Boolean = false): DataFrame = {
    val sizes = bucketCensus(bands, idCol)
    // Census-gated fast path (opt guide §2.4 — remove shuffles outright):
    // ONE scalar aggregate (bands → partial max → 1 row, scale-free)
    // decides whether any bucket is hot. On a healthy corpus none is,
    // and the whole guard apparatus — the bands⋈census sized join, the
    // hot-branch block grid, the union — vanishes from the plan: what
    // remains is the bucket self-join both of whose sides REUSE one
    // exchange. With no hot bucket the guarded and unguarded plans are
    // row-identical by construction (both modes reduce to the plain
    // self-join — see the mode scaladoc above), so only latency changes.
    // When a bucket IS hot the probe costs one extra aggregation pass
    // and the guarded path runs exactly as before.
    val maxBucket = Option(sizes.agg(max(col("__n"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (maxBucket <= hotThreshold) {
      val l = bands.as("l"); val r = bands.hint("shuffle_merge").as("r")
      return l.join(r,
          col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
            && col(s"l.$idCol") < col(s"r.$idCol"))
        .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
        .distinct()
    }
    // corpus-scale × corpus-scale: pin the shuffled merge join (see
    // [[pairOverlap]] — static broadcast here killed the 100× probe)
    val sized = bands.join(sizes.hint("shuffle_merge"), Seq("band", "bucket"))
    val normal = sized.filter(col("__n") <= hotThreshold)
      .select(col("band"), col("bucket"), col(idCol))
    val l = normal.as("l"); val r = normal.hint("shuffle_merge").as("r")
    val normalPairs =
      l.join(r, col("l.band") === col("r.band") && col("l.bucket") === col("r.bucket")
          && col(s"l.$idCol") < col(s"r.$idCol"))
        .select(col(s"l.$idCol").as("doc_a"), col(s"r.$idCol").as("doc_b"))
    val hot = sized.filter(col("__n") > hotThreshold)
    val hotPairs =
      if (!hotComplete) {
        // hub = min id per bucket, so hub < id keeps the doc_a < doc_b contract
        hot.filter(col(idCol) =!= col("__hub"))
          .select(col("__hub").as("doc_a"), col(idCol).as("doc_b"))
      } else {
        // Block-grid salted COMPLETE self-join: member → block
        // i = hash(id) mod g; the left side registers each row under
        // every block-pair key (i, j ≥ i), the right side under every
        // key (k ≤ i, i), so each unordered block pair meets on exactly
        // one (band, bucket, bi, bj) shuffle key. Cross-block pairs
        // appear exactly once (normalized via least/greatest); same-
        // block keys self-join under id < id. Per-key output is
        // |Bi|·|Bj| — EXPECTED ~hotThreshold² under a balanced hash
        // split; an imbalanced xxhash64 split inflates a key by the
        // square of its imbalance factor (pair coverage stays exact
        // either way — this is a task-size bound, not correctness).
        val blk = hot.select(col("band"), col("bucket"), col(idCol),
            ceil(col("__n") / lit(hotThreshold.toDouble)).cast("int").as("__g"))
          .withColumn("__blk", pmod(xxhash64(col(idCol)), col("__g")).cast("int"))
        val lh = blk
          .withColumn("__bj", explode(sequence(col("__blk"), col("__g") - lit(1))))
          .select(col("band"), col("bucket"), col("__blk").as("__bi"),
            col("__bj"), col(idCol).as("__ida"))
        val rh = blk
          .withColumn("__bi", explode(sequence(lit(0), col("__blk"))))
          .select(col("band"), col("bucket"), col("__bi"),
            col("__blk").as("__bj"), col(idCol).as("__idb"))
        lh.join(rh.hint("shuffle_merge"), Seq("band", "bucket", "__bi", "__bj"))
          .filter(col("__bi") =!= col("__bj") || col("__ida") < col("__idb"))
          .select(least(col("__ida"), col("__idb")).as("doc_a"),
            greatest(col("__ida"), col("__idb")).as("doc_b"))
      }
    normalPairs.union(hotPairs).distinct()
  }

  /** Per-candidate-pair set-overlap counts (|A∩B|, |A|, |B|) from the
    * exploded distinct shingles — the shared core of every set-similarity
    * measure (Jaccard, containment, overlap coefficient).
    *
    * Scale shape: every join here is a shuffled equi-join, PINNED with a
    * SHUFFLE_MERGE hint. The inputs are localCheckpointed LogicalRDDs
    * whose static size estimates derive from pre-checkpoint plan
    * guesses, which under-estimate by orders of magnitude — at the 100×
    * probe (500k docs) the unhinted plan chose BuildLeft broadcasts of
    * the 26M-row corpus shingle table and the per-doc count table and
    * died building the hash relation on the driver. Every side of every
    * join here is O(corpus), so the shuffled join is the only plan that
    * survives 100 TB; AQE still handles skew inside it. The intersection
    * join keys on (doc_b, shingle), so only (id, shingle-hash) pairs
    * shuffle, never text; its output is Σ_pairs |shingles(A)| rows, the
    * inherent verify cost, and stays distributed.
    *
    * Partition-sizing contract for corpus-scale callers: this join FANS
    * OUT ~|shingles| rows per input pair, so task size is governed by
    * OUTPUT rows — which neither static input-byte sizing nor AQE's
    * coalescing can see (both target input bytes; at the 100× probe,
    * AQE re-merged pre-sized partitions into ~64 MB inputs whose joined
    * output was tens of millions of rows = one 300 s straggler task).
    * Size `spark.sql.shuffle.partitions` on expected OUTPUT rows
    * (≈ pairs × avg shingles / ~500k rows per task) and disable
    * `spark.sql.adaptive.coalescePartitions.enabled` for exactly this
    * stage, leaving the skew-split backstop on — see
    * `app.TextScaleBench.run` for the measured numbers.
    */
  /** A doc_a carrying more than this many pairs (a hub-star center or an
    * organically over-shared doc) takes the SALTED verify path below.
    * Empirically the AQE skew-split CANNOT be relied on inside this plan:
    * the runtime filter AQE injects into the shingle side reshapes the
    * stage graph and the split stops firing (measured on the 100k-planted
    * probe — max task stays one full hub fan-out). Salting is
    * deterministic and plan-independent.
    */
  val hotPairThreshold: Int = 4096

  /** Salt fan-out for hot doc_a keys: hub shingle rows are replicated
    * `verifySalts`× (bounded: only hot docs' shingles), hub pairs spread
    * over `verifySalts` shuffle keys.
    */
  val verifySalts: Int = 16

  def pairOverlap(sh: DataFrame, idCol: String, pairs: DataFrame,
                  hotThreshold: Int = hotPairThreshold): DataFrame = {
    val cnt = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(idCol).as("doc_a"), col("sh"))
    val b = sh.select(col(idCol).as("doc_b"), col("sh"))
    // hot-key census on doc_a (doc_b cannot go hot the same way: hub
    // stars put the hub on the a side, and organic doc_b fan-in is
    // bounded by bucket sizes). The hot list is by construction tiny
    // (docs with > hotPairThreshold pairs), so it broadcasts.
    val perA = pairs.groupBy(col("doc_a")).agg(count(lit(1)).as("__np"))
    val hotA = perA.filter(col("__np") > hotThreshold).select(col("doc_a"))
    val coldPairs = pairs.join(broadcast(hotA), Seq("doc_a"), "left_anti")
    val aCold = a.join(coldPairs.hint("shuffle_merge"), Seq("doc_a"))
    // salted hot path: a hub's pairs spread over verifySalts shuffle keys
    // (salt = doc_b mod S, deterministic), the hub's OWN shingle rows —
    // small by definition, one doc's shingles — replicate S× to meet
    // them. Equi-join on (doc_a, salt) ≡ join on doc_a, restricted to
    // hot keys; no single task ever sees a whole hub fan-out.
    val hotPairs = pairs.join(broadcast(hotA), Seq("doc_a"), "left_semi")
      .withColumn("__salt", pmod(col("doc_b"), lit(verifySalts.toLong)))
    val aHot = a.join(broadcast(hotA), Seq("doc_a"), "left_semi")
      .withColumn("__salt", explode(sequence(lit(0L), lit(verifySalts.toLong - 1))))
    val aHotJ = aHot.join(hotPairs.hint("shuffle_merge"), Seq("doc_a", "__salt"))
      .drop("__salt")
    val aShingles = aCold.unionByName(aHotJ)
    val inter = b.join(aShingles.hint("shuffle_merge"), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
    inter
      .join(cnt.select(col(idCol).as("doc_a"), col("n").as("na")).hint("shuffle_merge"),
        Seq("doc_a"))
      .join(cnt.select(col(idCol).as("doc_b"), col("n").as("nb")).hint("shuffle_merge"),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("ni"), col("na"), col("nb"))
  }

  /** Exact set-Jaccard per candidate pair. */
  def jaccardOverPairs(sh: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    pairOverlap(sh, idCol, pairs)
      .select(col("doc_a"), col("doc_b"),
        (col("ni").cast("double") / (col("na") + col("nb") - col("ni"))).as("jaccard"))

  /** Marker stopwords per language — includes non-Latin scripts
    * (Cyrillic `ru`, CJK `zh`) so the heuristic is not Latin-only; the
    * tokenizer is whitespace-based, so CJK coverage assumes pre-segmented
    * (space-delimited) tokens, the usual shape after an upstream
    * segmenter.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of"),
    "es" -> Seq("el", "la", "de"),
    "de" -> Seq("der", "und", "die"),
    "fr" -> Seq("le", "la", "et"),
    "ru" -> Seq("и", "в", "не"),
    "zh" -> Seq("的", "是", "了"),
    "ar" -> Seq("في", "من", "على"))

  /** Heuristic language-ID: argmax marker-word hits, first-language ties. */
  def langIdExpr(text: Column): Column = {
    val ws = words(text)
    def hits(ms: Seq[String]): Column =
      size(filter(ws, w => array_contains(array(ms.map(lit): _*), w)))
    val cols = langMarkers.map { case (l, ms) => l -> hits(ms) }
    val best = greatest(cols.map(_._2): _*)
    cols.reverse.foldLeft[Column](lit("unk")) { case (acc, (l, h)) =>
      when(h === best && best > 0, lit(l)).otherwise(acc)
    }
  }

  /** Staged language-ID: same semantics as [[langIdExpr]], but the
    * tokenization and the per-language hit counts are materialized as
    * intermediate projections, so the split runs once per row and each
    * filter once — not once per reference. (CollapseProject keeps the
    * stages apart because the producers are non-cheap and multiply
    * referenced; the inline expression form re-evaluated the split ~12×.)
    */
  def withLangId(df: DataFrame, text: Column, out: String): DataFrame = {
    val hitCol = langMarkers.map { case (l, _) => s"__h_$l" }
    val staged = df.withColumn("__ws", words(text))
    val withHits = staged.select(col("*") +: langMarkers.map { case (l, ms) =>
      size(filter(col("__ws"), w => array_contains(array(ms.map(lit): _*), w)))
        .as(s"__h_$l")
    }: _*)
    val best = greatest(hitCol.map(col): _*)
    val pred = langMarkers.reverse.foldLeft[Column](lit("unk")) { case (acc, (l, _)) =>
      when(col(s"__h_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    withHits.withColumn(out, pred).drop("__ws" +: hitCol: _*)
  }
}
