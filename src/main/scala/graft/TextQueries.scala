package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.functions.{NativeTextFunctions, TextOps}
import graft.sources.Tables

/** Training-data-pipeline text operators over the `documents` table:
  * deduplication (exact / MinHash-LSH / n-gram fingerprints), language
  * stats, quality scoring, token counting. All hash-based ops use md5 —
  * identical hex output in Spark and DuckDB — so even the MinHash
  * signatures are oracle-checkable: `min(md5(seed || shingle))` is a
  * valid order-statistic MinHash under the md5 order.
  *
  * Scale posture: every op here is a map-side projection + a groupBy on a
  * bounded-cardinality key (hash / band / lang) — no crossJoin of the
  * corpus; LSH candidate generation is the band-bucket self-join, which
  * shuffles only (doc_id, band) pairs, never text.
  */
object TextQueries {

  /** documents fanned out across cores — ONLY ahead of proven CPU-heavy
    * per-doc kernels (shingle/MinHash builders, per-gram md5 explodes,
    * the staged 7-language filter cascade): the single-row-group
    * testdata scan otherwise serializes the kernel on one task — see
    * [[Queries.fanOut]]. Row set identical; no consumer depends on scan
    * order (every consumer groups, joins, or sorts explicitly).
    *
    * Every other consumer reads the plain scan. Round 14 fanned out
    * EVERY text consumer; measured per-query, the extra exchange +
    * 32-task stage costs light-kernel queries +0.3-0.8 s each (q_tfidf,
    * q_pmi_*, q_ngram_jaccard, q_bigram_*, q_bpe_merge_*) while only the
    * CPU-heavy per-doc kernels earn it back.
    */
  private def docsFanned(s: SparkSession, dir: String): DataFrame =
    Queries.fanOut(Tables.read(s, dir, "documents"), "doc_id")

  /** Materialized stages of the shingle pipeline: exploded distinct
    * shingles → MinHash signature → LSH candidate pairs. Five queries
    * (fingerprint, signature, LSH pairs, Jaccard verify, dedup groups)
    * are stages of ONE pipeline, so the corpus is shingled and hashed
    * once per (session, dir).
    */
  private final case class ShingleArtifacts(
      shingles: DataFrame, signature: DataFrame, candidates: DataFrame)

  private val artifacts = Artifact("text_shingle_pipeline") { (s, dir) =>
    val sh = TextOps.explodedShingles(docsFanned(s, dir), "doc_id", col("text"))
      .localCheckpoint(true)
    val sig = TextOps.signatureFromText(docsFanned(s, dir), "doc_id", col("text"))
      .localCheckpoint(true)
    // hotComplete: the pair-level consumers (q_minhash_lsh_pairs and
    // the Jaccard-verify family) DECLARE the complete candidate
    // relation, and at the 100× corpus the copies-multiplied exact-dup
    // groups (~24 planted dups × 100 copies) cross the 256-member
    // hot-bucket guard for the first time — star reduction there kept
    // components intact but dropped 4.8M of 32.7M declared pairs. The
    // salted block-grid keeps per-shuffle-key output ~threshold²
    // (SURVEY's hot-bucket probe), so completeness costs bounded
    // tasks, not a straggler. Below the threshold the two modes are
    // identical — sf0.01..sf1 outputs are unchanged.
    val cand = TextOps.candidatePairs(
      TextOps.lshBands(sig, "doc_id"), "doc_id", hotComplete = true)
      .localCheckpoint(true)
    ShingleArtifacts(sh, sig, cand)
  }

  private[graft] def sharedArtifactWarmers
      : Seq[(String, (SparkSession, String) => Unit)] =
    Seq(artifacts, canonical).map(_.warmer)

  /** Whitespace tokenization, trimmed — same on both engines. */
  private[graft] def wordsCol: Column = TextOps.words(col("text"))
  private[graft] val wordsSql = """regexp_split_to_array(trim(text), '\s+')"""

  // ---------------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // ---------------------------------------------------------------------

  val dedupExact = Q("q_dedup_exact",
    (s, dir) => Tables.read(s, dir, "documents")
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("canonical")),
    Some("SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS canonical FROM documents GROUP BY md5(text)"))

  // ---------------------------------------------------------------------
  // Token counting / quality scoring / language stats
  // ---------------------------------------------------------------------

  val tokenCount = Q("q_token_count",
    (s, dir) => Tables.read(s, dir, "documents")
      .select(col("doc_id"), size(wordsCol).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_txt")),
    Some(s"""SELECT doc_id, len($wordsSql) AS n_tokens,
            | length(text) AS n_chars_txt FROM documents""".stripMargin))

  /** Text normalization — the cleanup stage of a training-data pipeline:
    * lowercase, strip non-alphanumerics, collapse whitespace. Output is
    * the md5 of the normalized form (compact + order-insensitive to
    * verify) plus its length.
    */
  /** DuckDB twin of [[TextOps.normalize]] over the given column
    * expression — RE2's `\p{L}`/`\p{N}` match Java's, so both engines
    * keep the same Unicode letters/digits.
    */
  private def normalizeSql(c: String): String =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^\\p{L}\\p{N} ]', ' ', 'g'), ' +', ' ', 'g'))"

  val textNormalize = Q("q_text_normalize",
    (s, dir) => {
      val norm = TextOps.normalize(col("text"))
      Tables.read(s, dir, "documents").select(col("doc_id"),
        md5(norm).as("norm_hash"), length(norm).cast("long").as("norm_len"))
    },
    Some(s"""SELECT doc_id,
            | md5(${normalizeSql("text")}) AS norm_hash,
            | length(${normalizeSql("text")}) AS norm_len
            |FROM documents""".stripMargin))

  /** BPE-ish subword tokenization by regex: runs of lowercase letters, a
    * capitalized prefix, digit runs, or single punctuation — the
    * whitespace tokenizer's finer-grained sibling for token accounting.
    * Unicode classes (`\p{Ll}`/`\p{Lu}`/`\p{N}`), so non-Latin words
    * count as subword runs instead of per-character punctuation; on
    * ASCII text the alternation is literal-identical to the
    * `[a-z]+|[A-Z][a-z]*|[0-9]+|...` form, and RE2 ≡ Java on the
    * classes, so the oracle mirrors it verbatim. The `\p{L}+` fallback
    * catches caseless scripts (CJK/Arabic are `\p{Lo}`, unreachable by
    * the case-aware alternatives; a run is one subtoken) and never fires
    * on ASCII, where every letter is `\p{Ll}`/`\p{Lu}`.
    */
  private val bpePattern = """\p{Ll}+|\p{Lu}\p{Ll}*|\p{N}+|\p{L}+|[^\p{L}\p{N}\s]"""

  val tokenBpe = Q("q_token_bpe",
    (s, dir) => Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        regexp_count(col("text"), lit(bpePattern)).cast("long").as("n_subtokens"),
        size(array_distinct(regexp_extract_all(col("text"), lit(bpePattern), lit(0))))
          .cast("long").as("n_distinct_subtokens")),
    Some(s"""SELECT doc_id,
            | len(regexp_extract_all(text, '$bpePattern')) AS n_subtokens,
            | len(list_distinct(regexp_extract_all(text, '$bpePattern'))) AS n_distinct_subtokens
            |FROM documents""".stripMargin))

  /** Tokenizer fertility by language — the compression-efficiency report
    * a tokenizer owner reads before committing a vocab: per lang, chars
    * per subtoken (how much text one token buys) and subtokens per
    * whitespace word (how badly words fragment). High fertility langs
    * are under-served by the vocab and over-billed in the token budget.
    * One map-side projection + a bounded per-lang aggregate; ratios are
    * derived from the BIGINT sums identically on both engines.
    */
  val tokenizerFertility = Q("q_tokenizer_fertility",
    (s, dir) => Tables.read(s, dir, "documents")
      .select(col("lang"), col("n_chars"),
        regexp_count(col("text"), lit(bpePattern)).cast("long").as("nt"),
        size(wordsCol).cast("long").as("nw"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"),
        sum(col("nt")).as("n_subtokens"), sum(col("nw")).as("n_words"))
      .select(col("lang"), col("n_docs"), col("n_chars"), col("n_subtokens"),
        col("n_words"),
        floor(lit(1e6) * col("n_chars").cast("double")
          / col("n_subtokens").cast("double")).cast("long")
          .as("chars_per_subtoken_micro"),
        floor(lit(1e6) * col("n_subtokens").cast("double")
          / col("n_words").cast("double")).cast("long")
          .as("subtokens_per_word_micro")),
    Some(s"""WITH a AS (
            |  SELECT lang, count(*) AS n_docs,
            |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
            |    CAST(sum(len(regexp_extract_all(text, '$bpePattern'))) AS BIGINT)
            |      AS n_subtokens,
            |    CAST(sum(len($wordsSql)) AS BIGINT) AS n_words
            |  FROM documents GROUP BY lang)
            |SELECT lang, n_docs, n_chars, n_subtokens, n_words,
            |  CAST(floor(1e6 * n_chars / CAST(n_subtokens AS DOUBLE)) AS BIGINT)
            |    AS chars_per_subtoken_micro,
            |  CAST(floor(1e6 * n_subtokens / CAST(n_words AS DOUBLE)) AS BIGINT)
            |    AS subtokens_per_word_micro
            |FROM a""".stripMargin))

  /** BPE merge statistics — the counting core of tokenizer TRAINING
    * (q_token_bpe applies a tokenization; this computes what a BPE
    * trainer's first merge round computes): corpus-wide frequencies of
    * adjacent character pairs within words, top-20 by count — the merge
    * candidates. Occurrence-weighted (every position counts, not
    * per-word distinct), deterministic (pair string tie-break).
    *
    * Scale shape: explode to (pair) occurrences map-side, one bounded
    * aggregation (key space ≤ alphabet², with map-side partial
    * counts), then TakeOrderedAndProject for the top-20 — each task
    * keeps a local top-20, the driver merges; the pair stream never
    * sorts globally.
    */
  val bpeMergeStats = Q("q_bpe_merge_stats",
    // fanned: the per-position pair explode is a CPU-heavy map kernel
    // (measured 0.36 s fanned vs 0.59 s on the single-task scan)
    (s, dir) => docsFanned(s, dir)
      .select(explode(wordsCol).as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20),
    Some(s"""WITH w AS (SELECT unnest($wordsSql) AS w FROM documents),
            |p AS (
            |  SELECT substring(w, i, 2) AS pair
            |  FROM (SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
            |        FROM w WHERE length(w) >= 2))
            |SELECT pair, count(*) AS cnt FROM p GROUP BY pair
            |ORDER BY cnt DESC, pair LIMIT 20""".stripMargin))

  /** Iterated BPE merge training — N chained rounds of the actual BPE
    * training loop (q_bpe_merge_stats is round-1 candidate counting
    * only): reduce the corpus ONCE to the bounded (word, freq)
    * vocabulary, then per round count adjacent symbol pairs
    * occurrence-weighted, take the top pair (count desc, pair
    * lexicographic), apply it greedily left-to-right to every word's
    * segmentation, and recount. Output is the trained merge table. The
    * greedy apply is the SAME string fold on both engines — every
    * symbol is appended behind a '|' sentinel, so "ends with |left"
    * tests the last FULL symbol and adjacent occurrences merge
    * left-to-right without double-consuming a shared symbol (words
    * containing the sentinel are excluded symmetrically). The oracle
    * unrolls the identical N rounds as MATERIALIZED CTE chains with the
    * per-round merge decision cross-joined into the re-segmentation.
    *
    * Scale shape: one corpus pass builds the vocab (map-side partial
    * count on the word key); every round after that is a bounded
    * aggregate over the vocabulary plus a 1-row driver collect (the
    * merge decision — the same driver-held-model pattern as the k-means
    * centroids). At 100 TB the corpus is scanned once; rounds cost
    * O(|vocab|), and the vocab is localCheckpointed so round r+1 never
    * re-derives round r's segmentation.
    */
  private val BpeRounds = 6

  /** The greedy left-to-right merge of pair (l, r) as a string fold over
    * the symbol list: every symbol is appended behind a '|' sentinel, so
    * "ends with |l" tests the last FULL symbol and adjacent occurrences
    * never double-consume a shared symbol. Shared verbatim by training
    * (fold over the evolving vocab) and application (fold per word).
    */
  private def bpeFold(syms: Column, l: String, r: String): Column =
    aggregate(syms, lit(""),
      (acc, x) => when(x === lit(r) && endswith(acc, lit("|" + l)),
        concat(acc.substr(lit(1), length(acc) - length(lit("|" + l))),
          lit("|" + l + r)))
        .otherwise(concat(acc, lit("|"), x)))

  /** Trained merge table: q_bpe_merge_rounds reports it, q_bpe_apply
    * tokenizes with it. Training cost is one corpus pass + BpeRounds
    * bounded vocab aggregates (driver-held-model pattern; the result is
    * BpeRounds rows of driver state).
    */
  private val bpeTrain = Artifact("text_bpe_train") { (s, dir) =>
    var vocab = Tables.read(s, dir, "documents").select(explode(wordsCol).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains("|"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .localCheckpoint(true) // bounded: |vocabulary| rows
    val merges = Seq.newBuilder[(String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= BpeRounds && !exhausted) {
      // size >= 2 guard is load-bearing: Spark sequence(1, 0) counts
      // DOWN ([1, 0]) where DuckDB generate_series(1, 0) is empty
      val top = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, rr, cnt) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((l, rr, cnt))
        vocab = vocab.select(col("freq"),
          filter(split(bpeFold(col("syms"), l, rr), "[|]"), sy => sy =!= "")
            .as("syms"))
          .localCheckpoint(true)
        r += 1
      }
    }
    merges.result()
  }

  /** The DuckDB unroll of the training loop (v0 → p_r/m_r/v_r chains),
    * shared by the merge-table and apply oracles. MATERIALIZED is
    * load-bearing: plain CTEs re-evaluate the chain exponentially.
    */
  private def bpeTrainCtes: String = {
    val v0 = s"""v0 AS MATERIALIZED (
      |  SELECT count(*) AS freq,
      |    list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) AS syms
      |  FROM (SELECT unnest($wordsSql) AS w FROM documents)
      |  WHERE length(w) >= 2 AND NOT contains(w, '|') GROUP BY w)""".stripMargin
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, syms[i] AS l, syms[i+1] AS r FROM (
         |      SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
         |      FROM v${r - 1} WHERE len(syms) >= 2))
         |  GROUP BY l, r),
         |m$r AS MATERIALIZED (SELECT l, r, cnt FROM p$r ORDER BY cnt DESC, l, r LIMIT 1),
         |v$r AS MATERIALIZED (
         |  SELECT freq, list_filter(string_split(
         |    list_reduce(list_prepend('', syms),
         |      (acc, x) -> CASE WHEN x = m.r AND ends_with(acc, '|' || m.l)
         |        THEN substring(acc, 1, length(acc) - length('|' || m.l)) || '|' || m.l || m.r
         |        ELSE acc || '|' || x END), '|'), s -> s <> '') AS syms
         |  FROM v${r - 1}, m$r m)""".stripMargin
    }.mkString(",\n")
    s"$v0,\n$rounds"
  }

  val bpeMergeRounds = Q("q_bpe_merge_rounds",
    (s, dir) => {
      import s.implicits._
      bpeTrain(s, dir).zipWithIndex
        .map { case ((l, r, cnt), i) => (i + 1L, l, r, cnt) }
        .toDF("round_id", "l_sym", "r_sym", "pair_cnt")
        .orderBy(col("round_id"))
    }, {
      val union = (1 to BpeRounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS round_id, l AS l_sym, r AS r_sym, cnt AS pair_cnt FROM m$r")
        .mkString("\nUNION ALL ")
      Some(s"WITH $bpeTrainCtes\n$union\nORDER BY round_id")
    })

  /** BPE APPLICATION — tokenize the corpus with the trained merge table
    * (q_bpe_merge_rounds trains it; this is the inference half every
    * token-budget / packing stage runs): per safe word (no sentinel
    * char), segment to characters and apply the BpeRounds merges in
    * training order via the same greedy fold; report per-doc token and
    * char counts plus tokens-per-char in micro.
    *
    * Scale shape: the trained merges are BpeRounds rows of driver state
    * folded into the per-row expressions as literals — exactly how the
    * quality-classifier weights travel — so application is a pure
    * map-side projection: one corpus scan, zero shuffle, zero joins at
    * any corpus size. The oracle recomputes the SAME merge table via
    * the shared training CTEs and applies it with nested list folds,
    * cross-joined against the six 1-row merge CTEs.
    */
  /** The declarative twin of [[graft.functions.BpeApplyStatsExpr]]: the
    * chained sentinel-string folds, kept as the semantic reference the
    * native kernel is equality-tested against (TextOpsSpec).
    */
  private[graft] def bpeApplyHofCols(merges: Seq[(String, String)])
      : (Column, Column) = {
    def segTokens(w: Column): Column = {
      // (?s): Java '.' excludes \n \r u0085 u2028 u2029; the last three are
      // NOT Java \s so they survive word tokenization, and the native
      // kernel (and RE2 oracle) segment every code point — DOTALL keeps
      // this reference twin equal to both on such words
      val seg = merges.foldLeft(regexp_replace(w, "(?s)(.)", "|$1")) {
        case (prev, (l, r)) =>
          bpeFold(filter(split(prev, "[|]"), x => x =!= ""), l, r)
      }
      size(filter(split(seg, "[|]"), x => x =!= "")).cast("long")
    }
    val safeWords = filter(wordsCol, w => !w.contains("|") && length(w) > 0)
    (aggregate(transform(safeWords, w => length(w).cast("long")),
      lit(0L), (a, b) => a + b),
      aggregate(transform(safeWords, w => segTokens(w)),
        lit(0L), (a, b) => a + b))
  }

  val bpeApply = Q("q_bpe_apply",
    (s, dir) => {
      val merges = bpeTrain(s, dir).map { case (l, r, _) => (l, r) }
      // native single-pass kernel (≡ bpeApplyHofCols, equality-tested):
      // BpeRounds nested interpreted folds collapse into one tight loop
      val st = NativeTextFunctions.bpeApplyStatsNative(col("text"), merges)
      docsFanned(s, dir)
        .select(col("doc_id"), st.getField("n_chars_safe").as("n_chars_safe"),
          st.getField("n_bpe_tokens").as("n_bpe_tokens"))
        .select(col("doc_id"), col("n_chars_safe"), col("n_bpe_tokens"),
          when(col("n_chars_safe") > 0,
            floor(lit(1e6) * col("n_bpe_tokens").cast("double")
              / col("n_chars_safe").cast("double")))
            .otherwise(lit(0L)).cast("long").as("tokens_per_char_micro"))
    }, {
      val seg = (1 to BpeRounds).foldLeft(
        """regexp_replace(w, '(.)', '|\1', 'g')""") { (prev, i) =>
        s"""list_reduce(list_prepend('', list_filter(string_split($prev, '|'), s -> s <> '')),
           | (acc, x) -> CASE WHEN x = ma$i.r AND ends_with(acc, '|' || ma$i.l)
           |   THEN substring(acc, 1, length(acc) - length('|' || ma$i.l)) || '|' || ma$i.l || ma$i.r
           |   ELSE acc || '|' || x END)""".stripMargin
      }
      // Each ma$r is GUARANTEED 1 row: if training exhausted pairs before
      // round r (tiny/degenerate corpus), m$r is empty and a bare
      // sw × m1..m6 cross join would annihilate to 0 rows while Spark
      // (which breaks out of the loop on exhaustion) still emits one row
      // per doc. The fallback ('', '') merge is a provable no-op in the
      // fold: every symbol x has length >= 1, so x = '' never matches.
      val maCtes = (1 to BpeRounds).map(r =>
        s"""ma$r AS (SELECT l, r FROM m$r
           |  UNION ALL SELECT '' AS l, '' AS r WHERE NOT EXISTS (SELECT 1 FROM m$r))""".stripMargin)
        .mkString(",\n")
      val mJoins = (1 to BpeRounds).map(r => s"ma$r").mkString(", ")
      Some(s"""WITH $bpeTrainCtes,
        |$maCtes,
        |sw AS (
        |  SELECT doc_id,
        |    list_filter($wordsSql, w -> NOT contains(w, '|') AND length(w) > 0) AS ws
        |  FROM documents)
        |SELECT doc_id, n_chars_safe, n_bpe_tokens,
        |  CAST(CASE WHEN n_chars_safe > 0
        |    THEN floor(1e6 * n_bpe_tokens / CAST(n_chars_safe AS DOUBLE))
        |    ELSE 0 END AS BIGINT) AS tokens_per_char_micro
        |FROM (
        |  SELECT doc_id,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS BIGINT)
        |      AS n_chars_safe,
        |    CAST(coalesce(list_sum(list_transform(ws,
        |      w -> len(list_filter(string_split($seg, '|'), s -> s <> '')))), 0) AS BIGINT)
        |      AS n_bpe_tokens
        |  FROM sw, $mJoins)""".stripMargin)
    })

  // -------------------------------------------------------------------
  // Batched BPE: top-M compatible merges per driver round
  // -------------------------------------------------------------------

  /** Round-9 verdict item 5: classic BPE training is one merge per
    * driver round-trip — a 32k-merge vocabulary would be 32k Spark jobs
    * (vocab-bounded, but a wall-clock killer). This variant accepts a
    * BATCH of merges per round under DOMINANCE FILTERING: rank the
    * round's top-[[BatchW]] pairs by (cnt DESC, l, r); a pair is
    * accepted iff NO higher-ranked candidate in the window shares a
    * token with it (token sets {l, r, l||r} disjoint — the l||r member
    * guards the case where a merge's OUTPUT string collides with a
    * pre-existing symbol used by another candidate). Accepted merges
    * are therefore mutually disjoint, so applying them in ONE fold pass
    * is well-defined and order-independent, and each accepted pair's
    * count was provably unaffected by the others — the batch equals
    * sequential application of the same pairs. Dominance (check against
    * all higher-ranked candidates, accepted or not) rather than greedy
    * (check against accepted only) is what keeps the rule closed-form
    * joinable: the oracle expresses it as one NOT EXISTS anti-join, no
    * recursion. A 256-merge table lands in ~256/|batch| driver rounds
    * instead of 256.
    */
  private val BatchRounds = 4
  private val BatchW = 16

  /** One fold pass applying a DISJOINT merge batch: at most one batch
    * pair can match at any step (each match needs the sentinel-prefixed
    * left symbol as acc's suffix — two distinct matches would need
    * nested '|'-prefixed suffixes, impossible for '|'-free symbols), so
    * the chained whens are order-insensitive.
    */
  private def bpeFoldMulti(syms: Column, batch: Seq[(String, String)]): Column =
    aggregate(syms, lit(""), (acc, x) => {
      val base = concat(acc, lit("|"), x)
      batch.foldRight(base) { case ((l, r), els) =>
        when(x === lit(r) && endswith(acc, lit("|" + l)),
          concat(acc.substr(lit(1), length(acc) - length(lit("|" + l))),
            lit("|" + l + r)))
          .otherwise(els)
      }
    })

  private val bpeBatchTrain = Artifact("text_bpe_batch") { (s, dir) =>
    bpeTrainBatched(Tables.read(s, dir, "documents"), BatchRounds, BatchW)._1
  }

  /** The batched training loop, parameterized so the oracle-gated query
    * (4 rounds × window 16, exactly the published CTE unroll) and a
    * larger merge target run the SAME code. `corpus` needs a `text`
    * column; rounds run until `maxRounds` or `targetMerges` accepted
    * merges, whichever first. Each round is
    * one bounded vocabulary-table aggregate (|vocab| rows, never corpus
    * rows) + one driver round-trip of ≤ `window` candidates — the
    * wall-clock is O(rounds), not O(merges), which is the whole point.
    * Returns (merge table, rounds actually run).
    */
  private[graft] def bpeTrainBatched(corpus: DataFrame, maxRounds: Int,
      window: Int, targetMerges: Long = Long.MaxValue)
      : (Seq[(Long, Long, String, String, Long)], Int) = {
    var vocab = corpus.select(explode(wordsCol).as("w"))
      .filter(length(col("w")) >= 2 && !col("w").contains("|"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .select(col("freq"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .localCheckpoint(true) // bounded: |vocabulary| rows
    val out = Seq.newBuilder[(Long, Long, String, String, Long)]
    var round = 1
    var total = 0L
    while (round <= maxRounds && total < targetMerges) {
      val win = vocab.filter(size(col("syms")) >= 2)
        .select(col("freq"), explode(transform(
          sequence(lit(1), size(col("syms")) - 1),
          i => struct(element_at(col("syms"), i).as("l"),
            element_at(col("syms"), i + 1).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(window).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      def toks(p: (String, String, Long)) = Set(p._1, p._2, p._1 + p._2)
      val accepted = win.zipWithIndex.collect {
        case (a, i) if !win.take(i).exists(b => (toks(a) & toks(b)).nonEmpty) => a
      }
      accepted.zipWithIndex.foreach { case ((l, r, c), k) =>
        out += ((round.toLong, (k + 1).toLong, l, r, c))
      }
      total += accepted.length
      if (accepted.nonEmpty) {
        val prev = vocab
        vocab = vocab.select(col("freq"),
          filter(split(bpeFoldMulti(col("syms"),
            accepted.toSeq.map(p => (p._1, p._2))), "[|]"), sy => sy =!= "")
            .as("syms"))
          .localCheckpoint(true)
        prev.unpersist()
      }
      round += 1
    }
    (out.result(), round - 1)
  }

  /** The DuckDB unroll: per round, pair counts → ranked window → the
    * dominance anti-join → batch as a LIST → ONE multi-merge fold (the
    * CASE matches x against every batch pair; disjointness makes the
    * match unique). An empty round degrades to [] and the fold becomes
    * the identity re-split — no annihilation, mirroring the Spark loop
    * running its (empty) round.
    */
  private def bpeBatchCtes: String = {
    val v0 = s"""v0 AS MATERIALIZED (
      |  SELECT count(*) AS freq,
      |    list_transform(generate_series(1, length(w)), i -> substring(w, i, 1)) AS syms
      |  FROM (SELECT unnest($wordsSql) AS w FROM documents)
      |  WHERE length(w) >= 2 AND NOT contains(w, '|') GROUP BY w)""".stripMargin
    val sel = "list_filter(ms, m -> x = m.r AND ends_with(acc2, '|' || m.l))"
    val rounds = (1 to BatchRounds).map { r =>
      s"""p$r AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS cnt FROM (
         |    SELECT freq, syms[i] AS l, syms[i+1] AS r FROM (
         |      SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS i
         |      FROM v${r - 1} WHERE len(syms) >= 2))
         |  GROUP BY l, r),
         |w$r AS MATERIALIZED (
         |  SELECT l, r, cnt, row_number() OVER (ORDER BY cnt DESC, l, r) AS rk
         |  FROM p$r ORDER BY cnt DESC, l, r LIMIT $BatchW),
         |acc$r AS MATERIALIZED (
         |  SELECT a.l, a.r, a.cnt,
         |    row_number() OVER (ORDER BY a.cnt DESC, a.l, a.r) AS rank_in_round
         |  FROM w$r a WHERE NOT EXISTS (
         |    SELECT 1 FROM w$r b WHERE b.rk < a.rk AND (
         |      a.l IN (b.l, b.r, b.l || b.r) OR a.r IN (b.l, b.r, b.l || b.r)
         |      OR (a.l || a.r) IN (b.l, b.r, b.l || b.r)))),
         |b$r AS (SELECT coalesce(list({'l': l, 'r': r} ORDER BY rank_in_round), []) AS ms
         |        FROM acc$r),
         |v$r AS MATERIALIZED (
         |  SELECT freq, list_filter(string_split(
         |    list_reduce(list_prepend('', syms), (acc2, x) ->
         |      CASE WHEN len($sel) > 0
         |        THEN substring(acc2, 1, length(acc2) - length('|' || $sel[1].l))
         |             || '|' || $sel[1].l || x
         |        ELSE acc2 || '|' || x END), '|'), z -> z <> '') AS syms
         |  FROM v${r - 1}, b$r)""".stripMargin
    }.mkString(",\n")
    s"$v0,\n$rounds"
  }

  val bpeBatchRounds = Q("q_bpe_batch_rounds",
    (s, dir) => {
      import s.implicits._
      bpeBatchTrain(s, dir)
        .toDF("round_id", "rank_in_round", "l_sym", "r_sym", "pair_cnt")
        .orderBy(col("round_id"), col("rank_in_round"))
    }, {
      val union = (1 to BatchRounds).map(r =>
        s"""SELECT CAST($r AS BIGINT) AS round_id,
           | CAST(rank_in_round AS BIGINT) AS rank_in_round,
           | l AS l_sym, r AS r_sym, cnt AS pair_cnt FROM acc$r""".stripMargin)
        .mkString("\nUNION ALL ")
      Some(s"WITH $bpeBatchCtes\n$union\nORDER BY round_id, rank_in_round")
    })

  private val stopLits = Seq("the", "a", "and", "of", "to", "in", "is", "on")

  val qualityScore = Q("q_quality_score",
    (s, dir) => {
      val words = wordsCol
      val stopArr = array(stopLits.map(lit): _*)
      val nWords = size(words)
      val nStop = size(filter(words, w => array_contains(stopArr, w)))
      Tables.read(s, dir, "documents").select(
        col("doc_id"),
        nWords.cast("long").as("n_words"),
        nStop.cast("long").as("n_stop"),
        round(nStop.cast("double") / nWords, 6).as("stop_ratio"),
        round(length(col("text")).cast("double") / nWords, 6).as("avg_token_len"))
    },
    Some(s"""SELECT doc_id,
            | len($wordsSql) AS n_words,
            | len(list_filter($wordsSql, w -> list_contains(['the','a','and','of','to','in','is','on'], w))) AS n_stop,
            | round(len(list_filter($wordsSql, w -> list_contains(['the','a','and','of','to','in','is','on'], w)))
            |   / CAST(len($wordsSql) AS DOUBLE), 6) AS stop_ratio,
            | round(length(text) / CAST(len($wordsSql) AS DOUBLE), 6) AS avg_token_len
            |FROM documents""".stripMargin))

  /** A fastText-style quality CLASSIFIER with fixed literal weights — the
    * shape of the model-based keep/drop filters (pretrained quality /
    * toxicity classifiers) that sit beside the rule-based screens in a
    * curation pipeline: z = w·x over cheap per-doc features, score =
    * sigmoid(z) in micro, keep at score ≥ 0.5 (⇔ z ≥ 0). Inference is a
    * pure map-side projection — at 100 TB the classifier costs one scan,
    * no shuffle, and the weights travel as plan literals (a real model's
    * coefficient vector would too).
    */
  val qualityLogit = Q("q_quality_logit",
    (s, dir) => {
      val words = wordsCol
      val stopArr = array(stopLits.map(lit): _*)
      val nWords = size(words).cast("double")
      val stopRatio = size(filter(words, w => array_contains(stopArr, w)))
        .cast("double") / nWords
      val avgLen = length(col("text")).cast("double") / nWords
      // w0 + w_stop·stop_ratio + w_len·avg_token_len + w_n·ln(n_words)
      val z = lit(-2.0) + lit(6.0) * stopRatio + lit(-0.2) * avgLen +
        lit(0.35) * log(nWords)
      Tables.read(s, dir, "documents").select(
        col("doc_id"),
        floor(lit(1e6) / (lit(1.0) + exp(-z))).cast("long").as("score_micro"),
        (z >= 0).cast("long").as("keep"))
    },
    Some {
      val nw = s"CAST(len($wordsSql) AS DOUBLE)"
      val stop = s"len(list_filter($wordsSql, w -> list_contains(['the','a','and','of','to','in','is','on'], w)))"
      val z = s"(-2.0e0 + 6.0e0 * ($stop / $nw) + -0.2e0 * (length(text) / $nw) + 0.35e0 * ln($nw))"
      s"""SELECT doc_id,
         | CAST(floor(1e6 / (1.0e0 + exp(-$z))) AS BIGINT) AS score_micro,
         | CAST(CASE WHEN $z >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM documents""".stripMargin
    })

  val langHistogram = Q("q_lang_histogram",
    (s, dir) => Tables.read(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"), round(avg(col("n_chars")), 4).as("avg_chars")),
    Some("""SELECT lang, source, count(*) AS cnt, round(avg(n_chars), 4) AS avg_chars
           |FROM documents GROUP BY lang, source""".stripMargin))

  /** Heuristic language-ID from stopword evidence (n-gram heuristic):
    * argmax over per-language marker-word hit counts, deterministic
    * tie-break by language order. Oracle = identical CASE cascade.
    */
  private def langMarkers = TextOps.langMarkers

  val langId = Q("q_lang_id",
    (s, dir) => TextOps.withLangId(docsFanned(s, dir), col("text"), "pred_lang")
      .select(col("doc_id"), col("lang"), col("pred_lang")), {
      def hitsSql(ms: Seq[String]): String =
        s"len(list_filter($wordsSql, w -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], w)))"
      val hs = langMarkers.map { case (l, ms) => l -> hitsSql(ms) }
      val bestSql = s"greatest(${hs.map(_._2).mkString(", ")})"
      val caseSql = hs.map { case (l, h) =>
        s"WHEN $h = $bestSql AND $bestSql > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"SELECT doc_id, lang, CASE $caseSql ELSE 'unk' END AS pred_lang FROM documents")
    })

  /** Cohen's kappa for the lang-ID classifier vs stored labels — the
    * chance-corrected agreement score every labeling/eval pipeline
    * reports alongside raw accuracy (accuracy is inflated when one
    * class dominates; kappa subtracts expected chance agreement
    * p_e = Σ_c marginal_pred(c)·marginal_true(c)). The confusion matrix
    * is ONE partial+final aggregate on the bounded (true, pred) label
    * grid; everything downstream is grid-sized driver-free SQL. All
    * probabilities are exact rationals of counts, so po/pe/kappa are
    * identical doubles in both engines, micro-floored.
    */
  val cohensKappa = Q("q_cohens_kappa",
    (s, dir) => {
      val pred = TextOps.withLangId(docsFanned(s, dir), col("text"), "pred_lang")
        .select(col("lang"), col("pred_lang"))
      val cm = pred.groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("c")).localCheckpoint(true)
      val n = cm.agg(sum(col("c")).as("n"))
      val po = cm.filter(col("lang") === col("pred_lang"))
        .agg(coalesce(sum(col("c")), lit(0L)).as("agree"))
      val pe = cm.groupBy(col("lang")).agg(sum(col("c")).as("ct"))
        .join(cm.groupBy(col("pred_lang")).agg(sum(col("c")).as("cp")),
          col("lang") === col("pred_lang"))
        .agg(sum(col("ct") * col("cp")).as("pe_num"))
      broadcast(n).crossJoin(broadcast(po)).crossJoin(broadcast(pe))
        .select(col("n"), col("agree"),
          floor(lit(1e6) * col("agree").cast("double") / col("n"))
            .cast("long").as("po_micro"),
          floor(lit(1e6) * col("pe_num").cast("double") / (col("n") * col("n")))
            .cast("long").as("pe_micro"),
          floor(lit(1e6) *
            (col("agree").cast("double") / col("n")
              - col("pe_num").cast("double") / (col("n") * col("n")))
            / (lit(1.0) - col("pe_num").cast("double") / (col("n") * col("n"))))
            .cast("long").as("kappa_micro"))
    }, {
      def hitsSql(ms: Seq[String]): String =
        s"len(list_filter($wordsSql, w -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], w)))"
      val hs = langMarkers.map { case (l, ms) => l -> hitsSql(ms) }
      val bestSql = s"greatest(${hs.map(_._2).mkString(", ")})"
      val caseSql = hs.map { case (l, h) =>
        s"WHEN $h = $bestSql AND $bestSql > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"""WITH p AS (
              |  SELECT lang, CASE $caseSql ELSE 'unk' END AS pred_lang
              |  FROM documents),
              |cm AS (SELECT lang, pred_lang, count(*) AS c FROM p GROUP BY 1, 2),
              |n AS (SELECT sum(c) AS n FROM cm),
              |po AS (SELECT coalesce(sum(c), 0) AS agree FROM cm WHERE lang = pred_lang),
              |pe AS (
              |  SELECT sum(t.ct * q.cp) AS pe_num
              |  FROM (SELECT lang, sum(c) AS ct FROM cm GROUP BY lang) t
              |  JOIN (SELECT pred_lang, sum(c) AS cp FROM cm GROUP BY pred_lang) q
              |    ON q.pred_lang = t.lang)
              |SELECT CAST(n.n AS BIGINT) AS n, CAST(po.agree AS BIGINT) AS agree,
              |  CAST(floor(1e6 * po.agree / CAST(n.n AS DOUBLE)) AS BIGINT) AS po_micro,
              |  CAST(floor(1e6 * pe.pe_num / (CAST(n.n AS DOUBLE) * n.n)) AS BIGINT)
              |    AS pe_micro,
              |  CAST(floor(1e6 *
              |    (po.agree / CAST(n.n AS DOUBLE) - pe.pe_num / (CAST(n.n AS DOUBLE) * n.n))
              |    / (1.0 - pe.pe_num / (CAST(n.n AS DOUBLE) * n.n))) AS BIGINT)
              |    AS kappa_micro
              |FROM n, po, pe""".stripMargin)
    })

  /** Vocabulary growth curve (Heaps' law audit) — distinct-vocabulary
    * size as the corpus grows, the stat that says whether a crawl is
    * still contributing new content or re-treading: naive recomputation
    * (distinct over every prefix) is quadratic, so each word is instead
    * marked ONCE at its first-occurrence document (a min-aggregate on
    * the bounded vocabulary) and the curve is a cumulative count over a
    * FIXED 256-bucket corpus-relative grid — bucket = (doc_id*256) div
    * (max_id+1), exact integer math in both engines — so the single
    * unpartitioned window holds ≤256 rows no matter how large the
    * corpus grows (the previous doc_id/50 grid scaled linearly with
    * the corpus and was the round-7 `WindowExec: No Partition Defined`
    * offender). One corpus pass + a broadcast 1-row divisor.
    */
  val vocabGrowth = Q("q_vocab_growth",
    (s, dir) => {
      val m = Tables.read(s, dir, "documents").agg((max(col("doc_id")) + 1).as("m"))
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val firstOcc = Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(wordsCol)).as("w"))
        .groupBy(col("w")).agg(min(col("doc_id")).as("first_doc"))
        .crossJoin(broadcast(m))
        .select(expr("(first_doc * 256) div m").as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("new_words"))
      val tok = Tables.read(s, dir, "documents")
        .crossJoin(broadcast(m))
        .select(expr("(doc_id * 256) div m").as("bucket"),
          size(wordsCol).cast("long").as("nt"))
        .groupBy(col("bucket")).agg(sum(col("nt")).as("bucket_tokens"))
      tok.join(firstOcc, Seq("bucket"), "left")
        .select(col("bucket"), col("bucket_tokens"),
          coalesce(col("new_words"), lit(0L)).as("new_words"))
        .withColumn("cum_tokens", sum(col("bucket_tokens")).over(w))
        .withColumn("cum_vocab", sum(col("new_words")).over(w))
    },
    Some(s"""WITH g AS (SELECT max(doc_id) + 1 AS m FROM documents),
            |fo AS (
            |  SELECT w, min(doc_id) AS first_doc
            |  FROM (SELECT doc_id, unnest(list_distinct($wordsSql)) AS w FROM documents)
            |  GROUP BY w),
            |nw AS (SELECT CAST((first_doc * 256) // g.m AS BIGINT) AS bucket,
            |         count(*) AS new_words FROM fo, g GROUP BY 1),
            |tk AS (SELECT CAST((doc_id * 256) // g.m AS BIGINT) AS bucket,
            |         CAST(sum(len($wordsSql)) AS BIGINT) AS bucket_tokens
            |       FROM documents, g GROUP BY 1)
            |SELECT tk.bucket, tk.bucket_tokens,
            |  coalesce(nw.new_words, 0) AS new_words,
            |  CAST(sum(tk.bucket_tokens) OVER w AS BIGINT) AS cum_tokens,
            |  CAST(sum(coalesce(nw.new_words, 0)) OVER w AS BIGINT) AS cum_vocab
            |FROM tk LEFT JOIN nw USING (bucket)
            |WINDOW w AS (ORDER BY tk.bucket
            |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin))

  /** Mixed-script pipeline: a deterministic script injection over the
    * documents table (doc_id % 3 picks a CJK prefix, a Cyrillic prefix,
    * or leaves the text unchanged), then the full Unicode text pipeline
    * over the mixed column — normalization (hash + length prove
    * CJK/Cyrillic survives [[TextOps.normalize]] instead of stripping to
    * empty) and language-ID through the extended marker cascade (ru/zh
    * markers prove the non-Latin path). The injected prefix carries 15
    * marker hits — above the max organic marker count in the corpus
    * (8 at sf0.1) — so pred_lang is deterministic: injected docs resolve
    * to zh/ru, the rest to their organic prediction.
    */
  private val zhPrefix = "的 是 了 " * 5
  private val ruPrefix = "и в не " * 5

  val unicodePipeline = Q("q_unicode_pipeline",
    (s, dir) => {
      val mixed = when(col("doc_id") % 3 === 0, concat(lit(zhPrefix), col("text")))
        .when(col("doc_id") % 3 === 1, concat(lit(ruPrefix), col("text")))
        .otherwise(col("text"))
      val staged = docsFanned(s, dir)
        .withColumn("__mixed", mixed)
        .withColumn("__norm", TextOps.normalize(col("__mixed")))
      TextOps.withLangId(staged, col("__mixed"), "pred_lang")
        .select(col("doc_id"), md5(col("__norm")).as("norm_hash"),
          length(col("__norm")).cast("long").as("norm_len"), col("pred_lang"))
    }, {
      val mwordsSql = """regexp_split_to_array(trim(mixed), '\s+')"""
      def hitsSql(ms: Seq[String]): String =
        s"len(list_filter($mwordsSql, w -> list_contains([${ms.map("'" + _ + "'").mkString(",")}], w)))"
      val hs = langMarkers.map { case (l, ms) => l -> hitsSql(ms) }
      val bestSql = s"greatest(${hs.map(_._2).mkString(", ")})"
      val caseSql = hs.map { case (l, h) =>
        s"WHEN $h = $bestSql AND $bestSql > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"""WITH m AS (
              |  SELECT doc_id,
              |    CASE WHEN doc_id % 3 = 0 THEN '$zhPrefix' || text
              |         WHEN doc_id % 3 = 1 THEN '$ruPrefix' || text
              |         ELSE text END AS mixed
              |  FROM documents)
              |SELECT doc_id,
              | md5(${normalizeSql("mixed")}) AS norm_hash,
              | length(${normalizeSql("mixed")}) AS norm_len,
              | CASE $caseSql ELSE 'unk' END AS pred_lang
              |FROM m""".stripMargin)
    })

  // ---------------------------------------------------------------------
  // Shingles, fingerprints, MinHash-LSH near-dup
  // ---------------------------------------------------------------------

  /** Word 3-gram shingles: positions 1..max(n-2, 1), 1-based slice of 3. */
  private[graft] def shinglesCol: Column = TextOps.shingles(col("text"))
  private val shinglesSql =
    s"""list_transform(generate_series(1, greatest(len($wordsSql) - 2, 1)),
       | i -> array_to_string(list_slice($wordsSql, i, i + 2), ' '))""".stripMargin

  /** Rolling-window document fingerprint: the minimum shingle hash — a
    * 1-permutation MinHash under md5 order (min over distinct = min over
    * all). Computed inside the shared signature aggregation pass (the
    * `fp` column), so this query is a projection of the materialized
    * signature — no extra scan of the shingle stream.
    */
  val docFingerprint = Q("q_doc_fingerprint",
    (s, dir) => artifacts(s, dir).signature
      .select(col("doc_id"), col("fp").as("fingerprint")),
    Some(s"""SELECT doc_id, list_min(list_transform($shinglesSql, sh -> md5(sh))) AS fingerprint
            |FROM documents""".stripMargin))

  /** 8-permutation MinHash signature: two md5 digests per distinct
    * shingle (plain + salted), the permutations are the digests' eight
    * 32-bit hex chunks (TextOps). Single pass, map-side native kernel —
    * the shingle text itself never shuffles.
    */
  private def signatureDf(s: SparkSession, dir: String): DataFrame =
    artifacts(s, dir).signature

  private def sigSql: Seq[(String, String)] =
    (0 until TextOps.minhashPerms).map { i =>
      val md = if (i < 4) "md5(sh)" else s"md5(concat('${TextOps.minhashSalt}', sh))"
      s"mh$i" -> s"list_min(list_transform($shinglesSql, sh -> substring($md, ${(i % 4) * 8 + 1}, 8)))"
    }

  /** The sig → bands → candidate-pairs CTE chain shared by every
    * LSH-derived oracle — generated from the same constants as the
    * engine (TextOps.minhashPerms / lshRows), so a layout change updates
    * all five oracles together.
    */
  private def pairsCtes: String = {
    val sigCols = sigSql.map { case (n, sq) => s"$sq AS $n" }.mkString(", ")
    val bandSelects = (0 until TextOps.lshBandCount).map { b =>
      val r = TextOps.lshRows
      s"SELECT doc_id, $b AS band, concat_ws('', ${(0 until r).map(j => s"mh${b * r + j}").mkString(", ")}) AS bucket FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    // MATERIALIZED is load-bearing at the 100× corpus: DuckDB inlines
    // plain CTEs per reference, so an oracle touching `pairs` twice
    // (e.g. the CC chain's symmetrizing UNION) re-runs the 32.7M-pair
    // DISTINCT band self-join concurrently in one pipeline tree —
    // observed as an out-of-memory at the 48 GB gate cap; materialized
    // once, the same oracles run in bounded memory.
    s"""sig AS MATERIALIZED (
       |  SELECT doc_id, $sigCols
       |  FROM documents),
       |bands AS MATERIALIZED (
       |  $bandSelects),
       |pairs AS MATERIALIZED (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM bands l JOIN bands r
       |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)""".stripMargin
  }

  /** Per-candidate-pair (ni, na, nb) via per-pair LIST INTERSECTION —
    * the scalable oracle twin of [[graft.functions.TextOps.pairOverlap]].
    * The previous form (pairs ⋈ shingles ⋈ shingles, GROUP BY pair) is
    * Σ_pairs |shingles| intermediate rows plus a pair-count-sized hash
    * aggregate: at the 100× corpus (24.7M candidate pairs × ~40
    * shingles) DuckDB built a >90 GB hash table and had to be killed.
    * This form is two joins of pairs against the 500k-row doc-list
    * table and a bounded per-row `list_intersect` — no pair-level
    * aggregation, memory ~O(docs), the same bounded-per-key lesson as
    * the ppjoin mask oracle.
    */
  private def interCtes: String =
    s"""dl AS (SELECT doc_id, list_distinct($shinglesSql) AS shl FROM documents),
       |inter AS (
       |  SELECT p.doc_a, p.doc_b, len(list_intersect(a.shl, b.shl)) AS ni,
       |    len(a.shl) AS na, len(b.shl) AS nb
       |  FROM pairs p JOIN dl a ON a.doc_id = p.doc_a
       |               JOIN dl b ON b.doc_id = p.doc_b)""".stripMargin

  val minhashSignature = Q("q_minhash_signature",
    (s, dir) => signatureDf(s, dir)
      .select(col("doc_id") +:
        (0 until TextOps.minhashPerms).map(i => col(s"mh$i")): _*),
    Some(s"SELECT doc_id, ${sigSql.map { case (n, sq) => s"$sq AS $n" }.mkString(", ")} FROM documents"))

  /** MinHash-LSH near-dup candidates: 2 bands × 2 rows; docs sharing a
    * band bucket are candidate pairs. The signature is localCheckpointed
    * so the band union + self-join reuse it instead of re-hashing the
    * corpus on every branch; only (doc_id, band-bucket) shuffles.
    */
  /** LSH candidate pairs (shared band bucket), reused by the Jaccard
    * verification stage.
    */
  private[graft] def lshCandidates(s: SparkSession, dir: String): DataFrame =
    artifacts(s, dir).candidates

  val minhashLshPairs = Q("q_minhash_lsh_pairs",
    (s, dir) => lshCandidates(s, dir),
    Some(s"WITH $pairsCtes\nSELECT doc_a, doc_b FROM pairs"))

  /** Exact n-gram Jaccard over the LSH candidate pairs — the verify stage
    * of the MinHash pipeline (candidates → true similarity). Set
    * semantics: distinct shingles; |A∩B| via a shingle equi-join (only
    * (doc_id, shingle-hash) pairs shuffle), |A∪B| = |A|+|B|−|A∩B|.
    */
  val ngramJaccard = Q("q_ngram_jaccard",
    (s, dir) => {
      val a = artifacts(s, dir)
      TextOps.jaccardOverPairs(a.shingles, "doc_id", a.candidates)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    },
    Some(s"""WITH $pairsCtes,
            |$interCtes
            |SELECT i.doc_a, i.doc_b,
            |  round(CAST(i.ni AS DOUBLE) / (i.na + i.nb - i.ni), 6) AS jaccard
            |FROM inter i""".stripMargin))

  /** Measured recall of the MinHash-LSH banding scheme vs exact-Jaccard
    * ground truth — the evaluation the ANN tier already gets
    * (`q_ann_ivf_recall`) applied to the dedup tier: for each Jaccard
    * threshold t ∈ {0.50, 0.70, 0.80, 0.90}, how many truly-similar
    * pairs exist, and how many of them the band buckets surfaced.
    * Ground truth is the exact Jaccard over the co-shingle universe
    * (pairs sharing ≥ 1 shingle) — full below
    * [[Census.RecallFullN]] docs, and above it restricted to the
    * md5-ranked stratum (pairs whose SMALLER member hashes into bucket
    * 0 mod [[Census.RecallStratumMod]]): shingles are copy-invariant
    * under key-offset corpus scaling, so the FULL relation grows
    * ~copies² (~1e11 rows at 500k docs — the r12 gate exclusion); the
    * stratum is an unbiased exact measurement of the same dial whose
    * intersection stream is corpus-linear, so the evaluation stays
    * oracle-certified at every SF. The stratum filter lands on the
    * doc_a side BEFORE the self-join (the SetSimJoin aBound lesson:
    * filtering the materialized relation would rebuild the blow-up).
    * The threshold doubles are derived as pct/100.0 on BOTH engines so
    * the boundary comparisons are bit-identical; outputs are integer
    * counts and a floor-micro recall.
    */
  val minhashRecall = Q("q_minhash_recall",
    (s, dir) => {
      // every table below derives from the localCheckpointed shingle
      // artifact (LogicalRDD, pre-checkpoint size guesses) and is
      // corpus-scale at 100 TB — pin SHUFFLE_MERGE everywhere, same
      // rationale as pairOverlap / q_source_overlap (PlanShapeSpec)
      val sh = artifacts(s, dir).shingles
      val cnt = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val full = MlQueries.docCount(s, dir) <= Census.RecallFullN
      val shA = sh.select(col("doc_id").as("doc_a"), col("sh"))
      val shAStratum =
        if (full) shA
        else shA.filter(conv(substring(md5(col("doc_a").cast("string")), 1, 4),
          16, 10).cast("long") % Census.RecallStratumMod === 0)
      val inter = shAStratum
        .hint("shuffle_merge")
        .join(sh.select(col("doc_id").as("doc_b"), col("sh")).hint("shuffle_merge"),
          Seq("sh"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("ni"))
      val truth = inter
        .join(cnt.select(col("doc_id").as("doc_a"), col("n").as("na"))
          .hint("shuffle_merge"), Seq("doc_a"))
        .join(cnt.select(col("doc_id").as("doc_b"), col("n").as("nb"))
          .hint("shuffle_merge"), Seq("doc_b"))
        .withColumn("j", col("ni").cast("double") / (col("na") + col("nb") - col("ni")))
      val det = artifacts(s, dir).candidates
        .select(col("doc_a"), col("doc_b")).withColumn("det", lit(1))
      truth.join(det.hint("shuffle_merge"), Seq("doc_a", "doc_b"), "left")
        .withColumn("pct", explode(array(Seq(50, 70, 80, 90).map(lit): _*)))
        .filter(col("j") >= col("pct").cast("double") / 100.0)
        .groupBy(col("pct").cast("long").as("threshold_pct"))
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("det").isNotNull, 1L).otherwise(0L)).as("n_detected"))
        .withColumn("recall_micro",
          floor(lit(1e6) * col("n_detected").cast("double") / col("n_true"))
            .cast("long"))
    },
    Some(s"""WITH $pairsCtes,
            |sh AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh FROM documents),
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
            |inter AS (
            |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS ni
            |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            |  WHERE (SELECT count(*) FROM documents) <= ${Census.RecallFullN}
            |     OR ('0x' || substring(md5(CAST(a.doc_id AS VARCHAR)), 1, 4))::BIGINT
            |        % ${Census.RecallStratumMod} = 0
            |  GROUP BY 1, 2),
            |truth AS (
            |  SELECT i.doc_a, i.doc_b,
            |    CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) AS j,
            |    EXISTS (SELECT 1 FROM pairs p
            |            WHERE p.doc_a = i.doc_a AND p.doc_b = i.doc_b) AS det
            |  FROM inter i JOIN cnt ca ON ca.doc_id = i.doc_a
            |               JOIN cnt cb ON cb.doc_id = i.doc_b)
            |SELECT CAST(t.pct AS BIGINT) AS threshold_pct, count(*) AS n_true,
            |  CAST(sum(CASE WHEN det THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
            |  CAST(floor(1e6 * sum(CASE WHEN det THEN 1 ELSE 0 END)
            |             / CAST(count(*) AS DOUBLE)) AS BIGINT) AS recall_micro
            |FROM truth, (VALUES (50), (70), (80), (90)) t(pct)
            |WHERE truth.j >= CAST(t.pct AS DOUBLE) / 100.0
            |GROUP BY t.pct""".stripMargin))

  // ---------------------------------------------------------------------
  // Multimodal plumbing: opaque binary column + typed metadata
  // ---------------------------------------------------------------------

  /** Binary-column plumbing: treat text bytes as an opaque blob, extract
    * deterministic metadata (byte length + a fake "decoded" width/height
    * derived from the blob hash — the real decoder is environment-bound
    * and stubbed per the build contract; the Spark-side schema, casting
    * and partition shape are real).
    */
  val multimodalMeta = Q("q_multimodal_meta",
    (s, dir) => Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        (conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 1920).as("fake_width"),
        (conv(substring(md5(col("text")), 5, 4), 16, 10).cast("long") % 1080).as("fake_height")),
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
           | CAST(('0x' || substring(md5(text), 1, 4))::BIGINT % 1920 AS BIGINT) AS fake_width,
           | CAST(('0x' || substring(md5(text), 5, 4))::BIGINT % 1080 AS BIGINT) AS fake_height
           |FROM documents""".stripMargin))

  /** Source-preference keep policy — dedup keep rules are PLUGGABLE:
    * instead of keep-the-earliest (q_near_dedup_keep), keep the group
    * member from the most-preferred SOURCE (curated beats crawl), doc_id
    * as the final tie-break. Same memoized connected-components canon,
    * same SHUFFLE_MERGE pin; only the window ordering changes — which is
    * exactly how a production pipeline swaps keep policies.
    */
  val nearDedupKeepPref = Q("q_near_dedup_keep_pref",
    (s, dir) => {
      val canon = canonical(s, dir)
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("source"), col("doc_id"))
      Tables.read(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(canon.hint("shuffle_merge"), Seq("doc_id"), "left")
        .withColumn("grp", coalesce(col("canonical_id"), col("doc_id")))
        .withColumn("rk", row_number().over(w))
        .select(col("doc_id"), col("grp").as("group_id"),
          (col("rk") === 1).cast("long").as("kept"))
    },
    Some(s"""WITH $pairsCtes,
            |${OracleCc.canonFromPairs(OracleCc.TextRounds)}
            |SELECT d.doc_id,
            |  coalesce(c.canonical_id, d.doc_id) AS group_id,
            |  CAST(CASE WHEN row_number() OVER (
            |      PARTITION BY coalesce(c.canonical_id, d.doc_id)
            |      ORDER BY d.source, d.doc_id) = 1 THEN 1 ELSE 0 END AS BIGINT)
            |    AS kept
            |FROM documents d LEFT JOIN canon c USING (doc_id)""".stripMargin))

  /** CCNet-style quality bucketing: per language, documents rank into
    * head/middle/tail terciles by stopword ratio (micro-units, so the
    * ordering key is integer-exact on both engines), doc_id tie-break.
    * The bucket is what downstream sampling weights key on. One window
    * over per-language partitions — no global sort.
    */
  val qualityBuckets = Q("q_quality_buckets",
    (s, dir) => {
      val words = wordsCol
      val stopArr = array(stopLits.map(lit): _*)
      val ratioMicro = floor(lit(1e6) *
        size(filter(words, w => array_contains(stopArr, w))).cast("double") /
        size(words)).cast("long")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("q").desc, col("doc_id"))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), ratioMicro.as("q"))
        .withColumn("b", ntile(3).over(w))
        .select(col("doc_id"), col("lang"), col("q").as("stop_ratio_micro"),
          when(col("b") === 1, "head").when(col("b") === 2, "middle")
            .otherwise("tail").as("bucket"))
    },
    Some {
      val stops = "['the','a','and','of','to','in','is','on']"
      s"""WITH q AS (
         |  SELECT doc_id, lang,
         |    CAST(floor(1e6 * len(list_filter($wordsSql, w -> list_contains($stops, w)))
         |      / CAST(len($wordsSql) AS DOUBLE)) AS BIGINT) AS q
         |  FROM documents)
         |SELECT doc_id, lang, q AS stop_ratio_micro,
         |  CASE ntile(3) OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
         |    WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM q""".stripMargin
    })

  /** Context-window chunking — long documents split into overlapping
    * token windows (width 32, stride 24 — sized so the synthetic docs
    * actually produce multi-window explosions) before sequence packing: the
    * standard "document → training examples" explosion. Pure map-side:
    * tokenize once, compute the window count arithmetically, explode a
    * bounded index sequence and slice — no shuffle, output rows ≈
    * Σ ceil(n/stride) which IS the training-example count. Every window
    * is hash-verified (content, not just counts), so an off-by-one in
    * stride/width/last-window handling goes red. Short docs (n ≤ width)
    * emit exactly one window.
    */
  private val chunkW = 32
  private val chunkS = 24

  val docChunks = Q("q_doc_chunks",
    (s, dir) => {
      val ws = wordsCol
      val extra = greatest(ceil((size(ws) - chunkW).cast("double") / chunkS), lit(0.0))
        .cast("long")
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), ws.as("__ws"),
          explode(sequence(lit(0L), extra)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          size(slice(col("__ws"), (col("chunk_idx") * chunkS + 1).cast("int"), lit(chunkW)))
            .cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ",
            slice(col("__ws"), (col("chunk_idx") * chunkS + 1).cast("int"), lit(chunkW))))
            .as("chunk_hash"))
    },
    Some(s"""WITH w AS (SELECT doc_id, $wordsSql AS ws FROM documents),
            |n AS (SELECT doc_id, ws, len(ws) AS n FROM w),
            |c AS (SELECT doc_id, ws,
            |        unnest(generate_series(0,
            |          CAST(greatest(ceil((n - $chunkW) / CAST($chunkS AS DOUBLE)), 0) AS BIGINT)))
            |          AS chunk_idx
            |      FROM n)
            |SELECT doc_id, chunk_idx,
            |  CAST(len(ws[(chunk_idx * $chunkS + 1):(chunk_idx * $chunkS + $chunkW)]) AS BIGINT)
            |    AS n_chunk_tokens,
            |  md5(array_to_string(ws[(chunk_idx * $chunkS + 1):(chunk_idx * $chunkS + $chunkW)], ' '))
            |    AS chunk_hash
            |FROM c""".stripMargin))

  /** PII scrubbing — the redaction stage every training-data pipeline
    * runs before packing: emails, E.164-ish phone numbers and IPv4
    * addresses are counted and replaced with type tokens, and the
    * redacted text is hash-verified. The corpus is only touched by
    * map-side regex projections (codegen'd, zero shuffle). PII is
    * PLANTED deterministically from each doc's own fields (synthetic
    * corpus carries none organically), so detection counts and the
    * redacted-text hash are closed-form checkable; the regexes are
    * Java ≡ RE2 compatible (no lookaround/backrefs) so both engines
    * scrub identically — including any accidental matches in the
    * original text.
    */
  private val emailPat = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val phonePat = "\\+\\d(?:[- ]?\\d){6,14}"
  private val ipPat = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Deterministically planted PII (the synthetic corpus carries none)
    * and its redaction — shared by q_pii_scrub and the composed
    * q_training_examples pipeline.
    */
  private def piiPlanted: Column = concat(col("text"),
    lit(" contact user"), col("doc_id"), lit("@example.com ip 10."),
    col("doc_id") % 256, lit(".0.1 call +1-555-"),
    format_string("%04d", col("doc_id") % 10000))

  private def piiRedacted(planted: Column): Column = regexp_replace(
    regexp_replace(
      regexp_replace(planted, emailPat, "<EMAIL>"),
      phonePat, "<PHONE>"),
    ipPat, "<IP>")

  private val piiPlantedSql =
    "text || ' contact user' || doc_id || '@example.com ip 10.' || " +
      "(doc_id % 256) || '.0.1 call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  private def piiRedactedSql(t: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($t,
       |    '$emailPat', '<EMAIL>', 'g'),
       |    '$phonePat', '<PHONE>', 'g'),
       |    '$ipPat', '<IP>', 'g')""".stripMargin

  val piiScrub = Q("q_pii_scrub",
    (s, dir) => {
      val planted = piiPlanted
      val redacted = piiRedacted(planted)
      Tables.read(s, dir, "documents").select(col("doc_id"),
        regexp_count(planted, lit(emailPat)).cast("long").as("n_email"),
        regexp_count(planted, lit(phonePat)).cast("long").as("n_phone"),
        regexp_count(planted, lit(ipPat)).cast("long").as("n_ip"),
        md5(redacted).as("redacted_hash"))
    },
    Some(
      s"""WITH p AS (SELECT doc_id, $piiPlantedSql AS t FROM documents),
         |r AS (SELECT doc_id, t, ${piiRedactedSql("t")} AS red
         |  FROM p)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$emailPat')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(t, '$phonePat')) AS BIGINT) AS n_phone,
         |  CAST(len(regexp_extract_all(t, '$ipPat')) AS BIGINT) AS n_ip,
         |  md5(red) AS redacted_hash
         |FROM r""".stripMargin))

  /** THE CAPSTONE COMPOSITION — the whole LLM-training-data pipeline as
    * ONE driver-visible, hash-verified query: near-dedup survivors
    * (connected-component canonical policy) → PII redaction → quality
    * gate (per-language head+middle terciles; tail dropped) → the
    * REDACTED text exploded into overlapping context windows →
    * leakage-safe train/val/test split (the md5 bucket keys on the
    * DOCUMENT, so every window of a doc lands in the same split —
    * chunk-level splitting would leak overlapping windows across
    * train/test). Every stage reuses an individually-oracle-checked
    * fragment; the composed DuckDB CTE chain hash-checks the pipeline
    * end-to-end, exactly what `app.CorpusPipelineApp` would ship.
    */
  val trainingExamples = Q("q_training_examples",
    (s, dir) => {
      val canon = canonical(s, dir)
      val kept = Tables.read(s, dir, "documents")
        .join(canon.hint("shuffle_merge"), Seq("doc_id"), "left")
        .filter(coalesce(col("canonical_id"), col("doc_id")) === col("doc_id"))
      val stopArr = array(stopLits.map(lit): _*)
      val ratioMicro = floor(lit(1e6) *
        size(filter(wordsCol, w => array_contains(stopArr, w))).cast("double") /
        size(wordsCol)).cast("long")
      val wq = Window.partitionBy(col("lang")).orderBy(col("q").desc, col("doc_id"))
      val qual = kept
        .withColumn("__red", piiRedacted(piiPlanted))
        .withColumn("q", ratioMicro)
        .withColumn("__b", ntile(3).over(wq))
        .filter(col("__b") <= 2)
      val rws = TextOps.words(col("__red"))
      val extra = greatest(ceil((size(col("__ws")) - chunkW).cast("double") / chunkS),
        lit(0.0)).cast("long")
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      qual.withColumn("__ws", rws)
        .select(col("doc_id"), col("__ws"),
          explode(sequence(lit(0L), extra)).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          size(slice(col("__ws"), (col("chunk_idx") * chunkS + 1).cast("int"),
            lit(chunkW))).cast("long").as("n_chunk_tokens"),
          md5(concat_ws(" ", slice(col("__ws"),
            (col("chunk_idx") * chunkS + 1).cast("int"), lit(chunkW))))
            .as("chunk_hash"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
            .as("split"))
    },
    Some {
      val stops = "['the','a','and','of','to','in','is','on']"
      s"""WITH $pairsCtes,
         |${OracleCc.canonFromPairs(OracleCc.TextRounds)},
         |kept AS (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d
         |  LEFT JOIN canon c USING (doc_id)
         |  WHERE coalesce(c.canonical_id, d.doc_id) = d.doc_id),
         |red AS (SELECT doc_id, lang, text,
         |    ${piiRedactedSql(s"($piiPlantedSql)")} AS red
         |  FROM kept),
         |qv AS (SELECT doc_id, lang, red,
         |    CAST(floor(1e6 * len(list_filter($wordsSql, w -> list_contains($stops, w)))
         |      / CAST(len($wordsSql) AS DOUBLE)) AS BIGINT) AS q
         |  FROM red),
         |qb AS (SELECT doc_id, red FROM (
         |    SELECT doc_id, red,
         |      ntile(3) OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS b
         |    FROM qv) WHERE b <= 2),
         |wsx AS (SELECT doc_id, regexp_split_to_array(trim(red), '\\s+') AS ws FROM qb),
         |nx AS (SELECT doc_id, ws, len(ws) AS n FROM wsx),
         |cx AS (SELECT doc_id, ws,
         |    unnest(generate_series(0,
         |      CAST(greatest(ceil((n - $chunkW) / CAST($chunkS AS DOUBLE)), 0) AS BIGINT)))
         |      AS chunk_idx
         |  FROM nx)
         |SELECT doc_id, chunk_idx,
         |  CAST(len(ws[(chunk_idx * $chunkS + 1):(chunk_idx * $chunkS + $chunkW)]) AS BIGINT)
         |    AS n_chunk_tokens,
         |  md5(array_to_string(ws[(chunk_idx * $chunkS + 1):(chunk_idx * $chunkS + $chunkW)], ' '))
         |    AS chunk_hash,
         |  CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 80 THEN 'train'
         |       WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM cx""".stripMargin
    })

  /** Incremental dedup — the crawl-merge path
    * ([[graft.operators.IncrementalDedup]]): the corpus is split into a
    * persisted "yesterday" base (doc_id % 5 ≠ 0) and a fresh batch
    * (doc_id % 5 = 0); the base's canonical mapping is computed the
    * normal way, then the batch folds in via star edges + delta-only
    * bucket collisions — connected components run on the delta graph,
    * never the full corpus. The ORACLE IS THE FULL RECOMPUTE (the same
    * transitive-closure SQL as q_dedup_groups), so the hash-equality gate
    * proves incremental ≡ from-scratch.
    */
  val dedupIncremental = Q("q_dedup_incremental",
    (s, dir) => {
      val sig = artifacts(s, dir).signature
      val isNew = col("doc_id") % 5 === 0
      val baseBands = TextOps.lshBands(sig.filter(!isNew), "doc_id")
      val newBands = TextOps.lshBands(sig.filter(isNew), "doc_id")
      val baseCanon = graft.operators.ConnectedComponents.canonicalize(
        TextOps.candidatePairs(baseBands, "doc_id"))
      graft.operators.IncrementalDedup.mergeBatch(
        baseCanon, newBands, baseBands.union(newBands), "doc_id")
    },
    Some(s"""WITH $pairsCtes,
            |${OracleCc.canonFromPairs(OracleCc.TextRounds)}
            |SELECT doc_id, canonical_id FROM canon""".stripMargin))

  /** REAL image-header decode end-to-end: every document's bytes travel
    * inside a valid PNG container (signature + CRC-correct IHDR) whose
    * dimensions derive from the document's own fields, and the engine
    * recovers them by PARSING THE ACTUAL HEADER BYTES
    * ([[graft.multimodal.Multimodal.HeaderCodec]]) — no hash-derived
    * fakes in this path. The oracle recomputes the planted dims
    * closed-form from the raw table, so a parser that misreads offsets,
    * endianness, or channels goes hash-red.
    */
  val multimodalRealMeta = Q("q_multimodal_real_meta",
    (s, dir) => graft.multimodal.Multimodal.extractImageFeatures(
        graft.multimodal.Multimodal.mediaWithPlantedHeaders(s, dir))
      .toDF()
      .select(col("id"), col("width"), col("height"), col("channels"),
        col("n_bytes")),
    Some("""SELECT doc_id AS id,
           | CAST(n_chars % 1920 + 1 AS INT) AS width,
           | CAST(doc_id % 1080 + 1 AS INT) AS height,
           | CAST(3 AS INT) AS channels,
           | CAST(33 + octet_length(encode(text)) AS BIGINT) AS n_bytes
           |FROM documents""".stripMargin))

  /** The canonical near-dup mapping (doc_id → min-id group
    * representative): four consumers (groups, keep, assembly, report)
    * fan out from ONE connected-components run instead of re-propagating
    * labels each.
    */
  private[graft] val canonical = Artifact("text_canonical_groups") { (s, dir) =>
    graft.operators.ConnectedComponents
      .canonicalize(lshCandidates(s, dir)).localCheckpoint(true)
  }

  /** Dedup end-to-end: LSH candidate pairs → connected components → each
    * doc mapped to its canonical (minimum-id) group representative.
    * Oracle = transitive closure via recursive CTE.
    */
  val dedupGroups = Q("q_dedup_groups",
    (s, dir) => canonical(s, dir),
    Some(s"""WITH $pairsCtes,
            |${OracleCc.canonFromPairs(OracleCc.TextRounds)}
            |SELECT doc_id, canonical_id FROM canon""".stripMargin))

  /** The typed multimodal pipeline end-to-end (Dataset[MediaRow] →
    * mapPartitions stub decode → Dataset[ImageFeatures]); the stub codec
    * is md5-derived, so the whole path oracle-checks against closed-form
    * SQL on the raw table.
    */
  val multimodalFeatures = Q("q_multimodal_features",
    // stub-only: this query's oracle IS the stub's closed form, and a
    // text blob may legitimately start with an ASCII image signature
    (s, dir) => graft.multimodal.Multimodal.extractImageFeatures(
        graft.multimodal.Multimodal.mediaFromDocuments(s, dir),
        preferHeader = false)
      .toDF(),
    Some("""SELECT doc_id AS id,
           | CAST(('0x' || substring(md5(text), 1, 4))::BIGINT % 1920 AS INT) AS width,
           | CAST(('0x' || substring(md5(text), 5, 4))::BIGINT % 1080 AS INT) AS height,
           | 3 AS channels,
           | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           | ('0x' || substring(md5(text), 9, 2))::BIGINT / 256.0 AS brightness
           |FROM documents""".stripMargin))

  // ---------------------------------------------------------------------
  // Vocabulary building, TF-IDF, stratified sampling
  // ---------------------------------------------------------------------

  /** Corpus vocabulary by document frequency: top-20 words by the number
    * of documents containing them. One explode + two bounded-key
    * aggregations; the (word, df) space is vocabulary-sized, not
    * corpus-sized.
    */
  val vocabDf = Q("q_vocab_df",
    // distinct words per doc come off the native word-counts kernel
    // (map-side); only vocabulary-sized (word, df) pairs shuffle
    (s, dir) => Tables.read(s, dir, "documents")
      .select(col("doc_id"),
        explode(TextOps.wordCounts(col("text"))).as("wc"))
      .groupBy(col("wc.w").as("w")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("w")).limit(20),
    Some(s"""SELECT w, count(*) AS df
            |FROM (SELECT DISTINCT doc_id, unnest(list_distinct($wordsSql)) AS w FROM documents)
            |GROUP BY w ORDER BY df DESC, w LIMIT 20""".stripMargin))

  /** TF-IDF over the top-10-df vocabulary: tf = in-doc frequency, idf =
    * ln(N/df). Term frequency is per-document data, so the native
    * word-counts kernel computes it MAP-SIDE — the corpus-wide
    * (doc, word) shuffle is gone; only the vocabulary-sized
    * document-frequency aggregate and the scalar corpus size shuffle,
    * and both broadcast back onto the map-side tf stream.
    */
  val tfidf = Q("q_tfidf",
    (s, dir) => {
      val tfc = Tables.read(s, dir, "documents")
        .withColumn("__wc", TextOps.wordCounts(col("text")))
        .select(col("doc_id"),
          aggregate(col("__wc"), lit(0), (acc, x) => acc + x.getField("c")).as("nw"),
          explode(col("__wc")).as("wc"))
        .select(col("doc_id"), col("nw"), col("wc.w").as("w"), col("wc.c").as("c"))
        .localCheckpoint(true)
      val dfTop = tfc.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("w")).limit(10)
      val n = Tables.read(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      tfc.join(broadcast(dfTop), Seq("w"))
        .crossJoin(broadcast(n))
        .select(col("doc_id"), col("w"),
          round((col("c").cast("double") / col("nw"))
            * log(col("n_docs").cast("double") / col("df")), 6).as("tfidf"))
    },
    Some(s"""WITH tok AS (
            |  SELECT doc_id, len($wordsSql) AS nw, unnest($wordsSql) AS w FROM documents),
            |tf AS (SELECT doc_id, nw, w, count(*) AS c FROM tok GROUP BY doc_id, nw, w),
            |dftop AS (SELECT w, count(*) AS df FROM tf GROUP BY w ORDER BY df DESC, w LIMIT 10),
            |n AS (SELECT count(*) AS n_docs FROM documents)
            |SELECT tf.doc_id, tf.w,
            |  round((CAST(tf.c AS DOUBLE) / tf.nw) * ln(CAST(n.n_docs AS DOUBLE) / dftop.df), 6)
            |    AS tfidf
            |FROM tf JOIN dftop ON tf.w = dftop.w CROSS JOIN n""".stripMargin))

  /** Stratified (per-class) deterministic sampling: language-dependent
    * keep rates via the engine-portable md5 hash — reproducible
    * class-balanced subsetting with no shuffle at all.
    */
  val stratifiedSample = Q("q_stratified_sample",
    (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      val rate = when(col("lang") === "en", lit(30)).otherwise(lit(10))
      Tables.read(s, dir, "documents").filter(bucket < rate)
        .select(col("doc_id"), col("lang"))
    },
    Some("""SELECT doc_id, lang FROM documents
           |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100
           |      < CASE WHEN lang = 'en' THEN 30 ELSE 10 END""".stripMargin))

  // ---------------------------------------------------------------------
  // Repetition / composite quality gate / bag-of-words / Zipf / containment
  // ---------------------------------------------------------------------

  /** Word-bigram repetition ratio (Gopher-style quality signal): the
    * fraction of bigram occurrences that are repeats of an earlier bigram
    * in the same document. Map-side only — one array expression per doc.
    */
  private[graft] def bigramsFrom(ws: Column): Column =
    transform(sequence(lit(1), greatest(size(ws) - 1, lit(1))),
      i => concat_ws(" ", slice(ws, i, lit(2))))
  private val bigramsSql =
    s"""list_transform(generate_series(1, greatest(len($wordsSql) - 1, 1)),
       | i -> array_to_string(list_slice($wordsSql, i, i + 1), ' '))""".stripMargin

  val repetitionRatio = Q("q_repetition_ratio",
    (s, dir) =>
      // single-pass native kernel (≡ the HOF cascade, unit-tested); staged
      // so the struct materializes once and the ratio reads attribute refs
      Tables.read(s, dir, "documents")
        .withColumn("__bs", NativeTextFunctions.bigramStatsNative(col("text"), stopLits))
        .select(col("doc_id"),
          col("__bs.n_bigrams").cast("long").as("n_bigrams"),
          col("__bs.n_distinct_bigrams").cast("long").as("n_distinct_bigrams"))
        .select(col("doc_id"), col("n_bigrams"), col("n_distinct_bigrams"),
          round(lit(1.0) - col("n_distinct_bigrams").cast("double") / col("n_bigrams"), 6)
            .as("rep_ratio")),
    Some(s"""SELECT doc_id,
            | len($bigramsSql) AS n_bigrams,
            | len(list_distinct($bigramsSql)) AS n_distinct_bigrams,
            | round(1.0 - len(list_distinct($bigramsSql))
            |   / CAST(len($bigramsSql) AS DOUBLE), 6) AS rep_ratio
            |FROM documents""".stripMargin))

  /** Composite quality gate — the keep/drop decision of a training-data
    * pipeline with the first failing rule as the reason: length bounds,
    * stopword evidence, bigram repetition. One pass, no shuffle.
    */
  val qualityFilter = Q("q_quality_filter",
    (s, dir) => {
      // single-pass native kernel (≡ the HOF cascade, unit-tested); the
      // rule cascade then runs on cheap attribute references
      val counted = Tables.read(s, dir, "documents")
        .withColumn("__bs", NativeTextFunctions.bigramStatsNative(col("text"), stopLits))
        .select(col("doc_id"),
          col("__bs.n_words").as("__nw"),
          col("__bs.n_stop").as("__nstop"),
          col("__bs.n_bigrams").as("__nbg"),
          col("__bs.n_distinct_bigrams").as("__ndbg"))
      val reason = when(col("__nw") < 10, "too_short")
        .when(col("__nw") > 2000, "too_long")
        .when(col("__nstop").cast("double") / col("__nw") < 0.01, "low_stopword")
        .when(lit(1.0) - col("__ndbg").cast("double") / col("__nbg") > 0.8, "repetitive")
        .otherwise("ok")
      counted.select(col("doc_id"), reason.as("reason"))
        .select(col("doc_id"), col("reason"), (col("reason") === "ok").as("keep"))
    },
    Some(s"""SELECT doc_id, reason, reason = 'ok' AS keep FROM (
            |  SELECT doc_id,
            |    CASE WHEN len($wordsSql) < 10 THEN 'too_short'
            |         WHEN len($wordsSql) > 2000 THEN 'too_long'
            |         WHEN len(list_filter($wordsSql,
            |             w -> list_contains([${stopLits.map("'" + _ + "'").mkString(",")}], w)))
            |           / CAST(len($wordsSql) AS DOUBLE) < 0.01 THEN 'low_stopword'
            |         WHEN 1.0 - len(list_distinct($bigramsSql))
            |           / CAST(len($bigramsSql) AS DOUBLE) > 0.8 THEN 'repetitive'
            |         ELSE 'ok' END AS reason
            |  FROM documents)""".stripMargin))

  /** Bag-of-words fingerprint: md5 of the sorted distinct token set — an
    * order-insensitive exact-dedup key (catches shuffled duplicates that
    * byte-hash dedup misses).
    */
  val bowFingerprint = Q("q_bow_fingerprint",
    (s, dir) => {
      val ws = wordsCol
      Tables.read(s, dir, "documents").select(col("doc_id"),
        size(array_distinct(ws)).cast("long").as("n_distinct_words"),
        md5(concat_ws(" ", array_sort(array_distinct(ws)))).as("bow_hash"))
    },
    Some(s"""SELECT doc_id, len(list_distinct($wordsSql)) AS n_distinct_words,
            | md5(array_to_string(list_sort(list_distinct($wordsSql)), ' ')) AS bow_hash
            |FROM documents""".stripMargin))

  /** Corpus term-frequency ranking (Zipf view): top-50 words by total
    * occurrences. The window runs over the vocabulary-sized aggregate,
    * never the token stream.
    */
  val zipfRank = Q("q_zipf_rank",
    (s, dir) => {
      val counts = Tables.read(s, dir, "documents")
        .select(explode(wordsCol).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      // distributed top-50 first (per-partition top-N + driver merge —
      // never a global sort of the vocabulary); the rank window then runs
      // over just the 50 survivors
      val top = counts.orderBy(col("cnt").desc, col("w")).limit(50)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("w"))
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("w"), col("cnt"), col("rank"))
    },
    Some(s"""SELECT w, cnt, rank FROM (
            |  SELECT w, count(*) AS cnt,
            |    row_number() OVER (ORDER BY count(*) DESC, w) AS rank
            |  FROM (SELECT unnest($wordsSql) AS w FROM documents) GROUP BY w)
            |WHERE rank <= 50""".stripMargin))

  /** MinHash-estimated Jaccard over the LSH candidate pairs: the fraction
    * of matching signature components (8-permutation estimator) — the
    * cheap screen between candidate generation and the exact verify
    * stage. Two broadcast joins of the tiny signature table; no shingle
    * rescan.
    */
  val minhashJaccardEst = Q("q_minhash_jaccard_est",
    (s, dir) => {
      val P = TextOps.minhashPerms
      val sig = signatureDf(s, dir)
      val a = sig.select(col("doc_id").as("doc_a") +:
        (0 until P).map(i => col(s"mh$i").as(s"a$i")): _*)
      val b = sig.select(col("doc_id").as("doc_b") +:
        (0 until P).map(i => col(s"mh$i").as(s"b$i")): _*)
      // plain equi-joins: the signature table is corpus-sized (never
      // broadcast it); AQE broadcasts the candidate side when small
      lshCandidates(s, dir)
        .join(a, Seq("doc_a"))
        .join(b, Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          ((0 until P).map(i =>
            when(col(s"a$i") === col(s"b$i"), 1).otherwise(0): Column)
            .reduce(_ + _).cast("double") / P).as("jaccard_est"))
    },
    Some(s"""WITH $pairsCtes
            |SELECT p.doc_a, p.doc_b,
            |  ((${(0 until TextOps.minhashPerms).map(i =>
                  s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END").mkString("\n  + ")})
            |   / ${TextOps.minhashPerms}.0) AS jaccard_est
            |FROM pairs p JOIN sig a ON a.doc_id = p.doc_a
            |             JOIN sig b ON b.doc_id = p.doc_b""".stripMargin))

  /** Containment (|A∩B| / min(|A|,|B|)) over the LSH candidate pairs —
    * the asymmetric near-dup measure that catches subset documents
    * Jaccard under-scores. Shares the materialized shingle pipeline.
    */
  val containment = Q("q_containment",
    (s, dir) => {
      val a = artifacts(s, dir)
      TextOps.pairOverlap(a.shingles, "doc_id", a.candidates)
        .select(col("doc_a"), col("doc_b"),
          round(col("ni").cast("double") / least(col("na"), col("nb")), 6)
            .as("containment"))
    },
    Some(s"""WITH $pairsCtes,
            |$interCtes
            |SELECT i.doc_a, i.doc_b,
            |  round(CAST(i.ni AS DOUBLE) / least(i.na, i.nb), 6) AS containment
            |FROM inter i""".stripMargin))

  /** Benchmark decontamination — the screen a training-data pipeline runs
    * before shipping a corpus: flag documents sharing ≥ 3 distinct word
    * 3-gram shingles with any benchmark document (here: doc_id < 20
    * stands in for the held-out benchmark set). One shingle equi-join —
    * only (doc_id, shingle) pairs shuffle, the benchmark side is tiny
    * (AQE broadcasts it), and the overlap count is a bounded-key
    * aggregation. Reuses the session's materialized shingle pipeline.
    */
  val decontaminate = Q("q_decontaminate",
    (s, dir) => {
      val sh = artifacts(s, dir).shingles
      val bench = sh.filter(col("doc_id") < 20)
        .select(col("doc_id").as("bench_id"), col("sh"))
      val corpus = sh.filter(col("doc_id") >= 20)
      corpus.join(bench, Seq("sh"))
        .groupBy(col("doc_id"), col("bench_id"))
        .agg(count(lit(1)).as("n_shared"))
        .filter(col("n_shared") >= 3)
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh FROM documents),
            |b AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id < 20),
            |c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 20)
            |SELECT c.doc_id, b.bench_id, count(*) AS n_shared
            |FROM c JOIN b USING (sh) GROUP BY c.doc_id, b.bench_id
            |HAVING count(*) >= 3""".stripMargin))

  /** Bloom-filter decontamination — the shape the screen above takes at
    * 100 TB: the benchmark shingle set is folded into an m=4096-bit,
    * k=3 Bloom filter whose SET-BIT LIST (≤ 4096 longs, ~32 KB) travels
    * to every task as a plan literal, so the corpus-side membership test
    * is a pure map-side scan — no shuffle of corpus shingles against the
    * benchmark at all (`q_decontaminate`'s equi-join disappears). Bit
    * positions are md5 arithmetic (`md5("bloom<j>:" ++ sh)` first 8 hex
    * chars mod 4096), identical in Spark and DuckDB, so the filter — and
    * therefore every false positive it produces — is replicated exactly
    * by the oracle. The query is also the evaluation harness a real
    * pipeline needs before trusting the screen: per corpus doc it emits
    * bloom hits, exact hits, and the false-positive gap, and
    * `CorpusPipelineSpec` asserts the no-false-negative guarantee
    * (every exact hit IS a bloom hit) plus a sane corpus-wide FP rate.
    */
  val bloomDecontaminate = Q("q_bloom_decontaminate",
    (s, dir) => {
      val bloomJ = 0 until TextOps.bloomK
      def bitOf(c: Column, j: Int): Column = TextOps.bloomBit(c, j)
      val sh = artifacts(s, dir).shingles
      val bench = sh.filter(col("doc_id") < 20).select(col("sh")).distinct()
      // build: k bits per benchmark shingle, distinct → bounded ≤ m rows;
      // the collect IS the "broadcast the bloom" step (32 KB ceiling)
      val setBits = bench
        .select(explode(array(bloomJ.map(j => bitOf(col("sh"), j)): _*)).as("bit"))
        .distinct().collect().map(_.getLong(0)).sorted
      // packed m/64 bitmask literal: O(1) membership per hash instead of
      // a linear array_contains scan over the set-bit list
      val maskLit = lit(TextOps.packBits(setBits))
      val corpus = sh.filter(col("doc_id") >= 20)
      // probe: map-side only — each corpus shingle hashes k times and
      // tests the literal mask; the exact side exists purely to measure FP
      val probed = corpus.withColumn("bloom_hit",
          bloomJ.map(j => TextOps.maskTest(maskLit, bitOf(col("sh"), j)))
            .reduce(_ && _))
        .join(bench.withColumn("ex", lit(1)), Seq("sh"), "left")
      probed.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("bloom_hit"), 1L).otherwise(0L)).as("n_bloom_hits"),
          sum(when(col("ex").isNotNull, 1L).otherwise(0L)).as("n_exact_hits"),
          sum(when(col("bloom_hit") && col("ex").isNull, 1L).otherwise(0L))
            .as("n_false_pos"))
        .withColumn("flagged", col("n_bloom_hits") >= 3)
    },
    Some {
      def bitSql(shExpr: String, j: Int): String =
        s"CAST(('0x' || substring(md5('bloom$j:' || $shExpr), 1, 8))::BIGINT % 4096 AS BIGINT)"
      s"""WITH sh AS (
         |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh FROM documents),
         |b AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20),
         |bits AS (${(0 until 3).map(j =>
                s"SELECT DISTINCT ${bitSql("sh", j)} AS bit FROM b")
              .mkString(" UNION ")}),
         |c AS (SELECT doc_id, sh FROM sh WHERE doc_id >= 20),
         |probe AS (
         |  SELECT c.doc_id, c.sh,
         |    ${(0 until 3).map(j =>
                s"${bitSql("c.sh", j)} IN (SELECT bit FROM bits)")
              .mkString(" AND ")} AS bloom_hit,
         |    EXISTS (SELECT 1 FROM b WHERE b.sh = c.sh) AS ex
         |  FROM c)
         |SELECT doc_id, count(*) AS n_shingles,
         |  CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |  CAST(sum(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits,
         |  CAST(sum(CASE WHEN bloom_hit AND NOT ex THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
         |  sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) >= 3 AS flagged
         |FROM probe GROUP BY doc_id""".stripMargin
    })

  /** Duplicated-span fraction — the Gopher/Dolma dedup *signal* (as
    * opposed to the dedup *action*): per document, the fraction of its
    * distinct word 3-gram shingles that occur in at least one OTHER
    * document. High values mark boilerplate/templated docs even when no
    * single near-dup pair crosses the LSH bar.
    *
    * Scale shape: shingle document-frequency is one partial+final agg on
    * the shingle hash; the join back fans out one row per (doc, shingle)
    * — no pair explosion anywhere, unlike pairwise similarity. Reuses the
    * session's materialized shingle pipeline. The fraction is emitted in
    * floor-micro units (k/n rationals can land on .xxxxxx5 halves where
    * Spark HALF_UP and DuckDB rint disagree; floor of the identical
    * double is tie-free).
    */
  val dupSpanFraction = Q("q_dup_span_fraction",
    (s, dir) => {
      val sh = artifacts(s, dir).shingles
      val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      sh.join(dfreq, Seq("sh"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("df") >= 2, 1)).as("n_dup_shingles"))
        .select(col("doc_id"), col("n_shingles"), col("n_dup_shingles"),
          floor(lit(1e6) * col("n_dup_shingles").cast("double") / col("n_shingles"))
            .cast("long").as("dup_frac_micro"))
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh FROM documents),
            |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
            |SELECT s.doc_id, count(*) AS n_shingles,
            |  count(CASE WHEN d.df >= 2 THEN 1 END) AS n_dup_shingles,
            |  CAST(floor(1e6 * count(CASE WHEN d.df >= 2 THEN 1 END)
            |             / CAST(count(*) AS DOUBLE)) AS BIGINT) AS dup_frac_micro
            |FROM sh s JOIN dfreq d USING (sh) GROUP BY s.doc_id""".stripMargin))

  /** C4/RefinedWeb-style span-level dedup — the cleanup stage that
    * REWRITES documents rather than dropping them (dupSpanFraction is
    * the diagnostic; this is the action). The text is cut into
    * non-overlapping 8-token segments — the "line" granularity this
    * newline-free corpus supports — and a segment survives iff it is
    * the FIRST corpus-wide occurrence of its content (C4's rule: later
    * duplicates of any span are removed) AND its content appears in
    * fewer than 4 distinct documents (the boilerplate rule: ubiquitous
    * lines — headers, footers, license banners — are removed even at
    * their first occurrence). Each doc's surviving segments are
    * re-joined in order; output is the rewritten text's md5 + length so
    * an off-by-one in segmentation, ordering, or the keep rule goes
    * hash-red.
    *
    * "First occurrence" is the lexicographic min of (doc_id, seg_idx),
    * encoded as one BIGINT `doc_id * 100000 + g` so both engines take a
    * plain min() (seg_idx < 100000 at any plausible doc length; a
    * production run on unbounded ids would min a struct instead).
    *
    * Scale shape: segment census = one groupBy on the segment hash with
    * map-side partial min/partial-distinct (no window — a window over a
    * hot boilerplate hash would put every occurrence of "click here to
    * subscribe" in ONE task; min-agg + join back keeps it partially
    * aggregable), then one equi-join back (SHUFFLE_MERGE-pinned: the
    * census has one row per DISTINCT segment, corpus-scale at 100 TB,
    * never broadcastable; AQE skew-split handles hot hashes), then one
    * doc_id regroup — the only shuffle that moves text.
    */
  /** The q_line_dedup derivation over an arbitrary (doc_id, text)
    * corpus — shared with the boilerplate-hot-key probe in
    * `app.TextScaleBench --boiler`, which plants one segment in N docs
    * and measures that the census agg and join stay straggler-free.
    */
  private[graft] def lineDedupOver(docsDf: DataFrame): DataFrame = {
    val W = 8
    val segs = docsDf
      .withColumn("__ws", wordsCol)
      .withColumn("g", explode(sequence(lit(0),
        ((size(col("__ws")) + lit(W - 1)) / lit(W)).cast("int") - 1)))
      .select(col("doc_id"), col("g"),
        concat_ws(" ", slice(col("__ws"), col("g") * W + 1, lit(W))).as("seg"))
      .withColumn("h", md5(col("seg")))
      .withColumn("pos", col("doc_id") * lit(100000L) + col("g"))
    // Salted two-phase census: doc_id % 64 classes partition the doc
    // space disjointly, so per-salt distinct counts SUM to the exact
    // distinct total — a boilerplate hash occurring in 100M docs lands
    // 64 reducer keys of ≤ n/64 rows instead of one n-row straggler
    // (measured: 1M planted, max task 6.4 s → 2.6 s), and the final
    // per-h group is ≤ 64 rows.
    val census = segs
      .groupBy(col("h"), pmod(col("doc_id"), lit(64)).as("__salt"))
      .agg(min(col("pos")).as("p"), countDistinct(col("doc_id")).as("c"))
      .groupBy(col("h"))
      .agg(min(col("p")).as("min_pos"), sum(col("c")).as("df"))
    segs.join(census.hint("shuffle_merge"), Seq("h"))
      .withColumn("keep", col("pos") === col("min_pos") && col("df") < 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        count(when(col("keep"), 1)).as("n_kept"),
        sort_array(collect_list(when(col("keep"),
          struct(col("g"), col("seg"))))).as("__ks"))
      .withColumn("__clean",
        concat_ws(" ", transform(col("__ks"), x => x.getField("seg"))))
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(col("__clean")).as("clean_h"),
        length(col("__clean")).cast("long").as("n_chars_clean"))
  }

  val lineDedup = Q("q_line_dedup",
    (s, dir) => lineDedupOver(Tables.read(s, dir, "documents")),
    Some(s"""WITH ws AS (SELECT doc_id, $wordsSql AS ws FROM documents),
            |segs AS (
            |  SELECT doc_id, g,
            |    array_to_string(list_slice(ws, g * 8 + 1, g * 8 + 8), ' ') AS seg
            |  FROM (SELECT doc_id, ws,
            |          unnest(generate_series(0, (len(ws) + 7) // 8 - 1)) AS g
            |        FROM ws)),
            |pos AS (SELECT doc_id, g, seg, md5(seg) AS h,
            |          doc_id * 100000 + g AS pos FROM segs),
            |census AS (SELECT h, min(pos) AS min_pos,
            |             count(DISTINCT doc_id) AS df FROM pos GROUP BY h),
            |k AS (SELECT p.doc_id, p.g, p.seg,
            |        (p.pos = c.min_pos AND c.df < 4) AS keep
            |      FROM pos p JOIN census c USING (h))
            |SELECT doc_id, count(*) AS n_segs,
            |  count(CASE WHEN keep THEN 1 END) AS n_kept,
            |  md5(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY g), ''))
            |    AS clean_h,
            |  CAST(length(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY g), ''))
            |    AS BIGINT) AS n_chars_clean
            |FROM k GROUP BY doc_id""".stripMargin))

  /** EXACT arbitrary-length duplicated-substring detection (the Lee et
    * al. 2022 "Deduplicating Training Data" family) — closes the round-9
    * gap that q_line_dedup's FIXED 8-token aligned segments cannot see a
    * duplicated span that starts mid-segment: a 50-token run shared by
    * two docs at offsets 3 and 5 crosses every alignment boundary
    * differently in each doc, so no aligned segment repeats and segment
    * dedup keeps all of it (OperatorsSpec plants exactly that case).
    *
    * Method: the suffix-array equivalence on bounded windows — a span of
    * length ≥ L is duplicated iff EVERY one of its sliding L-token grams
    * is duplicated, and a token position lies in some duplicated span of
    * length ≥ L iff at least one duplicated L-gram covers it. So: emit
    * all stride-1 L-grams (map-side explode), census by gram content
    * (count ≥ 2 anywhere — cross-doc or a repeat within one doc), join
    * back, and merge overlapping surviving windows per doc into maximal
    * spans (gaps-and-islands: a window extends the current span iff its
    * start is within L of the previous start).
    *
    * Scale shape: grams are corpus-linear (one per token position, like
    * shingles); the census is a plain count groupBy — fully map-side
    * partial-aggregable, no distinct, no window over the hash (a hot
    * boilerplate gram partial-aggregates instead of single-tasking); the
    * join back is SHUFFLE_MERGE (census is corpus-scale, never
    * broadcastable); the islands window partitions by doc_id, so its
    * state is one doc's windows, bounded by doc length.
    */
  private val SubL = 20 // minimum duplicated-span length in tokens

  private[graft] def substringDedupOver(docsDf: DataFrame, L: Int): DataFrame = {
    val ws = docsDf.withColumn("__ws", wordsCol)
      .select(col("doc_id"), col("__ws"),
        size(col("__ws")).as("n_tokens"))
    val grams = ws.filter(col("n_tokens") >= L)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), col("n_tokens") - L),
        i => struct(i.as("i"),
          md5(concat_ws(" ", slice(col("__ws"), i + 1, lit(L)))).as("h"))))
        .as("g"))
      .select(col("doc_id"), col("g.i").as("i"), col("g.h").as("h"))
    val census = grams.groupBy(col("h")).agg(count(lit(1)).as("c"))
    val dup = grams.join(census.hint("shuffle_merge"), Seq("h"))
      .filter(col("c") >= 2).select(col("doc_id"), col("i"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("i"))
    val spans = dup
      .withColumn("brk",
        when(lag(col("i"), 1).over(w).isNull ||
          col("i") - lag(col("i"), 1).over(w) > L, 1).otherwise(0))
      .withColumn("span_id", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("span_id"))
      .agg((max(col("i")) - min(col("i")) + L).as("cover"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"), sum(col("cover")).as("n_dup_tokens"))
    ws.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_tokens"), lit(0L)).cast("long").as("n_dup_tokens"),
        when(col("n_tokens") > 0,
          floor(lit(1e6) * coalesce(col("n_dup_tokens"), lit(0L)).cast("double")
            / col("n_tokens").cast("double")))
          .otherwise(lit(0)).cast("long").as("dup_frac_micro"))
  }

  val substringDedup = Q("q_substring_dedup",
    (s, dir) => substringDedupOver(docsFanned(s, dir), SubL),
    Some(s"""WITH base AS (
            |  SELECT doc_id, $wordsSql AS ws, len($wordsSql) AS n_tokens
            |  FROM documents),
            |grams AS (
            |  SELECT doc_id, i,
            |    md5(array_to_string(list_slice(ws, i + 1, i + $SubL), ' ')) AS h
            |  FROM (SELECT doc_id, ws,
            |          unnest(generate_series(0, n_tokens - $SubL)) AS i
            |        FROM base WHERE n_tokens >= $SubL)),
            |census AS (SELECT h, count(*) AS c FROM grams GROUP BY h),
            |dup AS (SELECT doc_id, i FROM grams JOIN census USING (h) WHERE c >= 2),
            |flagged AS (
            |  SELECT doc_id, i,
            |    CASE WHEN lag(i) OVER w IS NULL OR i - lag(i) OVER w > $SubL
            |      THEN 1 ELSE 0 END AS brk
            |  FROM dup WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
            |islands AS (
            |  SELECT doc_id, i,
            |    sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS span_id
            |  FROM flagged),
            |spans AS (
            |  SELECT doc_id, span_id, max(i) - min(i) + $SubL AS cover
            |  FROM islands GROUP BY doc_id, span_id),
            |perdoc AS (
            |  SELECT doc_id, count(*) AS n_spans, sum(cover) AS n_dup_tokens
            |  FROM spans GROUP BY doc_id)
            |SELECT b.doc_id, CAST(b.n_tokens AS BIGINT) AS n_tokens,
            |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
            |  CAST(coalesce(n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
            |  CAST(CASE WHEN b.n_tokens > 0
            |    THEN floor(1e6 * CAST(coalesce(n_dup_tokens, 0) AS DOUBLE)
            |               / CAST(b.n_tokens AS DOUBLE))
            |    ELSE 0 END AS BIGINT) AS dup_frac_micro
            |FROM base b LEFT JOIN perdoc USING (doc_id)""".stripMargin))

  /** Per-document mean conditional bigram probability under the corpus
    * MLE bigram model — a KenLM-style predictability/quality score
    * computed with no external model: P(w2|w1) = c(w1 w2) / c(w1 ·) over
    * corpus bigram occurrences; a doc full of common transitions scores
    * high, word-salad scores low.
    *
    * Determinism across engines: each per-occurrence probability is an
    * exact integer ratio (identical double on both engines), floored to
    * integer micro-units BEFORE summation — BIGINT sums are
    * order-independent, so the result is bit-stable under any partitioning
    * (a double sum would differ in the last ulp between engines/orders).
    *
    * Scale shape: the occurrence stream shuffles once per count table
    * (bigram-keyed, first-word-keyed — both bounded by vocabulary², with
    * map-side partial aggregation), then two equi-joins back onto the
    * stream; AQE broadcasts the count sides when small.
    */
  val bigramPredictability = Q("q_bigram_predictability",
    (s, dir) => {
      val occ = Tables.read(s, dir, "documents")
        .withColumn("__ws", wordsCol)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), greatest(size(col("__ws")) - 1, lit(1))),
            i => struct(
              try_element_at(col("__ws"), i).as("w1"),
              concat_ws(" ", slice(col("__ws"), i, lit(2))).as("bg")))).as("o"))
        .select(col("doc_id"), col("o.w1").as("w1"), col("o.bg").as("bg"))
        .localCheckpoint(true)
      val cBg = occ.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      val cW1 = occ.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      occ.join(cBg, Seq("bg")).join(cW1, Seq("w1"))
        .withColumn("__micro",
          floor(lit(1e6) * col("c12").cast("double") / col("c1")).cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("__micro")).as("sum_micro"))
        .select(col("doc_id"), col("n_bigrams"), col("sum_micro"),
          floor(col("sum_micro").cast("double") / col("n_bigrams"))
            .cast("long").as("pred_micro"))
    },
    Some(s"""WITH occ AS (
            |  SELECT doc_id, ws[i] AS w1,
            |    array_to_string(list_slice(ws, i, i + 1), ' ') AS bg
            |  FROM (SELECT doc_id, ws,
            |          unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS i
            |        FROM (SELECT doc_id, $wordsSql AS ws FROM documents))),
            |cbg AS (SELECT bg, count(*) AS c12 FROM occ GROUP BY bg),
            |cw1 AS (SELECT w1, count(*) AS c1 FROM occ GROUP BY w1)
            |SELECT o.doc_id, count(*) AS n_bigrams,
            |  CAST(sum(CAST(floor(1e6 * (cbg.c12 / CAST(cw1.c1 AS DOUBLE))) AS BIGINT)) AS BIGINT)
            |    AS sum_micro,
            |  CAST(floor(CAST(sum(CAST(floor(1e6 * (cbg.c12 / CAST(cw1.c1 AS DOUBLE))) AS BIGINT)) AS DOUBLE)
            |             / count(*)) AS BIGINT) AS pred_micro
            |FROM occ o JOIN cbg USING (bg) JOIN cw1 USING (w1)
            |GROUP BY o.doc_id""".stripMargin))

  /** CCNet-style perplexity filtering — the quality screen that trains a
    * cheap LM on a REFERENCE corpus and ranks candidate documents by
    * held-out negative log-likelihood: here a bigram model with add-one
    * smoothing is counted on the 90% train split (doc_id % 10 ≠ 0) and
    * every held-out document is scored `−avg ln p(w2|w1)`; high scores
    * (surprising text) are what the real pipeline drops or down-buckets.
    * Differs from `q_bigram_predictability` in exactly the ways the
    * production filter needs: disjoint train/score corpora, LOG-space
    * scoring, and smoothing so UNSEEN bigrams/contexts (left joins, not
    * inner) get finite mass `(c12+1)/(c1+V)` instead of vanishing.
    *
    * Determinism: each occurrence's −ln p is an exact-rational double
    * (identical in both engines), floored to micro BEFORE the per-doc
    * BIGINT sum — order-independent under any partitioning. Scale: two
    * vocabulary²-bounded count tables from one train-split pass, joined
    * back onto the held-out occurrence stream (AQE broadcasts them when
    * small); everything else is map-side.
    */
  val docPerplexity = Q("q_doc_perplexity",
    (s, dir) => {
      val occ = Tables.read(s, dir, "documents")
        .withColumn("__ws", wordsCol)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), greatest(size(col("__ws")) - 1, lit(1))),
            i => struct(
              try_element_at(col("__ws"), i).as("w1"),
              concat_ws(" ", slice(col("__ws"), i, lit(2))).as("bg")))).as("o"))
        .select(col("doc_id"), col("o.w1").as("w1"), col("o.bg").as("bg"))
        .localCheckpoint(true)
      val train = occ.filter(col("doc_id") % 10 =!= 0)
      val cBg = train.groupBy(col("bg")).agg(count(lit(1)).as("c12"))
      val cW1 = train.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
      val v = train.select(col("w1")).distinct()
        .agg(count(lit(1)).as("v_size"))
      occ.filter(col("doc_id") % 10 === 0)
        .join(cBg, Seq("bg"), "left")
        .join(cW1, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .withColumn("__nll_micro", floor(lit(-1e6) * log(
          (coalesce(col("c12"), lit(0L)) + 1).cast("double")
            / (coalesce(col("c1"), lit(0L)) + col("v_size")).cast("double")))
          .cast("long"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("__nll_micro")).as("nll_micro"))
        .select(col("doc_id"), col("n_bigrams"),
          floor(col("nll_micro").cast("double") / col("n_bigrams"))
            .cast("long").as("avg_nll_micro"))
    },
    Some(s"""WITH occ AS (
            |  SELECT doc_id, ws[i] AS w1,
            |    array_to_string(list_slice(ws, i, i + 1), ' ') AS bg
            |  FROM (SELECT doc_id, ws,
            |          unnest(generate_series(1, greatest(len(ws) - 1, 1))) AS i
            |        FROM (SELECT doc_id, $wordsSql AS ws FROM documents))),
            |train AS (SELECT * FROM occ WHERE doc_id % 10 <> 0),
            |cbg AS (SELECT bg, count(*) AS c12 FROM train GROUP BY bg),
            |cw1 AS (SELECT w1, count(*) AS c1 FROM train GROUP BY w1),
            |v AS (SELECT count(DISTINCT w1) AS v_size FROM train)
            |SELECT o.doc_id, count(*) AS n_bigrams,
            |  CAST(floor(CAST(sum(CAST(floor(-1e6 * ln(
            |      (coalesce(cbg.c12, 0) + 1)
            |        / CAST(coalesce(cw1.c1, 0) + v.v_size AS DOUBLE))) AS BIGINT))
            |    AS DOUBLE) / count(*)) AS BIGINT) AS avg_nll_micro
            |FROM occ o
            |LEFT JOIN cbg USING (bg) LEFT JOIN cw1 USING (w1) CROSS JOIN v
            |WHERE o.doc_id % 10 = 0
            |GROUP BY o.doc_id""".stripMargin))

  /** Length-bucketed batching audit — the padding-waste accounting that
    * decides a training pipeline's bucket boundaries: documents grouped
    * into power-of-two token-length buckets (the ladder a bucketed
    * batcher pads to), per bucket the doc count, real token mass, padded
    * mass (n_docs × bucket width) and the padding-waste fraction in
    * micro. The ladder is a literal CASE (no float log2 — engine-exact);
    * one map-side projection + a ≤ |ladder|-key aggregate, so the audit
    * is free at any corpus size.
    */
  val lengthBuckets = Q("q_length_buckets",
    (s, dir) => {
      val n = size(wordsCol)
      val bucket = when(n <= 16, 16L).when(n <= 32, 32L)
        .when(n <= 64, 64L).otherwise(128L)
      Tables.read(s, dir, "documents")
        .select(bucket.as("bucket_len"), n.cast("long").as("n_tokens"))
        .groupBy(col("bucket_len"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("real_tokens"))
        .withColumn("padded_tokens", col("n_docs") * col("bucket_len"))
        .withColumn("waste_micro",
          floor(lit(1e6) * (col("padded_tokens") - col("real_tokens"))
            / col("padded_tokens")).cast("long"))
    },
    Some(s"""SELECT bucket_len, count(*) AS n_docs,
            |  CAST(sum(n_tokens) AS BIGINT) AS real_tokens,
            |  CAST(count(*) * bucket_len AS BIGINT) AS padded_tokens,
            |  CAST(floor(1e6 * (count(*) * bucket_len - sum(n_tokens))
            |       / CAST(count(*) * bucket_len AS DOUBLE)) AS BIGINT) AS waste_micro
            |FROM (
            |  SELECT CASE WHEN n <= 16 THEN 16 WHEN n <= 32 THEN 32
            |              WHEN n <= 64 THEN 64 ELSE 128 END AS bucket_len,
            |         n AS n_tokens
            |  FROM (SELECT len($wordsSql) AS n FROM documents))
            |GROUP BY bucket_len""".stripMargin))

  /** Population-stability-index drift between corpus splits — the
    * train/serve-skew tripwire: n_chars binned on a fixed grid, per-bin
    * Laplace-smoothed shares p (train) vs q (val, test), and the PSI
    * contribution (p−q)·ln(p/q) per bin in micro. Shares are exact
    * rationals → identical doubles → identical ln in both engines, and
    * the per-bin micro terms are integers, so the full PSI is an
    * order-proof integer sum downstream. One corpus pass onto a
    * |splits|×|bins| grid; everything after is grid-sized.
    */
  val psiDrift = Q("q_psi_drift",
    (s, dir) => {
      val split = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10
      val sName = when(split < 8, "train").when(split === 8, "val").otherwise("test")
      val bin = least(floor(col("n_chars") / 100), lit(5)).cast("long")
      val grid = Tables.read(s, dir, "documents")
        .select(sName.as("split"), bin.as("bin"))
        .groupBy(col("split"), col("bin")).agg(count(lit(1)).as("c"))
      // densify: every (split, bin) cell so zero bins still contribute
      val bins = s.range(0, 6).select(col("id").as("bin"))
      val cells = grid.select(col("split")).distinct().crossJoin(broadcast(bins))
      val dens = cells.join(grid, Seq("split", "bin"), "left")
        .select(col("split"), col("bin"), coalesce(col("c"), lit(0L)).as("c"))
      val tot = dens.groupBy(col("split")).agg(sum(col("c")).as("n"))
      val sh = dens.join(broadcast(tot), Seq("split"))
        .select(col("split"), col("bin"),
          ((col("c") + 1).cast("double") / (col("n") + 6).cast("double")).as("p"))
      val tr = sh.filter(col("split") === "train")
        .select(col("bin"), col("p").as("pt"))
      sh.filter(col("split") =!= "train")
        .join(broadcast(tr), Seq("bin"))
        .select(col("split"), col("bin"),
          floor(lit(1e6) * (col("pt") - col("p")) * log(col("pt") / col("p")))
            .cast("long").as("psi_term_micro"))
    },
    Some("""WITH d AS (
           |  SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
           |              ELSE 'test' END AS split,
           |         least(CAST(floor(n_chars / 100) AS BIGINT), 5) AS bin
           |  FROM (SELECT n_chars,
           |          ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 10 AS b
           |        FROM documents)),
           |grid AS (SELECT split, bin, count(*) AS c FROM d GROUP BY 1, 2),
           |cells AS (SELECT s.split, b.bin
           |          FROM (SELECT DISTINCT split FROM grid) s,
           |               (SELECT unnest(generate_series(0, 5)) AS bin) b),
           |dens AS (SELECT c.split, c.bin, coalesce(g.c, 0) AS c
           |         FROM cells c LEFT JOIN grid g USING (split, bin)),
           |tot AS (SELECT split, sum(c) AS n FROM dens GROUP BY split),
           |sh AS (SELECT d.split, d.bin,
           |         (d.c + 1) / CAST(t.n + 6 AS DOUBLE) AS p
           |       FROM dens d JOIN tot t USING (split)),
           |tr AS (SELECT bin, p AS pt FROM sh WHERE split = 'train')
           |SELECT s.split, s.bin,
           |  CAST(floor(1e6 * (tr.pt - s.p) * ln(tr.pt / s.p)) AS BIGINT)
           |    AS psi_term_micro
           |FROM sh s JOIN tr USING (bin) WHERE s.split <> 'train'""".stripMargin))

  /** Sequence packing: assign documents to fixed-token-budget training
    * shards by running token count — per-language, in doc_id order, a
    * doc opens a new shard when the running total would exceed the
    * budget-aligned boundary. Partitioned by lang, so packing
    * parallelizes across languages (a global pack would serialize on one
    * partition at scale); within a language the running sum is one
    * window over the partition.
    */
  val packSequences = Q("q_pack_sequences",
    (s, dir) => {
      val budget = 512
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      Tables.read(s, dir, "documents")
        .withColumn("__nt", size(wordsCol).cast("long"))
        .select(col("doc_id"), col("lang"), col("__nt").as("n_tokens"),
          sum(col("__nt")).over(w).as("cum_tokens"))
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          floor((col("cum_tokens") - col("n_tokens")) / budget).as("shard"))
    },
    Some(s"""SELECT doc_id, lang, n_tokens,
            | CAST(floor((cum_tokens - n_tokens) / 512) AS BIGINT) AS shard
            |FROM (
            |  SELECT doc_id, lang, len($wordsSql) AS n_tokens,
            |    sum(len($wordsSql)) OVER (PARTITION BY lang ORDER BY doc_id
            |                              ROWS UNBOUNDED PRECEDING) AS cum_tokens
            |  FROM documents)""".stripMargin))

  /** Per-group cap — corpus rebalancing: keep at most 50 docs per
    * language, chosen by md5 rank (a deterministic uniform draw, not an
    * id-prefix bias). The rank ≤ 50 filter over a partitioned window is
    * the Spark-4 scale shape: the optimizer inserts WindowGroupLimit
    * (plan-pinned), so each map task keeps only its local top-50 per
    * group BEFORE the shuffle — the exchange carries ≤ 50·groups·tasks
    * rows, not the corpus.
    */
  val groupCap = Q("q_group_cap",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      Tables.read(s, dir, "documents")
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 50)
        .select(col("doc_id"), col("lang"), col("rk"))
    },
    Some("""SELECT doc_id, lang, rk FROM (
           |  SELECT doc_id, lang,
           |    row_number() OVER (PARTITION BY lang
           |                       ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
           |  FROM documents) WHERE rk <= 50""".stripMargin))

  /** Deterministic train/val/test split: the md5 bucket of the doc id
    * maps to 80/10/10 ranges — reproducible on any engine, any
    * partitioning, no shuffle, stable under corpus growth (a doc's split
    * never changes as others arrive).
    */
  val trainSplit = Q("q_train_split",
    (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      Tables.read(s, dir, "documents").select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
    },
    Some("""SELECT doc_id,
           | CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |FROM (SELECT doc_id,
           |        ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
           |      FROM documents)""".stripMargin))

  /** Deterministic epoch shuffle + shard assignment — how a training
    * run ORDERS the corpus: each epoch permutes documents by
    * md5(epoch|doc_id) and routes them to one of 16 shards by the same
    * key, so every worker can recompute the exact byte order of any
    * shard of any epoch from the seed alone (no stored permutation, no
    * coordination). Emitted per (epoch, doc) for two epochs: the shard
    * and the hex order key; sorting a shard by `ord` IS the serving
    * order, and the same doc lands in different (shard, position) each
    * epoch.
    *
    * Deliberately NO per-shard row_number: a rank window partitioned by
    * shard would put corpus/16 rows in one task at 100 TB. Order is
    * carried by the key; `PartitionedSink.writeEpochShards` materializes
    * it via repartition + sortWithinPartitions (tested in
    * OperatorsSpec), which is the actual production write path. The
    * query itself is one map-side projection — zero shuffle,
    * plan-pinned.
    */
  val epochShuffle = Q("q_epoch_shuffle",
    (s, dir) => Tables.read(s, dir, "documents")
      .select(col("doc_id"), explode(sequence(lit(0), lit(1))).as("epoch"))
      .withColumn("__h", md5(concat(col("epoch").cast("string"), lit("|"),
        col("doc_id").cast("string"))))
      .select(col("epoch"), col("doc_id"),
        (conv(substring(col("__h"), 1, 4), 16, 10).cast("long") % 16).as("shard"),
        col("__h").as("ord")),
    Some("""SELECT e.epoch, d.doc_id,
           |  ('0x' || substring(md5(e.epoch::VARCHAR || '|' || d.doc_id::VARCHAR), 1, 4))::BIGINT
           |    % 16 AS shard,
           |  md5(e.epoch::VARCHAR || '|' || d.doc_id::VARCHAR) AS ord
           |FROM documents d
           |CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS epoch) e""".stripMargin))

  /** Train/test split-leakage audit — the eval-hygiene check after
    * splitting: near-dup candidate pairs that STRADDLE the deterministic
    * md5-bucket split (a test doc with a near-duplicate in train
    * silently inflates eval scores). Each leaked pair is viewed from
    * both sides, grouped by (own split, other split): the (test, train)
    * row reads directly as "test docs with a near-dup in train"
    * (n_docs) and how many such pairs touch them (n_pairs).
    *
    * Scale shape: the split table is a map-side projection of the doc
    * scan; both joins onto the candidate-pair stream are pinned
    * SHUFFLE_MERGE — the pair table derives from checkpointed LSH
    * artifacts (planner size guesses) and the split table is
    * corpus-scale, so neither side may statically broadcast. The final
    * group is over a ≤ |splits|² key space.
    */
  val splitLeakage = Q("q_split_leakage",
    (s, dir) => {
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      val splits = Tables.read(s, dir, "documents").select(col("doc_id"),
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
          .as("split"))
      val leaked = lshCandidates(s, dir)
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a"))
          .hint("shuffle_merge"), Seq("doc_a"))
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b"))
          .hint("shuffle_merge"), Seq("doc_b"))
        .filter(col("split_a") =!= col("split_b"))
      leaked.select(col("doc_a").as("doc_id"),
          col("split_a").as("split"), col("split_b").as("other_split"))
        .unionAll(leaked.select(col("doc_b").as("doc_id"),
          col("split_b").as("split"), col("split_a").as("other_split")))
        .groupBy(col("split"), col("other_split"))
        .agg(count(lit(1)).as("n_pairs"), countDistinct(col("doc_id")).as("n_docs"))
    },
    Some(s"""WITH $pairsCtes,
            |sp AS (
            |  SELECT doc_id,
            |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            |  FROM (SELECT doc_id,
            |          ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
            |        FROM documents)),
            |leaked AS (
            |  SELECT p.doc_a, p.doc_b, sa.split AS split_a, sb.split AS split_b
            |  FROM pairs p
            |  JOIN sp sa ON p.doc_a = sa.doc_id
            |  JOIN sp sb ON p.doc_b = sb.doc_id
            |  WHERE sa.split <> sb.split),
            |sided AS (
            |  SELECT doc_a AS doc_id, split_a AS split, split_b AS other_split FROM leaked
            |  UNION ALL
            |  SELECT doc_b, split_b, split_a FROM leaked)
            |SELECT split, other_split, count(*) AS n_pairs,
            |  count(DISTINCT doc_id) AS n_docs
            |FROM sided GROUP BY split, other_split""".stripMargin))

  /** The dedup *action* (dedupGroups is the analysis): the corpus that
    * survives near-dedup. Every doc maps to its connected-component
    * canonical (itself when it has no near-dup), and `kept` marks the
    * one survivor per group — the min doc_id, the usual "keep the
    * earliest crawl" policy. Downstream stages filter on kept=1.
    *
    * Scale shape: the component table is |docs in any near-dup group|
    * rows — often small, but a heavily-duplicated web crawl can put a
    * large fraction of the corpus in it, and it is a checkpointed
    * LogicalRDD whose size the planner can only guess, so the join is
    * pinned SHUFFLE_MERGE (the corpus×corpus-safe strategy) rather than
    * broadcast.
    */
  val nearDedupKeep = Q("q_near_dedup_keep",
    (s, dir) => {
      val canon = canonical(s, dir)
      Tables.read(s, dir, "documents").select(col("doc_id"))
        .join(canon.hint("shuffle_merge"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("canonical_id"), col("doc_id")).as("canonical_id"),
          (coalesce(col("canonical_id"), col("doc_id")) === col("doc_id"))
            .cast("long").as("kept"))
    },
    Some(s"""WITH $pairsCtes,
            |${OracleCc.canonFromPairs(OracleCc.TextRounds)}
            |SELECT d.doc_id,
            |  coalesce(c.canonical_id, d.doc_id) AS canonical_id,
            |  CAST(CASE WHEN coalesce(c.canonical_id, d.doc_id) = d.doc_id
            |       THEN 1 ELSE 0 END AS BIGINT) AS kept
            |FROM documents d LEFT JOIN canon c USING (doc_id)""".stripMargin))

  /** Cross-source contamination matrix: pairwise shingle-set Jaccard
    * between sources — how much two crawls/dumps overlap before they are
    * mixed into one training corpus. Source-level distinct shingle sets
    * via one dedup of the shared shingle stream; the pair join fans a
    * shingle out only to the sources containing it (≤ |sources| rows
    * each), and the aggregate key space is |sources|² — bounded, so the
    * whole query is safe at any corpus size.
    */
  val sourceOverlap = Q("q_source_overlap",
    (s, dir) => {
      val srcSh = artifacts(s, dir).shingles
        .join(Tables.read(s, dir, "documents").select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), col("sh")).distinct()
      val counts = srcSh.groupBy(col("source")).agg(count(lit(1)).as("n"))
      // srcSh derives from the localCheckpointed shingle artifact whose
      // LogicalRDD stats are pre-checkpoint guesses — pin SHUFFLE_MERGE on
      // both sides (same hazard pairOverlap fixed after the 100× probe: a
      // statically-planned broadcast of a corpus-scale table is driver OOM)
      srcSh.hint("shuffle_merge").as("a")
        .join(srcSh.hint("shuffle_merge").as("b"),
          col("a.sh") === col("b.sh") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .join(broadcast(counts.select(col("source").as("src_a"), col("n").as("na"))), Seq("src_a"))
        .join(broadcast(counts.select(col("source").as("src_b"), col("n").as("nb"))), Seq("src_b"))
        .select(col("src_a"), col("src_b"), col("n_shared"),
          floor(lit(1e6) * col("n_shared").cast("double")
            / (col("na") + col("nb") - col("n_shared")))
            .cast("long").as("jaccard_micro"))
    },
    Some(s"""WITH sh AS (
            |  SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh FROM documents),
            |ss AS (SELECT DISTINCT d.source, s.sh FROM sh s JOIN documents d USING (doc_id)),
            |n AS (SELECT source, count(*) AS n FROM ss GROUP BY source),
            |i AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
            |      FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
            |      GROUP BY a.source, b.source)
            |SELECT i.src_a, i.src_b, i.n_shared,
            |  CAST(floor(1e6 * i.n_shared / CAST(na.n + nb.n - i.n_shared AS DOUBLE)) AS BIGINT)
            |    AS jaccard_micro
            |FROM i JOIN n na ON na.source = i.src_a
            |       JOIN n nb ON nb.source = i.src_b""".stripMargin))

  /** HOW DIFFERENT sources read: pairwise Jensen–Shannon divergence
    * between per-source hashed-unigram distributions (64 md5 buckets,
    * the same cross-engine bucketing as the DSIR weights) — the
    * distributional-similarity half of the mixture-design picture
    * (`q_cross_source_dups` is the content-overlap half). Low JSD pairs
    * are stylistic near-twins a mixture should not double-count; high
    * JSD pairs add diversity.
    *
    * Scale shape: ONE corpus-scale pass — a partial+final count on the
    * bounded (source, bucket) key — then everything downstream lives on
    * the |sources|×64 grid (densified so zero buckets contribute their
    * one-sided JSD term). Per-(pair, bucket) terms are micro-floored
    * longs, so the 64-term sum is an integer sum, parallelism-proof;
    * `ln` lands on identical doubles in both engines (same derivation
    * order), matching the charEntropy precedent.
    */
  val sourceJsDiv = Q("q_source_js_div",
    (s, dir) => {
      val cb = Tables.read(s, dir, "documents")
        .select(col("source"), explode(wordsCol).as("word"))
        .groupBy(col("source"),
          (conv(substring(md5(col("word")), 1, 8), 16, 10).cast("long") % 64).as("b"))
        .agg(count(lit(1)).as("c"))
      val n = cb.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val grid = n.withColumn("b", explode(sequence(lit(0L), lit(63L))))
        .join(cb, Seq("source", "b"), "left").na.fill(0L, Seq("c"))
        .select(col("source"), col("b"),
          (col("c").cast("double") / col("n")).as("p"))
      grid.select(col("source").as("source_a"), col("b"), col("p"))
        .join(grid.select(col("source").as("source_b"), col("b"), col("p").as("q")),
          Seq("b"))
        .filter(col("source_a") < col("source_b"))
        .withColumn("t", floor(lit(1e6) * (
          when(col("p") > 0,
            lit(0.5) * col("p") * log(lit(2) * col("p") / (col("p") + col("q"))))
            .otherwise(lit(0.0)) +
          when(col("q") > 0,
            lit(0.5) * col("q") * log(lit(2) * col("q") / (col("p") + col("q"))))
            .otherwise(lit(0.0)))).cast("long"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(sum(col("t")).as("jsd_micro"))
    },
    Some(s"""WITH w AS (SELECT source, unnest($wordsSql) AS word FROM documents),
            |cb AS (SELECT source,
            |         CAST(('0x' || substring(md5(word), 1, 8))::BIGINT % 64 AS BIGINT) AS b,
            |         count(*) AS c
            |       FROM w GROUP BY 1, 2),
            |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cb GROUP BY source),
            |grid AS (
            |  SELECT n.source, t.b, CAST(coalesce(cb.c, 0) AS DOUBLE) / n.n AS p
            |  FROM n CROSS JOIN generate_series(0, 63) t(b)
            |  LEFT JOIN cb ON cb.source = n.source AND cb.b = t.b),
            |pr AS (
            |  SELECT a.source AS source_a, b.source AS source_b,
            |    CAST(floor(1e6 * (
            |      CASE WHEN a.p > 0
            |        THEN 0.5 * a.p * ln(2 * a.p / (a.p + b.p)) ELSE 0 END +
            |      CASE WHEN b.p > 0
            |        THEN 0.5 * b.p * ln(2 * b.p / (a.p + b.p)) ELSE 0 END)) AS BIGINT) AS t
            |  FROM grid a JOIN grid b ON a.b = b.b AND a.source < b.source)
            |SELECT source_a, source_b, CAST(sum(t) AS BIGINT) AS jsd_micro
            |FROM pr GROUP BY 1, 2""".stripMargin))

  /** WHICH crawls duplicate each other: the verified near-dup pairs
    * (exact Jaccard ≥ 0.8 over the LSH candidates) aggregated into a
    * source-pair matrix — the report that tells a pipeline operator
    * "source A is 40% re-hosted source B" before deciding a keep
    * policy. Per-pair Jaccard is micro-floored BEFORE the sum so the
    * aggregate is an exact long.
    *
    * Scale shape: the verify stage is the already-bucketed LSH pipeline
    * (never all-pairs); the two source lookups are doc_id equi-joins
    * pinned SHUFFLE_MERGE (the candidate table is corpus-scale, the
    * document table certainly is); the final key space is |sources|².
    */
  val crossSourceDups = Q("q_cross_source_dups",
    (s, dir) => {
      val a = artifacts(s, dir)
      val src = Tables.read(s, dir, "documents").select(col("doc_id"), col("source"))
      val ver = TextOps.jaccardOverPairs(a.shingles, "doc_id", a.candidates)
        .filter(col("jaccard") >= 0.8)
      ver
        .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa"))
          .hint("shuffle_merge"), Seq("doc_a"))
        .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb"))
          .hint("shuffle_merge"), Seq("doc_b"))
        .select(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"),
          floor(lit(1e6) * col("jaccard")).cast("long").as("jm"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("jm")).as("jaccard_micro_sum"))
    },
    Some(s"""WITH $pairsCtes,
            |$interCtes,
            |ver AS (
            |  SELECT i.doc_a, i.doc_b,
            |    CAST(i.ni AS DOUBLE) / (i.na + i.nb - i.ni) AS jaccard
            |  FROM inter i
            |  WHERE CAST(i.ni AS DOUBLE) / (i.na + i.nb - i.ni) >= 0.8e0)
            |SELECT least(da.source, db.source) AS source_a,
            |  greatest(da.source, db.source) AS source_b,
            |  count(*) AS n_pairs,
            |  CAST(sum(CAST(floor(1e6 * v.jaccard) AS BIGINT)) AS BIGINT)
            |    AS jaccard_micro_sum
            |FROM ver v JOIN documents da ON da.doc_id = v.doc_a
            |           JOIN documents db ON db.doc_id = v.doc_b
            |GROUP BY 1, 2""".stripMargin))

  /** PageRank centrality over the near-dup candidate graph — which
    * documents sit at the CENTER of duplication clusters (template
    * pages, boilerplate hubs) vs the periphery; a curation signal for
    * keep-policies beyond plain component membership.
    *
    * The iteration runs in FIXED-POINT (pr scaled by 10¹²): each edge
    * contribution is `floor(pr / outdeg)` — a long — so the per-node
    * in-sum is an INTEGER sum, order-independent by construction.
    * Distributed float summation order (which varies run to run with
    * partitioning) can therefore never perturb the result: the gate
    * hash is stable at any parallelism, and the DuckDB oracle unrolls
    * the identical integer recurrence. Teleport and damping multiply
    * once per node per round (exact-double ops on < 2⁵³ values).
    *
    * Scale shape: each of the 3 rounds is one equi-join of the edge
    * list with the rank table (both keyed on the node id) plus one
    * partially-aggregable integer sum by destination — the canonical
    * distributed PageRank round; the rank table carries one long per
    * node.
    */
  val pagerank = Q("q_pagerank",
    (s, dir) => {
      val Scale = 1e12
      val iters = 3
      val nodes = Tables.read(s, dir, "documents").select(col("doc_id"))
      val nRow = nodes.agg(count(lit(1)).as("n"))
      val cand = artifacts(s, dir).candidates
      val edges = cand.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(cand.select(col("doc_b").as("src"), col("doc_a").as("dst")))
        .localCheckpoint(true)
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      var pr = nodes.crossJoin(broadcast(nRow))
        .select(col("doc_id"), floor(lit(Scale) / col("n")).cast("long").as("pr"))
      for (_ <- 1 to iters) {
        val contrib = edges
          .join(pr.withColumnRenamed("doc_id", "src"), Seq("src"))
          .join(deg, Seq("src"))
          .select(col("dst"), floor(col("pr") / col("deg")).cast("long").as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("m"))
        pr = nodes
          .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
          .crossJoin(broadcast(nRow))
          .select(col("doc_id"),
            (floor(lit(0.15) * lit(Scale) / col("n")).cast("long") +
             floor(lit(0.85) * coalesce(col("m"), lit(0L))).cast("long")).as("pr"))
      }
      pr.select(col("doc_id"), col("pr").as("pagerank_fix"))
    },
    Some {
      def round(i: Int): String =
        s"""c$i AS (SELECT e.dst, CAST(sum(CAST(floor(p.pr / d.deg) AS BIGINT)) AS BIGINT) AS m
           |  FROM e JOIN p${i - 1} p ON p.doc_id = e.src JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst),
           |p$i AS MATERIALIZED (
           |  SELECT doc_id, CAST(floor(0.15e0 * 1e12 / nn.n) AS BIGINT)
           |    + CAST(floor(0.85e0 * coalesce(c$i.m, 0)) AS BIGINT) AS pr
           |  FROM documents LEFT JOIN c$i ON c$i.dst = doc_id, nn)""".stripMargin
      s"""WITH $pairsCtes,
         |e AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |nn AS (SELECT count(*) AS n FROM documents),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
         |p0 AS MATERIALIZED (
         |  SELECT doc_id, CAST(floor(1e12 / nn.n) AS BIGINT) AS pr
         |  FROM documents, nn),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT doc_id, pr AS pagerank_fix FROM p3""".stripMargin
    })

  /** Training-mixture weights: per-source token share and the capped
    * resampling weight that moves the mix toward uniform-over-sources
    * (upweight small sources by tot/nsrc/n_tokens, never above 1 — the
    * standard no-oversampling policy). The window runs over the
    * |sources|-row aggregate, not the corpus.
    */
  val sourceMix = Q("q_source_mix",
    (s, dir) => {
      val w = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.read(s, dir, "documents")
        .select(col("source"), size(wordsCol).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(w))
        .withColumn("nsrc", count(lit(1)).over(w))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          floor(lit(1e6) * col("n_tokens").cast("double") / col("tot"))
            .cast("long").as("share_micro"),
          least(lit(1000000L),
            floor(lit(1e6) * (col("tot").cast("double") / col("nsrc")) / col("n_tokens"))
              .cast("long")).as("weight_micro"))
    },
    Some(s"""WITH b AS (
            |  SELECT source, count(*) AS n_docs, CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens
            |  FROM documents GROUP BY source),
            |t AS (SELECT sum(n_tokens) AS tot, count(*) AS nsrc FROM b)
            |SELECT b.source, b.n_docs, b.n_tokens,
            |  CAST(floor(1e6 * b.n_tokens / CAST(t.tot AS DOUBLE)) AS BIGINT) AS share_micro,
            |  least(1000000, CAST(floor(1e6 * (CAST(t.tot AS DOUBLE) / t.nsrc) / b.n_tokens)
            |    AS BIGINT)) AS weight_micro
            |FROM b, t""".stripMargin))

  /** Prefix-filter set-similarity join (AllPairs/PPJoin family) — the
    * EXACT Jaccard-threshold join, complementing the MinHash tier
    * (probabilistic recall) with a lossless candidate filter: order each
    * doc's distinct tokens by ascending global frequency; two sets with
    * Jaccard ≥ t MUST share a token within each other's first
    * |x| − ⌈t·|x|⌉ + 1 rarest tokens (pigeonhole), so candidates come
    * from an equi-join on PREFIX tokens only — and prefixes are the
    * RAREST tokens, so bucket fan-in is small by construction (the
    * frequency ordering is the skew guard). Exact Jaccard verify on
    * candidates; every pair ≥ t is found, none guessed.
    *
    * Scale shape: one bounded token-frequency table broadcast onto the
    * token stream, per-doc sort is document-local, the prefix join
    * shuffles only prefix tokens (≪ token stream), and the verify
    * ADAPTS ([[graft.operators.SetSimJoin]]): small dense vocabularies —
    * exactly where the prefix filter degenerates toward all-pairs — are
    * verified via rank-bitmask popcount (longs through the join, not
    * token arrays; 46 → ~8 s at sf0.1's 31-word corpus), large sparse
    * vocabularies via sorted-array intersection over the pruned
    * candidates. Identical exact output either way (equivalence
    * unit-tested).
    */
  /** Un-materialized pair relation — also the plan-shape probe target
    * ([[PlanShapeSpec]]): the cached form below checkpoints to a
    * LogicalRDD, which would hide the join shapes the spec pins.
    */
  private[graft] def ppjoinPairsUncached(s: SparkSession, dir: String): DataFrame =
    graft.operators.SetSimJoin.selfJoin(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(wordsCol)).as("w"))
        .localCheckpoint(true),
      "doc_id", "w", t = 0.8)
  /** One PPJoin pair relation, shared by the digest and the bounded
    * row-level certification query.
    */
  private val ppjoinPairs = Artifact("text_ppjoin_pairs") { (s, dir) =>
    ppjoinPairsUncached(s, dir).localCheckpoint(true)
  }

  /** Row-level certification stratum: pairs whose smaller id < 500 —
    * the FULL relation at sf0.01 (500 docs), a fixed-size slice above,
    * so the per-pair (ni, jacc_micro) arithmetic stays value-certified
    * at every SF while the whole-relation check rides the digest.
    */
  private val PpjoinSampleBound = 500L

  /** Shared DuckDB CTE chain for the PPJoin oracles — verified pairs
    * `v(doc_a, doc_b, ni, jacc_micro)` via per-doc RANK BITMASKS (the
    * same dense-vocabulary trick the engine's [[graft.operators
    * .SetSimJoin]] verify uses): doc → ≤4×64-bit masks of vocabulary
    * ranks, pair intersection = popcount(maskA AND maskB). The previous
    * token-level join oracle (dw ⋈ dw on w, GROUP BY pair) is ~3e10
    * intermediate rows with a pair-count-sized hash aggregate at sf1's
    * dense 31-word corpus — infeasible; the mask form is one O(n²/2)
    * scan of 50k mask rows with integer ops and NO pair-level
    * aggregation, which DuckDB streams in seconds. `mg` carries the
    * vocabulary-size guard: above 256 distinct tokens the 4-word masks
    * would silently truncate, so the oracle RAISES (reads as "oracle
    * assumption broken", never as an engine mismatch; 256 covers the
    * scaled corpora — the 100× documents step carries 31 base words +
    * 99 copymark tokens). `aPred` lets the
    * row-level query push its stratum bound into the pair scan's build
    * side.
    */
  private def ppjoinMaskCtes(aPred: String = "TRUE"): String =
    s"""dw AS (
       |  SELECT doc_id, unnest(list_distinct($wordsSql)) AS w FROM documents),
       |vr AS (
       |  SELECT w, row_number() OVER (ORDER BY w) - 1 AS r
       |  FROM (SELECT DISTINCT w FROM dw)),
       |mg AS (SELECT CASE WHEN max(r) < 256 THEN 1
       |  ELSE CAST(error('ppjoin mask oracle: vocabulary exceeds 256 tokens — widen the mask words') AS BIGINT)
       |  END AS ok FROM vr),
       |rb AS (  -- per-rank (word, weight): bit 63's weight is a literal
       |         -- because 1::BIGINT << 63 raises in DuckDB
       |  SELECT r, CASE WHEN r % 64 = 63 THEN -9223372036854775807 - 1
       |    ELSE (1::BIGINT << (r % 64)) END AS bit, r // 64 AS wd FROM vr),
       |m AS (
       |  SELECT dw.doc_id, CAST(count(*) AS BIGINT) AS n,
       |    bit_or(CASE WHEN rb.wd = 0 THEN rb.bit ELSE 0 END) AS m0,
       |    bit_or(CASE WHEN rb.wd = 1 THEN rb.bit ELSE 0 END) AS m1,
       |    bit_or(CASE WHEN rb.wd = 2 THEN rb.bit ELSE 0 END) AS m2,
       |    bit_or(CASE WHEN rb.wd = 3 THEN rb.bit ELSE 0 END) AS m3
       |  FROM dw JOIN vr USING (w) JOIN rb USING (r), mg
       |  WHERE mg.ok = 1 GROUP BY dw.doc_id),
       |p AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
       |    CAST(bit_count(a.m0 & b.m0) + bit_count(a.m1 & b.m1)
       |       + bit_count(a.m2 & b.m2) + bit_count(a.m3 & b.m3) AS BIGINT) AS ni
       |  FROM m a JOIN m b ON a.doc_id < b.doc_id AND ($aPred)),
       |v AS (
       |  SELECT doc_a, doc_b, ni,
       |    CAST(floor(1e6 * ni / CAST(na + nb - ni AS DOUBLE)) AS BIGINT) AS jacc_micro
       |  FROM p WHERE ni >= 0.8 * (na + nb - ni))""".stripMargin

  /** Whole-relation PPJoin certification as a per-stratum DIGEST: the
    * exact pair relation is the operator's product (and is itself
    * ~2e8 rows at sf1 by declared semantics on the dense test corpus —
    * un-materializable through a row-compare gate), so the compared
    * surface is (count, Σni, Σjacc, XOR of an INJECTIVE packing of
    * (doc_b, ni, jacc_micro)) per doc_a stratum — any row-level
    * difference flips a stratum's count/sums or its xor signature.
    * The packing doc_b·2²⁹ + ni·2²⁰ + jacc_micro is injective because
    * ni ≤ 256 = 2⁸·2 ≤ 2⁹ (vocabulary guard) and jacc_micro ≤ 10⁶ < 2²⁰.
    * Engine side: the REAL pair relation from [[graft.operators
    * .SetSimJoin]] (unchanged), one partial-aggregable groupBy on top.
    */
  val ppjoin = Q("q_ppjoin",
    (s, dir) => ppjoinPairs(s, dir)
      .withColumn("pk", col("doc_b") * lit(1L << 29) +
        col("ni").cast("long") * lit(1L << 20) + col("jacc_micro"))
      .groupBy(col("doc_a"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("ni")).cast("long").as("sum_ni"),
        sum(col("jacc_micro")).cast("long").as("sum_jacc_micro"),
        expr("bit_xor(pk)").as("xor_sig")),
    Some(s"""WITH ${ppjoinMaskCtes()}
            |SELECT doc_a, CAST(count(*) AS BIGINT) AS n_pairs,
            |  CAST(sum(ni) AS BIGINT) AS sum_ni,
            |  CAST(sum(jacc_micro) AS BIGINT) AS sum_jacc_micro,
            |  bit_xor(doc_b * ${1L << 29} + ni * ${1L << 20} + jacc_micro) AS xor_sig
            |FROM v GROUP BY doc_a""".stripMargin))

  /** Row-level PPJoin pairs on the bounded stratum (smaller id <
    * [[PpjoinSampleBound]]) — value-exact (doc_a, doc_b, ni,
    * jacc_micro) rows at every SF: the full relation at sf0.01, a
    * fixed ~500-doc_a slice above, so the gate never loses per-pair
    * arithmetic certification to the digest. BOTH sides push the bound
    * into the pair scan's build side (500 × n pair evaluations, never
    * n²/2): the engine via [[graft.operators.SetSimJoin]]'s `aBound`
    * bounded-stratum build, the oracle via `aPred`. (Round 12's sf10
    * gate caught the previous engine form — `filter` over the SHARED
    * materialized full relation — spilling 52 GB toward a ~2e10-row
    * checkpoint at 500k docs; the stratum must be carved out BEFORE
    * pairing, exactly like the oracle always did.)
    */
  val ppjoinPairsSample = Q("q_ppjoin_pairs",
    (s, dir) => graft.operators.SetSimJoin.selfJoin(
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(wordsCol)).as("w"))
        .localCheckpoint(true),
      "doc_id", "w", t = 0.8, aBound = Some(PpjoinSampleBound)),
    Some(s"""WITH ${ppjoinMaskCtes(s"a.doc_id < $PpjoinSampleBound")}
            |SELECT doc_a, doc_b, ni, jacc_micro FROM v""".stripMargin))

  /** Bounded BFS over the near-dup graph — shortest hop distance (≤ 3)
    * from a seed set, the graph-exploration primitive behind "how far
    * does this template's influence spread" and crawl-frontier audits
    * (PageRank scores mass, components give membership; BFS gives
    * DISTANCE). Three rounds of min-distance propagation, each one
    * edge⋈frontier equi-join + a partially-aggregable min by node —
    * integer distances, bit-stable at any parallelism; the frontier
    * table is ≤ reachable-set-sized. The oracle is a depth-bounded
    * recursive CTE over the identical edge set.
    */
  val graphBfs = Q("q_graph_bfs",
    (s, dir) => {
      val e = lshCandidates(s, dir)
        .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().localCheckpoint(true)
      var dist = Tables.read(s, dir, "documents").filter(col("doc_id") < 5)
        .select(col("doc_id").as("node"), lit(0L).as("dist"))
        .localCheckpoint(true)
      for (_ <- 1 to 3) {
        val next = dist.join(sym, dist("node") === sym("src"))
          .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
        dist = dist.union(next)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
          .localCheckpoint(true)
      }
      dist.select(col("node").as("doc_id"), col("dist"))
    },
    Some(s"""WITH RECURSIVE $pairsCtes,
            |edges AS (
            |  SELECT doc_a AS src, doc_b AS dst FROM pairs
            |  UNION SELECT doc_b, doc_a FROM pairs),
            |reach(node, dist) AS (
            |  SELECT doc_id AS node, 0 AS dist FROM documents WHERE doc_id < 5
            |  UNION ALL
            |  SELECT e.dst, r.dist + 1 FROM reach r JOIN edges e ON e.src = r.node
            |  WHERE r.dist < 3)
            |SELECT node AS doc_id, CAST(min(dist) AS BIGINT) AS dist
            |FROM reach GROUP BY node""".stripMargin))

  /** Temperature-scaled mixture (τ = 0.5) — the Llama/mT5-style source
    * rebalancing between proportional (τ=1) and uniform (τ=0):
    * sampled share ∝ share^τ, so small sources are upsampled
    * sub-linearly instead of q_source_mix's hard toward-uniform cap.
    * τ is pinned at 0.5 because share^0.5 = sqrt(share) and IEEE sqrt
    * is CORRECTLY ROUNDED in both engines — an arbitrary-τ pow() call
    * carries last-ulp engine variance. The per-source sqrt is floored
    * to micro FIRST, so the normalizer is an integer sum and the final
    * shares are exact rationals of integers — order-proof. Everything
    * runs on the |sources|-row aggregate; one corpus pass total.
    */
  val temperatureMix = Q("q_temperature_mix",
    (s, dir) => {
      val w = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.read(s, dir, "documents")
        .select(col("source"), size(wordsCol).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(w))
        .withColumn("w_micro",
          floor(lit(1e6) * sqrt(col("n_tokens").cast("double") / col("tot")))
            .cast("long"))
        .withColumn("w_tot", sum(col("w_micro")).over(w))
        .select(col("source"), col("n_tokens"),
          floor(lit(1e6) * col("n_tokens").cast("double") / col("tot"))
            .cast("long").as("share_micro"),
          floor(lit(1e6) * col("w_micro").cast("double") / col("w_tot"))
            .cast("long").as("temp_share_micro"),
          floor(lit(1e6) * (col("w_micro").cast("double") * col("tot"))
            / (col("w_tot") * col("n_tokens"))).cast("long").as("upsample_micro"))
    },
    Some(s"""WITH b AS (
            |  SELECT source, CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens
            |  FROM documents GROUP BY source),
            |t AS (SELECT sum(n_tokens) AS tot FROM b),
            |wm AS (SELECT b.source, b.n_tokens, t.tot,
            |         CAST(floor(1e6 * sqrt(b.n_tokens / CAST(t.tot AS DOUBLE)))
            |           AS BIGINT) AS w_micro
            |       FROM b, t),
            |n AS (SELECT sum(w_micro) AS w_tot FROM wm)
            |SELECT wm.source, wm.n_tokens,
            |  CAST(floor(1e6 * wm.n_tokens / CAST(wm.tot AS DOUBLE)) AS BIGINT)
            |    AS share_micro,
            |  CAST(floor(1e6 * wm.w_micro / CAST(n.w_tot AS DOUBLE)) AS BIGINT)
            |    AS temp_share_micro,
            |  CAST(floor(1e6 * (wm.w_micro * CAST(wm.tot AS DOUBLE))
            |       / (n.w_tot * CAST(wm.n_tokens AS DOUBLE))) AS BIGINT)
            |    AS upsample_micro
            |FROM wm, n""".stripMargin))

  /** PMI word co-occurrence — the corpus-statistics op behind collocation
    * mining and embedding-training co-occurrence matrices: for pairs of
    * top-16-df words, ln of observed-over-expected doc co-occurrence
    * `(n_both · N) / (n_a · n_b)`, micro-floored (exact-rational ln —
    * identical doubles both engines). The vocabulary filter BOUNDS the
    * pair space (≤ C(16,2) pairs per doc regardless of corpus size):
    * the distinct-word stream joins the broadcast top-16 table, the
    * in-doc self-join fans out to ≤ 120 rows per doc, and the aggregate
    * key space is the 120-cell pair grid.
    */
  val pmiCooccurrence = Q("q_pmi_cooccurrence",
    (s, dir) => {
      val dw = Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(wordsCol)).as("w"))
        .localCheckpoint(true)
      val top = dw.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("w")).limit(16)
      val f = dw.join(broadcast(top.select(col("w"))), Seq("w"))
      val n = Tables.read(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      f.select(col("doc_id"), col("w").as("w_a"))
        .join(f.select(col("doc_id"), col("w").as("w_b")), Seq("doc_id"))
        .filter(col("w_a") < col("w_b"))
        .groupBy(col("w_a"), col("w_b")).agg(count(lit(1)).as("n_both"))
        .join(broadcast(top.select(col("w").as("w_a"), col("df").as("n_a"))), Seq("w_a"))
        .join(broadcast(top.select(col("w").as("w_b"), col("df").as("n_b"))), Seq("w_b"))
        .crossJoin(broadcast(n))
        .filter(col("n_both") >= 5)
        .select(col("w_a"), col("w_b"), col("n_both"),
          floor(lit(1e6) * log(
            (col("n_both") * col("n_docs")).cast("double")
              / (col("n_a") * col("n_b")).cast("double")))
            .cast("long").as("pmi_micro"))
    },
    Some(s"""WITH dw AS (
            |  SELECT DISTINCT doc_id, unnest(list_distinct($wordsSql)) AS w
            |  FROM documents),
            |top AS (SELECT w, count(*) AS df FROM dw GROUP BY w
            |        ORDER BY df DESC, w LIMIT 16),
            |f AS (SELECT dw.doc_id, dw.w FROM dw JOIN top USING (w)),
            |n AS (SELECT count(*) AS n_docs FROM documents),
            |p AS (SELECT a.w AS w_a, b.w AS w_b, count(*) AS n_both
            |      FROM f a JOIN f b ON a.doc_id = b.doc_id AND a.w < b.w
            |      GROUP BY 1, 2)
            |SELECT p.w_a, p.w_b, p.n_both,
            |  CAST(floor(1e6 * ln((p.n_both * n.n_docs)
            |       / CAST(ta.df * tb.df AS DOUBLE))) AS BIGINT) AS pmi_micro
            |FROM p JOIN top ta ON ta.w = p.w_a JOIN top tb ON tb.w = p.w_b
            |     CROSS JOIN n
            |WHERE p.n_both >= 5""".stripMargin))

  /** Content-defined chunking (CDC, rolling-hash boundaries) — the
    * insertion-robust dedup primitive fixed-width windows lack: a chunk
    * boundary falls wherever the hash of the local 3-gram hits
    * `≡ 0 (mod 8)`, so inserting a sentence shifts CONTENT but not the
    * downstream boundaries, and unchanged trailing chunks keep their
    * fingerprints (rsync/LBFS/backup-dedup's core trick, here at the
    * token level for doc-revision dedup). Per doc: chunk count and how
    * many of its chunks are shared with ≥ 1 other document — the
    * storage-level redundancy a crawl with re-posted boilerplate
    * carries. Chunking is one map-side HOF cascade (no UDF); the only
    * shuffle is the bounded fingerprint census (distinct-doc count per
    * chunk hash, partially aggregable), joined back SHUFFLE_MERGE —
    * the same census-join shape as `q_line_dedup`.
    */
  val cdcChunks = Q("q_cdc_chunks",
    (s, dir) => {
      val perDoc = TextOps.cdcChunkFingerprints(docsFanned(s, dir), "doc_id", col("text"))
        .localCheckpoint(true)
      val census = perDoc.select(col("fp"), col("doc_id")).distinct()
        .groupBy(col("fp")).agg(count(lit(1)).as("n_docs_with"))
      perDoc.hint("shuffle_merge")
        .join(census.hint("shuffle_merge"), Seq("fp"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_docs_with") >= 2, 1L).otherwise(0L)).as("n_shared_chunks"))
        .withColumn("shared_micro",
          floor(lit(1e6) * col("n_shared_chunks") / col("n_chunks")).cast("long"))
    },
    Some(s"""WITH d AS (SELECT doc_id, $wordsSql AS ws FROM documents),
            |b AS (
            |  SELECT doc_id, ws,
            |    list_filter(generate_series(2, greatest(len(ws) - 2, 1)), i ->
            |      ('0x' || substring(md5(array_to_string(list_slice(ws, i, i + 2), ' ')),
            |       1, 4))::BIGINT % 8 = 0) AS bnd
            |  FROM d),
            |c AS (
            |  SELECT doc_id,
            |    unnest(list_transform(generate_series(1, len(bnd) + 1), j ->
            |      md5(array_to_string(list_slice(ws,
            |        CASE WHEN j = 1 THEN 1 ELSE bnd[j - 1] END,
            |        (CASE WHEN j > len(bnd) THEN len(ws) + 1 ELSE bnd[j] END) - 1),
            |        ' ')))) AS fp
            |  FROM b),
            |census AS (
            |  SELECT fp, count(DISTINCT doc_id) AS n_docs_with FROM c GROUP BY fp)
            |SELECT c.doc_id, count(*) AS n_chunks,
            |  CAST(sum(CASE WHEN census.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
            |    AS n_shared_chunks,
            |  CAST(floor(1e6 * sum(CASE WHEN census.n_docs_with >= 2 THEN 1 ELSE 0 END)
            |       / CAST(count(*) AS DOUBLE)) AS BIGINT) AS shared_micro
            |FROM c JOIN census USING (fp)
            |GROUP BY c.doc_id""".stripMargin))

  /** APPLYING the training mixture — the step after q_source_mix
    * computes per-source resampling weights: each document keeps with
    * probability weight via a deterministic md5 coin (hash-bucket <
    * weight in micro-units), so the sampled corpus is reproducible
    * row-for-row and the realized per-source keep counts track the
    * weights. The |sources|-row weight table broadcasts back onto the
    * corpus scan — one map-side join, no shuffle of the documents.
    */
  val applyMixture = Q("q_apply_mixture",
    (s, dir) => {
      val w = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val weights = Tables.read(s, dir, "documents")
        .select(col("source"), size(wordsCol).cast("long").as("n_tok"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("n_tokens"))
        .withColumn("tot", sum(col("n_tokens")).over(w))
        .withColumn("nsrc", count(lit(1)).over(w))
        .select(col("source"),
          least(lit(1000000L),
            floor(lit(1e6) * (col("tot").cast("double") / col("nsrc")) / col("n_tokens"))
              .cast("long")).as("weight_micro"))
      val coin = conv(substring(md5(col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("long") % 1000000L
      Tables.read(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(broadcast(weights), Seq("source"))
        .select(col("doc_id"), col("source"), col("weight_micro"),
          (coin < col("weight_micro")).cast("long").as("kept"))
    },
    Some(s"""WITH b AS (
            |  SELECT source, CAST(sum(len($wordsSql)) AS BIGINT) AS n_tokens
            |  FROM documents GROUP BY source),
            |t AS (SELECT sum(n_tokens) AS tot, count(*) AS nsrc FROM b),
            |wt AS (SELECT b.source,
            |  least(1000000, CAST(floor(1e6 * (CAST(t.tot AS DOUBLE) / t.nsrc) / b.n_tokens)
            |    AS BIGINT)) AS weight_micro
            |  FROM b, t)
            |SELECT d.doc_id, d.source, wt.weight_micro,
            |  CAST(('0x' || substring(md5(d.doc_id::VARCHAR), 1, 6))::BIGINT % 1000000
            |    < wt.weight_micro AS BIGINT) AS kept
            |FROM documents d JOIN wt USING (source)""".stripMargin))

  /** Array set algebra over the tokenized doc — distinct vocabulary,
    * which stopwords appear, and content-word count via set difference.
    * Pure map-side projection (codegen'd array kernels), zero shuffle.
    */
  val arrayOps = Q("q_array_ops",
    (s, dir) => {
      val stopArr = array(stopLits.map(lit): _*)
      val distinctWords = array_distinct(wordsCol)
      Tables.read(s, dir, "documents").select(col("doc_id"),
        size(distinctWords).cast("long").as("n_distinct"),
        array_join(array_sort(array_intersect(distinctWords, stopArr)), ",")
          .as("stops_present"),
        size(array_except(distinctWords, stopArr)).cast("long").as("n_content"))
    },
    Some {
      val stops = stopLits.map(w => s"'$w'").mkString("[", ", ", "]")
      s"""SELECT doc_id,
         | len(list_distinct($wordsSql)) AS n_distinct,
         | coalesce(array_to_string(list_sort(list_intersect(list_distinct($wordsSql), $stops)), ','), '')
         |   AS stops_present,
         | len(list_filter(list_distinct($wordsSql), w -> NOT list_contains($stops, w)))
         |   AS n_content
         |FROM documents""".stripMargin
    })

  /** Token-budget corpus selection — "keep the best docs until the token
    * budget is spent" WITHOUT a global sort: the greedy-knapsack is
    * re-expressed as histogram-threshold selection (same idea as
    * operators.Selection). Docs are ranked by n_chars; per-rank token
    * sums form a bounded histogram (distinct lengths, not docs), the
    * cumulative sum over that histogram runs in one single-partition
    * window over ≤ a few hundred rows, and the data-dependent threshold
    * T = min rank still inside budget comes back as one broadcast
    * scalar. The corpus itself is touched only by map-side projections —
    * this is exactly how a 100 TB "select top docs by score up to N
    * tokens" should plan. Budget = half the corpus tokens, derived from
    * the same aggregate.
    */
  val tokenBudget = Q("q_token_budget",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents").select(col("doc_id"), col("n_chars"),
        size(wordsCol).cast("long").as("n_tok"))
      val wCum = Window.orderBy(col("n_chars").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val thr = d.groupBy(col("n_chars")).agg(sum(col("n_tok")).as("btok"))
        .withColumn("cum", sum(col("btok")).over(wCum))
        .withColumn("budget", floor(sum(col("btok")).over(wAll) / 2))
        .filter(col("cum") <= col("budget"))
        .agg(min(col("n_chars")).as("thr"))
      d.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("n_tok"),
          coalesce(col("n_chars") >= col("thr"), lit(false))
            .cast("long").as("kept"))
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, n_chars, len($wordsSql) AS n_tok FROM documents),
            |b AS (SELECT n_chars, sum(n_tok) AS btok FROM d GROUP BY n_chars),
            |c AS (SELECT n_chars,
            |        sum(btok) OVER (ORDER BY n_chars DESC ROWS UNBOUNDED PRECEDING) AS cum,
            |        sum(btok) OVER () AS total
            |      FROM b),
            |t AS (SELECT min(n_chars) AS thr FROM c WHERE cum <= floor(total / 2))
            |SELECT d.doc_id, d.n_tok,
            |  CAST(coalesce(d.n_chars >= t.thr, FALSE) AS BIGINT) AS kept
            |FROM d, t""".stripMargin))

  /** End-to-end corpus assembly as ONE driver-visible query — the
    * operators compose: near-dedup survivors (connected-component
    * canonical policy) → deterministic per-language cap (md5 rank ≤ 50,
    * WindowGroupLimit keeps local top-k before the shuffle) → md5-bucket
    * 80/10/10 split. The same composition `app.CorpusPipelineApp` runs
    * as a pipeline, here hash-checked stage-for-stage against the
    * chained DuckDB CTEs.
    */
  val corpusAssembly = Q("q_corpus_assembly",
    (s, dir) => {
      val canon = canonical(s, dir)
      // same SHUFFLE_MERGE pin as q_near_dedup_keep: the component table
      // can be corpus-scale and its LogicalRDD size is a guess
      val kept = Tables.read(s, dir, "documents")
        .join(canon.hint("shuffle_merge"), Seq("doc_id"), "left")
        .filter(coalesce(col("canonical_id"), col("doc_id")) === col("doc_id"))
      val w = Window.partitionBy(col("lang"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 100
      kept.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("doc_id"), col("lang"),
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
            .as("split"))
    },
    Some(s"""WITH $pairsCtes,
            |${OracleCc.canonFromPairs(OracleCc.TextRounds)},
            |kept AS (
            |  SELECT d.doc_id, d.lang FROM documents d
            |  LEFT JOIN canon c USING (doc_id)
            |  WHERE coalesce(c.canonical_id, d.doc_id) = d.doc_id),
            |capped AS (
            |  SELECT doc_id, lang FROM (
            |    SELECT doc_id, lang,
            |      row_number() OVER (PARTITION BY lang
            |        ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
            |    FROM kept) WHERE rk <= 50)
            |SELECT doc_id, lang,
            |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
            |FROM (SELECT doc_id, lang,
            |        ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 100 AS b
            |      FROM capped)""".stripMargin))

  /** Character-entropy quality signal (a Dolma/Gopher-style tagger):
    * Shannon entropy of the per-document character distribution —
    * near-zero flags degenerate docs (whitespace runs, repeated
    * boilerplate glyphs), high values mark natural text. Computed as
    * log2(n) − Σ c·log2(c) / n so one bounded-key aggregation per doc
    * suffices (distinct characters per doc is small); round(4) absorbs
    * the cross-engine summation-order ulps like every FP aggregate here.
    */
  val charEntropy = Q("q_char_entropy",
    (s, dir) => {
      // fanned: per-character explode + partial agg is CPU-heavy
      // (measured 0.25 s fanned vs 0.46 s on the single-task scan)
      val chars = docsFanned(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
        .filter(col("ch") =!= "")
      chars.groupBy(col("doc_id"), col("ch")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_chars_tot"),
          count(lit(1)).as("n_distinct_chars"),
          sum(col("c").cast("double") * log2(col("c"))).as("clc"))
        .select(col("doc_id"), col("n_chars_tot"), col("n_distinct_chars"),
          round(log2(col("n_chars_tot")) - col("clc") / col("n_chars_tot"), 4)
            .as("entropy"))
    },
    Some("""WITH ch AS (
           |  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents),
           |pc AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY doc_id, ch)
           |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_tot, count(*) AS n_distinct_chars,
           |  round(log2(sum(c)) - sum(CAST(c AS DOUBLE) * log2(c)) / sum(c), 4) AS entropy
           |FROM pc GROUP BY doc_id""".stripMargin))

  /** Corpus dedup report — the one-row health summary a pipeline
    * publishes after every crawl merge: exact-duplicate redundancy and
    * near-dup group stats side by side, with the removal rate the
    * keep-policy (q_near_dedup_keep) would apply. Three bounded scalar
    * aggregates cross-joined — each input is a corpus-scale scan, but
    * every output is one row, so the join is trivially broadcast.
    */
  val dedupReport = Q("q_dedup_report",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val totals = d.agg(count(lit(1)).as("n_docs"))
      val exact = d.groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("n_exact_distinct"),
          sum(when(col("c") > 1, col("c") - 1).otherwise(0)).cast("long")
            .as("n_exact_redundant"))
      val near = canonical(s, dir)
        .agg(count(lit(1)).as("n_in_near_groups"),
          countDistinct(col("canonical_id")).as("n_near_groups"))
      totals.crossJoin(exact).crossJoin(near)
        .select(col("n_docs"), col("n_exact_distinct"), col("n_exact_redundant"),
          col("n_in_near_groups"), col("n_near_groups"),
          floor(lit(1e6) * (col("n_in_near_groups") - col("n_near_groups")).cast("double")
            / col("n_docs")).cast("long").as("near_removal_micro"))
    },
    Some(s"""WITH $pairsCtes,
            |${OracleCc.canonFromPairs(OracleCc.TextRounds)},
            |t AS (SELECT count(*) AS n_docs FROM documents),
            |x AS (
            |  SELECT count(*) AS n_exact_distinct,
            |    CAST(sum(CASE WHEN c > 1 THEN c - 1 ELSE 0 END) AS BIGINT)
            |      AS n_exact_redundant
            |  FROM (SELECT md5(text) AS h, count(*) AS c FROM documents GROUP BY md5(text))),
            |nr AS (
            |  SELECT count(*) AS n_in_near_groups,
            |    count(DISTINCT canonical_id) AS n_near_groups
            |  FROM canon)
            |SELECT t.n_docs, x.n_exact_distinct, x.n_exact_redundant,
            |  nr.n_in_near_groups, nr.n_near_groups,
            |  CAST(floor(1e6 * (nr.n_in_near_groups - nr.n_near_groups)
            |       / CAST(t.n_docs AS DOUBLE)) AS BIGINT) AS near_removal_micro
            |FROM t, x, nr""".stripMargin))

  /** Fuzzy vocabulary self-join — edit-distance ≤ 2 word pairs via the
    * SymSpell deletion-neighborhood blocking (Garbe's symmetric-delete
    * algorithm): two words within Levenshtein distance d always share a
    * common string reachable by ≤ d deletions from each, so generating
    * each word's ≤2-deletion variants and EQUI-joining on the variant
    * finds every candidate without an all-pairs scan. The verify stage
    * runs codegen `levenshtein` only on bucket-mates.
    *
    * Scale shape: a word of length L emits 1 + L + L(L−1)/2 variant
    * keys (map-side HOFs, no UDF); the join is a plain equi-join on the
    * variant string whose bucket fan-in is the variant's dictionary
    * popularity (small for natural-language vocabularies), and the
    * whole thing runs on the DISTINCT vocabulary — bounded, ≪ corpus —
    * so at 100 TB the cost is one vocab extraction plus a
    * vocabulary-sized join. The oracle brute-forces the same pairs with
    * DuckDB `levenshtein` over the (small) vocab cross join — exactly
    * the O(n²) plan the deletion blocking avoids.
    */
  val fuzzyJoin = Q("q_fuzzy_join",
    (s, dir) => graft.operators.FuzzyJoin.selfJoin(
      Tables.read(s, dir, "documents")
        .select(explode(TextOps.words(col("text"))).as("w"))
        .filter(length(col("w")) >= 3).distinct(), "w"),
    Some(s"""WITH vocab AS (
            |  SELECT DISTINCT w FROM (SELECT unnest($wordsSql) AS w FROM documents)
            |  WHERE length(w) >= 3)
            |SELECT a.w AS w_a, b.w AS w_b, CAST(levenshtein(a.w, b.w) AS BIGINT) AS dist
            |FROM vocab a JOIN vocab b ON a.w < b.w
            |WHERE levenshtein(a.w, b.w) <= 2""".stripMargin))

  /** Misra–Gries heavy hitters, bound-checked — the fixed-size sketch
    * path for corpus-scale "most common tokens" (the exact
    * `q_topk_by_count` path shuffles the whole vocabulary; the MG
    * aggregator shuffles ≤ capacity counters per partition). Capacity 16
    * over a 31-word vocabulary, so evictions and merge-subtractions
    * genuinely fire. The raw estimates are merge-order-dependent (like
    * HLL/KLL), so — same posture as `q_approx_distinct_bound` — the
    * driver-visible surface is the DETERMINISTIC guarantee
    * `cnt − N/(capacity+1) ≤ est ≤ cnt`, which holds under any
    * partitioning; the oracle pins the all-ones booleans and a broken
    * sketch flips a row red.
    */
  val heavyHittersBound = Q("q_heavy_hitters_bound",
    (s, dir) => {
      val cap = 16
      val ws = Tables.read(s, dir, "documents").select(explode(TextOps.words(col("text"))).as("w"))
      val est = ws.agg(graft.operators.HeavyHitters.sketch(col("w"), cap).as("mg"))
        .select(col("mg.n").as("n_total"), explode(col("mg.items")).as(Seq("w", "est")))
      val top = ws.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("w")).limit(10)
      val n = ws.agg(count(lit(1)).as("n_total"))
      top.join(broadcast(est.drop("n_total")), Seq("w"), "left")
        .crossJoin(broadcast(n))
        .select(col("w"), col("cnt"),
          (coalesce(col("est"), lit(0L)) <= col("cnt") &&
            (col("cnt") - coalesce(col("est"), lit(0L))).cast("double")
              <= col("n_total").cast("double") / (cap + 1))
            .cast("long").as("within_bound"))
    },
    Some(s"""SELECT w, cnt, CAST(1 AS BIGINT) AS within_bound
            |FROM (SELECT w, count(*) AS cnt
            |      FROM (SELECT unnest($wordsSql) AS w FROM documents)
            |      GROUP BY w ORDER BY cnt DESC, w LIMIT 10)""".stripMargin))

  def all: Seq[Q] = Seq(
    dedupExact, tokenCount, tokenBpe, tokenizerFertility, textNormalize,
    qualityScore, qualityLogit,
    pagerank, langHistogram, langId, cohensKappa, vocabGrowth,
    unicodePipeline, charEntropy, dedupReport, bpeMergeStats, bpeMergeRounds,
    bpeApply, bpeBatchRounds,
    docFingerprint, minhashSignature, minhashLshPairs, ngramJaccard, minhashRecall,
    dedupGroups, dedupIncremental, decontaminate, bloomDecontaminate,
    multimodalMeta, multimodalFeatures,
    multimodalRealMeta,
    vocabDf, tfidf, stratifiedSample,
    repetitionRatio, qualityFilter, bowFingerprint, zipfRank,
    minhashJaccardEst, containment, packSequences, trainSplit, splitLeakage,
    epochShuffle, groupCap, lengthBuckets, psiDrift,
    dupSpanFraction, bigramPredictability, docPerplexity, lineDedup,
    substringDedup,
    fuzzyJoin, heavyHittersBound,
    nearDedupKeep, sourceOverlap, crossSourceDups, sourceJsDiv, sourceMix,
    temperatureMix, pmiCooccurrence, cdcChunks, graphBfs, ppjoin,
    ppjoinPairsSample,
    applyMixture, arrayOps, tokenBudget,
    corpusAssembly, piiScrub, docChunks, nearDedupKeepPref, qualityBuckets,
    trainingExamples)
}
