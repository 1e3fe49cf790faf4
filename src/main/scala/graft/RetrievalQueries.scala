package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.functions.{TextOps, VectorFunctions}
import graft.sources.Tables

/** Retrieval and data-curation operators over the `documents` (and
  * `embeddings`) tables: BM25 lexical search, hybrid lexical+vector rank
  * fusion, Gopher-style repetition screens, MOSS-style winnowing
  * fingerprints, DSIR importance weights, and crawl-snapshot diffing.
  *
  * Every score that feeds a hash-compared oracle is an INTEGER micro
  * value (`floor(1e6 * x)` applied at the finest per-term granularity,
  * then summed as longs) so cross-engine float summation order can never
  * flip a row hash — the convention established by
  * [[TextQueries.bigramPredictability]].
  *
  * Scale posture: the lexical ops are inverted-index probes — the term
  * filter lands on the scan, so only postings for query terms shuffle;
  * global scalars (N, avgdl) are one-row broadcast joins; per-document
  * windows partition by doc_id (bounded by document length, never
  * corpus-wide).
  */
object RetrievalQueries {

  // Tables are NOT fanned out ([[Queries.fanOut]]): the retrieval kernels
  // are term-filtered probes and bounded rank windows — light enough that
  // the fan-out exchange measured a consistent +0.3-0.6 s per query
  // (min-of-two full benches) with no compute win

  private def wordsCol: Column = TextOps.words(col("text"))
  private val wordsSql = TextQueries.wordsSql

  // ---------------------------------------------------------------------
  // BM25 lexical search (inverted-index probe)
  // ---------------------------------------------------------------------

  /** BM25 top-10 for a fixed conjunctive keyword query. k1 = 1.2,
    * b = 0.75 (the Robertson defaults). idf = ln(1 + (N − df + 0.5) /
    * (df + 0.5)), floored to micro BEFORE the per-posting tf
    * normalization so each posting contributes an exactly-representable
    * long and the doc score is an integer sum.
    *
    * Scale shape: `isin(queryTerms)` pushes to the scan, so the posting
    * shuffle carries only the query terms' rows (at 100 TB: the classic
    * inverted-index probe — posting lists, not the corpus); doc lengths
    * join co-keyed on doc_id; N/avgdl is a one-row broadcast.
    */
  private val bm25Terms = Seq("vector", "hash", "join")
  private val bm25TermsSql = bm25Terms.map(t => s"'$t'").mkString(", ")

  val bm25Search = Q("q_bm25_search",
    (s, dir) => {
      val tok = Tables.read(s, dir, "documents").select(col("doc_id"), explode(wordsCol).as("w"))
      val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        .localCheckpoint(true)
      val st = dl.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl"))
      val post = tok.filter(col("w").isin(bm25Terms: _*))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
      val idf = post.groupBy(col("w")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(st))
        .select(col("w"), floor(lit(1e6) *
          log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
          .cast("long").as("idf_micro"))
      val scored = post
        .join(broadcast(idf), Seq("w"))
        .join(dl, Seq("doc_id"))
        .crossJoin(broadcast(st))
        .withColumn("sm", floor(col("idf_micro") *
            (col("tf") * lit(2.2)) /
            (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
          .cast("long"))
        .groupBy(col("doc_id")).agg(sum(col("sm")).as("score_micro"))
      // distributed top-10 (per-partition top-N + driver merge), window
      // only over the 10 survivors — never a global sort of the corpus
      val top = scored.orderBy(col("score_micro").desc, col("doc_id")).limit(10)
      val w = Window.orderBy(col("score_micro").desc, col("doc_id"))
      top.withColumn("rn", row_number().over(w).cast("long"))
        .select(col("doc_id"), col("score_micro"), col("rn"))
    },
    Some(s"""WITH tok AS (SELECT doc_id, unnest($wordsSql) AS w FROM documents),
            |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
            |st AS (SELECT count(*) AS n, avg(dl) AS avgdl FROM dl),
            |post AS (SELECT doc_id, w, count(*) AS tf FROM tok
            |         WHERE w IN ($bm25TermsSql) GROUP BY doc_id, w),
            |idf AS (SELECT w, CAST(floor(1e6 * ln(1 + (st.n - count(*) + 0.5e0)
            |          / (count(*) + 0.5e0))) AS BIGINT) AS idf_micro
            |        FROM post, st GROUP BY w, st.n),
            |sc AS (SELECT p.doc_id, CAST(sum(CAST(floor(i.idf_micro * (p.tf * 2.2e0)
            |          / (p.tf + 1.2e0 * (0.25e0 + 0.75e0 * d.dl / st.avgdl))) AS BIGINT)) AS BIGINT)
            |          AS score_micro
            |       FROM post p JOIN idf i USING (w) JOIN dl d USING (doc_id), st
            |       GROUP BY p.doc_id)
            |SELECT doc_id, score_micro, rn FROM (
            |  SELECT doc_id, score_micro,
            |    row_number() OVER (ORDER BY score_micro DESC, doc_id) AS rn FROM sc)
            |WHERE rn <= 10""".stripMargin))

  // ---------------------------------------------------------------------
  // Hybrid retrieval: reciprocal rank fusion of lexical + vector ranks
  // ---------------------------------------------------------------------

  /** Hybrid search: for each query document (doc_id < 3), rank all other
    * documents lexically (shared-distinct-word count via an inverted
    * index) and by embedding cosine, then fuse with reciprocal rank
    * fusion: rrf = Σ 1/(60 + rank) over the two rankers, in micro longs.
    * Integer lexical scores and the shared-ranker tiebreak (cid asc)
    * make every rank — and therefore the fused order — deterministic.
    *
    * Scale shape: the lexical leg joins postings only for the 3 query
    * docs' words (query side broadcast); the vector leg is the
    * brute-force cosine kept honest by the ANN tier (q_ann_ivf / q_ann_pq
    * are the 100 TB path); both rank windows partition by qid.
    */
  val hybridRrf = Q("q_hybrid_rrf",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val dw = d.select(col("doc_id"), explode(array_distinct(wordsCol)).as("w"))
        .localCheckpoint(true)
      val qw = dw.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("w"))
      val lex = dw.select(col("doc_id").as("cid"), col("w"))
        .join(broadcast(qw), Seq("w"))
        .filter(col("cid") =!= col("qid"))
        .groupBy(col("qid"), col("cid")).agg(count(lit(1)).as("shared"))
      val wl = Window.partitionBy(col("qid"))
        .orderBy(col("shared").desc, col("cid"))
      val lexRank = lex.withColumn("r_lex", row_number().over(wl).cast("long"))
      val e = Tables.read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")).as("e"))
      val qe = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val cos = e.select(col("vec_id").as("cid"), col("e").as("ce"))
        .crossJoin(broadcast(qe))
        .filter(col("cid") =!= col("qid"))
        .withColumn("cos", VectorFunctions.cosine(col("ce"), col("qe")))
      val wv = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      val vecRank = cos.withColumn("r_vec", row_number().over(wv).cast("long"))
        .select(col("qid"), col("cid"), col("r_vec"))
      val fused = lexRank.join(vecRank, Seq("qid", "cid"))
        .withColumn("rrf_micro",
          floor(lit(1e6) / (lit(60) + col("r_lex"))).cast("long") +
          floor(lit(1e6) / (lit(60) + col("r_vec"))).cast("long"))
      val wf = Window.partitionBy(col("qid"))
        .orderBy(col("rrf_micro").desc, col("cid"))
      fused.withColumn("rn", row_number().over(wf).cast("long"))
        .filter(col("rn") <= 5)
        .select(col("qid"), col("cid"), col("r_lex"), col("r_vec"),
          col("rrf_micro"), col("rn"))
    },
    Some(s"""WITH dw AS (
            |  SELECT doc_id, unnest(list_distinct($wordsSql)) AS w FROM documents),
            |lex AS (
            |  SELECT q.doc_id AS qid, c.doc_id AS cid, count(*) AS shared
            |  FROM dw q JOIN dw c ON c.w = q.w AND c.doc_id <> q.doc_id
            |  WHERE q.doc_id < 3 GROUP BY 1, 2),
            |lr AS (SELECT qid, cid,
            |         row_number() OVER (PARTITION BY qid ORDER BY shared DESC, cid) AS r_lex
            |       FROM lex),
            |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
            |pd AS (SELECT q.qid, e.vec_id AS cid,
            |         sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS dot,
            |         sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS nq,
            |         sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS nc
            |       FROM q, embeddings e, generate_series(1, 64) AS t(i)
            |       WHERE e.vec_id <> q.qid GROUP BY 1, 2),
            |vr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
            |         ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, cid) AS r_vec
            |       FROM pd),
            |f AS (SELECT l.qid, l.cid, l.r_lex, v.r_vec,
            |        CAST(floor(1e6 / (60 + l.r_lex)) AS BIGINT)
            |          + CAST(floor(1e6 / (60 + v.r_vec)) AS BIGINT) AS rrf_micro
            |      FROM lr l JOIN vr v ON v.qid = l.qid AND v.cid = l.cid)
            |SELECT qid, cid, r_lex, r_vec, rrf_micro, rn FROM (
            |  SELECT f.*, row_number() OVER (PARTITION BY qid
            |    ORDER BY rrf_micro DESC, cid) AS rn FROM f)
            |WHERE rn <= 5""".stripMargin))

  // ---------------------------------------------------------------------
  // Gopher-style repetition screen: top n-gram coverage
  // ---------------------------------------------------------------------

  /** The Gopher repetition rule family: per document, the fraction of
    * tokens covered by the single most frequent 2-/3-/4-gram
    * (`count · n / n_tokens`, micro). High values flag boilerplate and
    * degenerate repetition that the plain duplicate-line screen misses.
    *
    * Scale shape: each n builds its n-grams map-side (no join), then one
    * partially-aggregable groupBy on (doc_id, gram) and a per-doc max —
    * all keys bounded by document length.
    */
  val topNgramFraction = Q("q_top_ngram_fraction",
    (s, dir) => {
      val base = Tables.read(s, dir, "documents")
        .select(col("doc_id"), wordsCol.as("__ws"))
        .select(col("doc_id"), col("__ws"), size(col("__ws")).cast("long").as("nt"))
        .localCheckpoint(true)
      def top(n: Int): DataFrame = base
        .filter(col("nt") >= n)
        .select(col("doc_id"), col("nt"), explode(
          transform(sequence(lit(1), size(col("__ws")) - lit(n - 1)),
            i => concat_ws(" ", slice(col("__ws"), i, lit(n))))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("maxc"))
        .join(base.select(col("doc_id"), col("nt")), Seq("doc_id"))
        .select(col("doc_id"),
          floor(lit(1e6) * col("maxc") * lit(n) / col("nt"))
            .cast("long").as(s"top${n}_micro"))
      base.select(col("doc_id"), col("nt").as("n_tokens"))
        .join(top(2), Seq("doc_id"), "left")
        .join(top(3), Seq("doc_id"), "left")
        .join(top(4), Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("top2_micro"), lit(0L)).as("top2_micro"),
          coalesce(col("top3_micro"), lit(0L)).as("top3_micro"),
          coalesce(col("top4_micro"), lit(0L)).as("top4_micro"))
    },
    Some {
      // bounded per-doc list form (the sf10 lesson): build each doc's
      // gram LIST first — the unnest then carries only (doc_id, nt, g),
      // never the whole word list per exploded row — and count via a
      // partially-aggregable two-level GROUP BY instead of a corpus-wide
      // window sort (count(*) OVER duplicated the count per ROW and
      // pinned the full sorted relation: the 51 GiB OOM at 500k docs)
      def cte(n: Int) =
        s"""t$n AS (
           |  SELECT doc_id, CAST(floor(1e6 * max(c) * $n / any_value(nt)) AS BIGINT)
           |    AS top${n}_micro
           |  FROM (
           |    SELECT doc_id, any_value(nt) AS nt, count(*) AS c
           |    FROM (
           |      SELECT doc_id, nt, unnest(gs) AS g
           |      FROM (SELECT doc_id, len(ws) AS nt,
           |              list_transform(generate_series(1, len(ws) - ${n - 1}),
           |                i -> array_to_string(list_slice(ws, i, i + ${n - 1}), ' '))
           |                AS gs
           |            FROM (SELECT doc_id, $wordsSql AS ws FROM documents)
           |            WHERE len(ws) >= $n))
           |    GROUP BY doc_id, g)
           |  GROUP BY doc_id)""".stripMargin
      s"""WITH ${cte(2)}, ${cte(3)}, ${cte(4)},
         |d AS (SELECT doc_id, len($wordsSql) AS n_tokens FROM documents)
         |SELECT d.doc_id, d.n_tokens,
         |  coalesce(t2.top2_micro, 0) AS top2_micro,
         |  coalesce(t3.top3_micro, 0) AS top3_micro,
         |  coalesce(t4.top4_micro, 0) AS top4_micro
         |FROM d LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
         |       LEFT JOIN t4 USING (doc_id)""".stripMargin
    })

  // ---------------------------------------------------------------------
  // Winnowing fingerprints (MOSS)
  // ---------------------------------------------------------------------

  /** MOSS winnowing (Schleimer et al., SIGMOD 2003): hash every k-gram
    * (k = 3 words, md5), slide a window of w = 4 consecutive hashes, and
    * select each window's minimum — the guarantee is any shared run of
    * ≥ k + w − 1 tokens yields at least one shared selected hash, at
    * ~2/(w+1) the storage of the full hash set. Output is the per-doc
    * selected-set size and density (micro) — the fingerprint a
    * plagiarism / near-dup index would store.
    *
    * Scale shape: hashes are map-side; the sliding min is a window
    * partitioned BY DOCUMENT (state bounded by doc length, never
    * corpus-wide); the distinct + count is a partially-aggregable
    * per-doc aggregate.
    */
  private val winK = 3
  private val winW = 4

  /** The per-document winnowing selection — (doc_id, wmin) distinct
    * selected k-gram hashes — over an arbitrary (doc_id, text) corpus.
    * Shared with `RetrievalSpec`, which plants a ≥ k+w−1-token shared
    * run in two otherwise-different docs and asserts the guarantee (at
    * least one common selected hash).
    */
  private[graft] def winnowingSelected(docsDf: DataFrame): DataFrame = {
    val pos = docsDf
      .select(col("doc_id"), TextOps.words(col("text")).as("__ws"))
      .filter(size(col("__ws")) >= winK + winW - 1)
      .select(col("doc_id"), size(col("__ws")).cast("long").as("nw"), explode(
        transform(sequence(lit(1), size(col("__ws")) - lit(winK - 1)),
          i => struct(i.as("i"),
            md5(concat_ws(" ", slice(col("__ws"), i, lit(winK)))).as("h")))).as("p"))
      .select(col("doc_id"), col("nw"), col("p.i").as("i"), col("p.h").as("h"))
    val wm = Window.partitionBy(col("doc_id")).orderBy(col("i"))
      .rowsBetween(Window.currentRow, winW - 1)
    pos.withColumn("wmin", min(col("h")).over(wm))
      // truncated trailing windows are not real windows
      .filter(col("i") <= col("nw") - lit(winK - 1) - lit(winW - 1))
      .select(col("doc_id"), col("nw"), col("wmin"))
  }

  val winnowing = Q("q_winnowing",
    (s, dir) => winnowingSelected(Tables.read(s, dir, "documents"))
      .groupBy(col("doc_id"))
      .agg((max(col("nw")) - lit(winK - 1)).as("n_hashes"),
        countDistinct(col("wmin")).as("n_selected"))
      .select(col("doc_id"), col("n_hashes"), col("n_selected"),
        floor(lit(1e6) * col("n_selected") / col("n_hashes"))
          .cast("long").as("density_micro")),
    Some(s"""WITH pos AS (
            |  SELECT doc_id, len(ws) AS nw, i,
            |    md5(array_to_string(list_slice(ws, i, i + 2), ' ')) AS h
            |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i
            |        FROM (SELECT doc_id, $wordsSql AS ws FROM documents)
            |        WHERE len(ws) >= 6)),
            |wm AS (
            |  SELECT doc_id, nw, i,
            |    min(h) OVER (PARTITION BY doc_id ORDER BY i
            |                 ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
            |  FROM pos)
            |SELECT doc_id, max(nw) - 2 AS n_hashes,
            |  count(DISTINCT wmin) AS n_selected,
            |  CAST(floor(1e6 * count(DISTINCT wmin) / CAST(max(nw) - 2 AS DOUBLE)) AS BIGINT)
            |    AS density_micro
            |FROM wm WHERE i <= nw - 2 - 3 GROUP BY doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // DSIR importance weights
  // ---------------------------------------------------------------------

  /** DSIR-style importance weights (Xie et al., 2023): score every
    * document by how much its hashed-unigram distribution looks like a
    * TARGET domain (here lang = 'en') versus the raw corpus. Words hash
    * into 64 buckets (md5 prefix — identical in both engines); the
    * per-bucket log-ratio ln(p_target / p_raw) (Laplace-smoothed, micro)
    * is a 64-row broadcast table; a document's weight is the sum of its
    * words' bucket scores. The resampling step these weights feed is
    * q_apply_mixture's deterministic keep-rule.
    *
    * Scale shape: bucket stats are two bounded (64-key) aggregates; the
    * scoring pass is a map-side broadcast join over the token stream —
    * one shuffle (the per-doc sum), no corpus-side state.
    */
  val dsirWeights = Q("q_dsir_weights",
    (s, dir) => {
      val B = 64
      val tok = Tables.read(s, dir, "documents")
        .select(col("doc_id"), col("lang"), explode(wordsCol).as("w"))
        .withColumn("b",
          (conv(substring(md5(col("w")), 1, 4), 16, 10).cast("long") % B).cast("int"))
        .localCheckpoint(true)
      val raw = tok.groupBy(col("b")).agg(count(lit(1)).as("cr"))
      val tgt = tok.filter(col("lang") === "en")
        .groupBy(col("b")).agg(count(lit(1)).as("ct"))
      val wTot = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val ratio = raw.join(tgt, Seq("b"), "left")
        .withColumn("ct", coalesce(col("ct"), lit(0L)))
        .withColumn("crtot", sum(col("cr")).over(wTot))
        .withColumn("cttot", sum(col("ct")).over(wTot))
        .select(col("b"), floor(lit(1e6) * (
          log((col("ct") + lit(1.0)) / (col("cttot") + lit(B))) -
          log((col("cr") + lit(1.0)) / (col("crtot") + lit(B)))))
          .cast("long").as("lr_micro"))
      tok.join(broadcast(ratio), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_words"), sum(col("lr_micro")).as("dsir_micro"))
    },
    Some(s"""WITH tok AS (
            |  SELECT doc_id, lang,
            |    ('0x' || substring(md5(w), 1, 4))::BIGINT % 64 AS b
            |  FROM (SELECT doc_id, lang, unnest($wordsSql) AS w FROM documents)),
            |raw AS (SELECT b, count(*) AS cr FROM tok GROUP BY b),
            |tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY b),
            |ratio AS (
            |  SELECT raw.b,
            |    CAST(floor(1e6 * (ln((coalesce(tgt.ct, 0) + 1.0e0)
            |        / ((SELECT sum(ct) FROM tgt) + 64))
            |      - ln((raw.cr + 1.0e0) / ((SELECT sum(cr) FROM raw) + 64)))) AS BIGINT)
            |      AS lr_micro
            |  FROM raw LEFT JOIN tgt ON tgt.b = raw.b)
            |SELECT t.doc_id, count(*) AS n_words,
            |  CAST(sum(r.lr_micro) AS BIGINT) AS dsir_micro
            |FROM tok t JOIN ratio r ON r.b = t.b
            |GROUP BY t.doc_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Crawl snapshot diff
  // ---------------------------------------------------------------------

  /** Snapshot diff — the daily crawl-merge report: compare the current
    * corpus against the previous snapshot BY CONTENT HASH and count
    * added / removed / changed / same per source. The "previous"
    * snapshot is derived deterministically (docs with doc_id % 7 == 3
    * hadn't been crawled yet → added; docs with doc_id % 5 == 0 were
    * since re-crawled with different text → changed; phantom ids
    * doc_id + 10^6 for doc_id % 11 == 5 have since been dropped →
    * removed) so both engines reconstruct the identical pair of
    * snapshots from one table.
    *
    * Scale shape: a full outer equi-join on doc_id of two content-hash
    * projections — co-partitioned, no text moves (only 32-char hashes),
    * then a bounded (source × status) count.
    */
  val corpusDiff = Q("q_corpus_diff",
    (s, dir) => {
      val d = Tables.read(s, dir, "documents")
      val now = d.select(col("doc_id"), col("source"), md5(col("text")).as("h"))
      val prev = d.filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), col("source"),
          md5(when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text"))).as("h"))
        .union(d.filter(col("doc_id") % 11 === 5)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("source"),
            md5(col("text")).as("h")))
      now.as("n").join(prev.as("p"), Seq("doc_id"), "full_outer")
        .select(
          coalesce(col("n.source"), col("p.source")).as("source"),
          when(col("p.h").isNull, lit("added"))
            .when(col("n.h").isNull, lit("removed"))
            .when(col("n.h") =!= col("p.h"), lit("changed"))
            .otherwise(lit("same")).as("status"))
        .groupBy(col("source"), col("status"))
        .agg(count(lit(1)).as("n_docs"))
    },
    Some("""WITH now AS (
           |  SELECT doc_id, source, md5(text) AS h FROM documents),
           |prev AS (
           |  SELECT doc_id, source,
           |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v1' ELSE text END) AS h
           |  FROM documents WHERE doc_id % 7 <> 3
           |  UNION ALL
           |  SELECT doc_id + 1000000 AS doc_id, source, md5(text) AS h
           |  FROM documents WHERE doc_id % 11 = 5)
           |SELECT coalesce(n.source, p.source) AS source,
           |  CASE WHEN p.h IS NULL THEN 'added'
           |       WHEN n.h IS NULL THEN 'removed'
           |       WHEN n.h <> p.h THEN 'changed'
           |       ELSE 'same' END AS status,
           |  count(*) AS n_docs
           |FROM now n FULL OUTER JOIN prev p USING (doc_id)
           |GROUP BY 1, 2""".stripMargin))

  /** Hard-negative mining for embedding-model training — the pair-mining
    * op behind contrastive fine-tuning (DPR/SBERT-style): candidates
    * that score HIGH on the lexical ranker (top-10 shared-word rank)
    * but LOW on the semantic ranker (cosine rank > 20) are exactly the
    * "looks relevant, isn't" examples a retriever must learn to
    * separate. Reuses the two ranker legs of `q_hybrid_rrf` (same
    * broadcast-query inverted-index probe, same bounded cosine leg) and
    * emits (qid, cid, both ranks) per mined negative. At 100 TB the
    * lexical leg stays a posting-list probe and the semantic leg rides
    * the ANN tier instead of the exact ranker — the mining predicate is
    * unchanged.
    *
    * The semantic rank is candidate-only: only the ≤|queries|×10 lexTop
    * candidates ever need a rank, and rank = 1 + count of corpus rows
    * scoring above the candidate — one broadcast of the candidate
    * cosines and one partial+final aggregate over the corpus, instead
    * of sorting the ENTIRE corpus into |queries| window partitions (the
    * round-7 straggler-by-construction this replaced).
    */
  val hardNegatives = Q("q_hard_negatives",
    (s, dir) => {
      val dw = Tables.read(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(wordsCol)).as("w"))
        .localCheckpoint(true)
      val qw = dw.filter(col("doc_id") < 3)
        .select(col("doc_id").as("qid"), col("w"))
      val lex = dw.select(col("doc_id").as("cid"), col("w"))
        .join(broadcast(qw), Seq("w"))
        .filter(col("cid") =!= col("qid"))
        .groupBy(col("qid"), col("cid")).agg(count(lit(1)).as("shared"))
      val wl = Window.partitionBy(col("qid"))
        .orderBy(col("shared").desc, col("cid"))
      val lexTop = lex.withColumn("r_lex", row_number().over(wl).cast("long"))
        .filter(col("r_lex") <= 10)
      val e = Tables.read(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
        .select(col("vec_id"), VectorFunctions.toDoubleArray(col("embedding")).as("e"))
      val qe = e.filter(col("vec_id") < 3)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val cos = e.select(col("vec_id").as("cid"), col("e").as("ce"))
        .crossJoin(broadcast(qe))
        .filter(col("cid") =!= col("qid"))
        .withColumn("cos", VectorFunctions.cosine(col("ce"), col("qe")))
        .select(col("qid"), col("cid"), col("cos"))
      // candidate cosines via pruned joins (no corpus pass): same
      // cosine expression over the same arrays → bit-identical doubles,
      // so the strict/tie comparison below reproduces the row_number()
      // (cos DESC, cid ASC) order exactly
      val candCos = lexTop.select(col("qid"), col("cid").as("ncid"))
        .join(e.select(col("vec_id").as("ncid"), col("e").as("ce")), Seq("ncid"))
        .join(qe, Seq("qid"))
        .withColumn("ccos", VectorFunctions.cosine(col("ce"), col("qe")))
        .select(col("qid"), col("ncid"), col("ccos"))
      val vecRank = cos.join(broadcast(candCos), Seq("qid"))
        .withColumn("above",
          when(col("cos") > col("ccos") ||
            (col("cos") === col("ccos") && col("cid") < col("ncid")), 1L)
            .otherwise(0L))
        .groupBy(col("qid"), col("ncid"))
        .agg((sum(col("above")) + lit(1L)).as("r_vec"))
        .select(col("qid"), col("ncid").as("cid"), col("r_vec"))
      lexTop.join(vecRank, Seq("qid", "cid"))
        .filter(col("r_vec") > 20)
        .select(col("qid"), col("cid"), col("r_lex"), col("r_vec"))
    },
    Some(s"""WITH dw AS (
            |  SELECT doc_id, unnest(list_distinct($wordsSql)) AS w FROM documents),
            |lex AS (
            |  SELECT q.doc_id AS qid, c.doc_id AS cid, count(*) AS shared
            |  FROM dw q JOIN dw c ON c.w = q.w AND c.doc_id <> q.doc_id
            |  WHERE q.doc_id < 3 GROUP BY 1, 2),
            |lr AS (SELECT qid, cid,
            |         row_number() OVER (PARTITION BY qid ORDER BY shared DESC, cid) AS r_lex
            |       FROM lex),
            |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 3),
            |pd AS (SELECT q.qid, e.vec_id AS cid,
            |         sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS dot,
            |         sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS nq,
            |         sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS nc
            |       FROM q, embeddings e, generate_series(1, 64) AS t(i)
            |       WHERE e.vec_id <> q.qid GROUP BY 1, 2),
            |vr AS (SELECT qid, cid, row_number() OVER (PARTITION BY qid
            |         ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, cid) AS r_vec
            |       FROM pd)
            |SELECT l.qid, l.cid, l.r_lex, v.r_vec
            |FROM lr l JOIN vr v ON v.qid = l.qid AND v.cid = l.cid
            |WHERE l.r_lex <= 10 AND v.r_vec > 20""".stripMargin))

  def all: Seq[Q] = Seq(
    bm25Search, hybridRrf, topNgramFraction, winnowing, dsirWeights, corpusDiff,
    hardNegatives)
}
