package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.Q
import graft.bfr.BFR
import graft.eval.Nmi
import graft.functions.TextOps
import graft.functions.VectorFunctions._
import graft.kmeans.KMeans
import graft.sources.{PointSource, Tables}

/** The ML layer (SURVEY.md §2.11) and similarity-search operators over the
  * `embeddings` table: deterministic distributed k-means (M1/M2), the full
  * BFR pipeline (M4-M9), NMI evaluation (M10), brute-force and IVF
  * approximate nearest-neighbor search, SimHash and embedding-cosine
  * near-dup detection.
  *
  * Oracle policy: the clustering queries are deterministic (pinned
  * seeding, first-min tie-breaks) but not SQL-expressible → rows-only
  * checks; NMI arithmetic, SimHash, and brute-force ANN are replicated in
  * closed-form SQL and fully oracle-checked.
  */
object MlQueries {

  /** DuckDB oracle for the deterministic k-means: the seeding and Lloyd
    * loops are UNROLLED into materialized CTEs (k-1 maximin steps, then
    * `iters` assign/update rounds). Every tie-break matches the engine
    * (min-id first seed, argmax/argmin ties to the lowest id / cluster),
    * and distances accumulate dimensions in the same order, so the SQL
    * reproduces the engine's centers and assignments exactly — verified
    * bit-identical (after round-6) at sf0.001/0.01/0.1. MATERIALIZED is
    * load-bearing: inlined CTEs re-evaluate the chain exponentially.
    */
  private[graft] class KmeansOracleGen(val K: Int, val Iters: Int, val D: Int = 64,
      prefix: String = "",
      embExpr: String = "list_transform(embedding, x -> CAST(x AS DOUBLE))",
      srcTable: String = "embeddings",
      emitFinalAssign: Boolean = true) {

    private[graft] def sqdist(a: String, b: String): String =
      s"list_sum(list_transform(generate_series(1,$D), i -> pow($a[i]-$b[i],2)))"

    /** CTE name under this generator's namespace — a non-empty prefix
      * lets several unrolled k-means chains (e.g. one per PQ subspace)
      * coexist in a single WITH clause.
      */
    private[graft] def p(n: String): String = prefix + n

    /** CTEs from the source projection `p(emb)` down to the initial
      * centers `p(c0)` — the maximin seeding by default, overridable so
      * a subclass can swap in a different deterministic init (the
      * balanced-IVF split oracle uses the robust median-cut init; the
      * census-scaled IVF regime switches between maximin and md5-ranked
      * seeds, see [[IvfOracle]]).
      */
    protected def seedCtes: Seq[String] = maximinSeedCtes(p("c0"))

    /** The unrolled maximin chain, terminating in a CTE named `c0Name` —
      * factored out so a regime-switching subclass can emit this chain
      * under a non-final name and pick between seedings at runtime.
      */
    protected final def maximinSeedCtes(c0Name: String): Seq[String] = {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      parts += s"${p("sd0")} AS MATERIALIZED (SELECT e FROM ${p("emb")} ORDER BY vec_id LIMIT 1)"
      parts += s"${p("m0")} AS MATERIALIZED (SELECT vec_id, emb.e AS e, ${sqdist("emb.e", "s.e")} AS md " +
        s"FROM ${p("emb")} emb, ${p("sd0")} s)"
      for (j <- 1 until K) {
        parts += s"${p(s"sd$j")} AS MATERIALIZED (SELECT e FROM ${p(s"m${j - 1}")} ORDER BY md DESC, vec_id LIMIT 1)"
        if (j < K - 1)
          parts += s"${p(s"m$j")} AS MATERIALIZED (SELECT vec_id, m.e AS e, " +
            s"least(md, ${sqdist("m.e", "s.e")}) AS md FROM ${p(s"m${j - 1}")} m, ${p(s"sd$j")} s)"
      }
      parts += s"$c0Name AS MATERIALIZED (${(0 until K).map(j => s"SELECT $j AS cl, e FROM ${p(s"sd$j")}").mkString(" UNION ALL ")})"
      parts.toSeq
    }

    /** The WITH-clause body (no `WITH` prefix): emb → seeds → c0 →
      * a0..c{Iters} → afin (final assignment against the final centers).
      */
    lazy val withClauses: String = {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      parts += s"${p("emb")} AS MATERIALIZED (SELECT vec_id, " +
        s"$embExpr AS e FROM $srcTable)"
      parts ++= seedCtes
      for (t <- 0 until Iters) {
        parts += s"${p(s"a$t")} AS MATERIALIZED (SELECT vec_id, e, cl FROM (" +
          s"SELECT p.vec_id, p.e AS e, c.cl, row_number() OVER (PARTITION BY p.vec_id " +
          s"ORDER BY ${sqdist("p.e", "c.e")}, c.cl) AS rn FROM ${p("emb")} p, ${p(s"c$t")} c) WHERE rn = 1)"
        parts += s"${p(s"g$t")} AS MATERIALIZED (SELECT cl, t.i AS i, avg(e[t.i]) AS m " +
          s"FROM ${p(s"a$t")}, generate_series(1,$D) t(i) GROUP BY cl, t.i)"
        parts += s"${p(s"cn$t")} AS MATERIALIZED (SELECT cl, list(m ORDER BY i) AS e FROM ${p(s"g$t")} GROUP BY cl)"
        parts += s"${p(s"c${t + 1}")} AS MATERIALIZED (SELECT c.cl, coalesce(n.e, c.e) AS e " +
          s"FROM ${p(s"c$t")} c LEFT JOIN ${p(s"cn$t")} n ON n.cl = c.cl)"
      }
      if (emitFinalAssign)
        parts += s"${p("afin")} AS MATERIALIZED (SELECT vec_id, cl FROM (" +
          s"SELECT p.vec_id, c.cl, row_number() OVER (PARTITION BY p.vec_id " +
          s"ORDER BY ${sqdist("p.e", "c.e")}, c.cl) AS rn FROM ${p("emb")} p, ${p(s"c$Iters")} c) WHERE rn = 1)"
      parts.mkString(",\n")
    }

    val centersSql: String =
      s"""WITH $withClauses
         |SELECT cl AS cluster, CAST(t.i - 1 AS BIGINT) AS pos, round(e[t.i], 6) AS c
         |FROM ${p(s"c$Iters")}, generate_series(1, $D) t(i)""".stripMargin

    val assignSql: String =
      s"WITH $withClauses\nSELECT vec_id AS id, cl AS cluster FROM ${p("afin")}"

    val nmiSql: String =
      s"""WITH $withClauses,
         |cont AS (SELECT f.cl AS yp, e.label AS yt, count(*) AS c
         |         FROM ${p("afin")} f JOIN embeddings e ON e.vec_id = f.vec_id GROUP BY 1, 2),
         |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cont),
         |pp AS (SELECT yp, CAST(sum(c) AS DOUBLE) AS cp FROM cont GROUP BY yp),
         |tt AS (SELECT yt, CAST(sum(c) AS DOUBLE) AS ct FROM cont GROUP BY yt),
         |mi AS (SELECT sum((cont.c / tot.n) * ln(cont.c * tot.n / (pp.cp * tt.ct))) AS v
         |       FROM cont, tot, pp, tt WHERE cont.yp = pp.yp AND cont.yt = tt.yt),
         |hp AS (SELECT -sum((cp / n) * ln(cp / n)) AS v FROM pp, tot),
         |ht AS (SELECT -sum((ct / n) * ln(ct / n)) AS v FROM tt, tot)
         |SELECT round(mi.v / ((hp.v + ht.v) / 2), 6) AS nmi FROM mi, hp, ht""".stripMargin
  }

  private object KmeansOracle extends KmeansOracleGen(10, 5)

  /** Served IVF quantizer hyperparameters, shared verbatim by the engine
    * path ([[ivfModel]] → [[graft.kmeans.BalancedIvf.splitHotCells]]) and
    * the unrolled DuckDB oracle ([[IvfOracle]]): base k-means k/iters,
    * then skew-aware balancing — cells above `IvfCapFactor ×` the
    * original average occupancy are recursively 2-means split (largest
    * first), at most `IvfSplitBudget` splits.
    */
  private[graft] val IvfK = Census.IvfLegacyK
  private[graft] val IvfIters = 3
  private[graft] val IvfCapFactor = 2.0
  private[graft] val IvfSplitBudget = 8

  /** The quantizer's CELL COUNT is a corpus-census knob — the sf10
    * vector-step lesson, the exact sibling of the fingerprint-width knob
    * (round 11, text tier): every "cell-bounded" consumer (SemDeDup's
    * within-cell pairwise, the self-kNN join, probe-time candidate
    * volume) is only bounded if cells stay bounded, and a FIXED k makes
    * cell size grow linearly with the corpus — at 200k vectors, k=8
    * means 25k-member cells and a 5×10⁹-row "cell-bounded" pairwise.
    *
    * Regime A (count ≤ [[IvfScaleN]]): the original k=8 maximin fit —
    * every driver SF (sf0.01/0.1/1) stays bit-identical. Regime B
    * (count > [[IvfScaleN]]): k = ceil(n / [[IvfTargetCell]]) cells,
    * seeded by the k corpus vectors with the smallest
    * (md5(id-as-decimal-string), id) — a closed-form rank both engines
    * compute identically (the maximin unroll is K−1 materialized CTEs,
    * structurally infeasible at census k; md5-ranked seeding is one
    * window function at ANY k, and hash-ranked ≈ uniform random seeds,
    * the standard large-scale IVF init). Lloyd + hot-cell balancing are
    * k-agnostic and shared by both regimes. [[IvfTargetCell]] MUST stay
    * a power of two: n / 2^j is exact in binary floating point, so the
    * engine's and the oracle's `ceil` agree for every count up to 2^53.
    *
    * The fit itself runs on a DRIVER-HELD matrix (id-ordered rows — the
    * full corpus up to [[IvfSampleN]], beyond that the md5-ranked
    * bounded training sample a coarse quantizer is always fit on, with
    * the sample selected distributed via TakeOrdered), never as
    * distributed Lloyd: the oracle certifies bit-exact centers, and
    * distributed aggregation order would reintroduce float-accumulation
    * drift for a model that is driver-held state anyway.
    */
  private[graft] val IvfScaleN = Census.IvfScaleN
  private[graft] val IvfTargetCell = Census.IvfTargetCell

  private[graft] val IvfKMax = Census.IvfKMax

  private[graft] val IvfSampleN = Census.IvfSampleN

  private[graft] def ivfKFor(n: Long): Int = Census.ivfKFor(n)

  private[graft] def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // census width constants for the hyperplane fingerprint tiers (single
  // band + banded) — declared up here because the bucket-CTE vals read
  // them during object initialization; documented at [[bandedPlanesFor]]'s
  // point of use
  private val BandedWidthRange = Census.BandedWidthRange
  private val BandedTargetOcc = Census.BandedTargetOcc
  private[graft] val BandedBandsForWidth: Map[Int, Int] = Census.BandedBandsForWidth
  private[graft] def bandedPlanesFor(n: Long): Int = Census.bandedPlanesFor(n)

  /** DuckDB oracle for the IVF ANN: the k=8/iters=3 coarse quantizer is
    * the same unrolled deterministic k-means, BALANCED by the same
    * hot-cell split loop the engine serves (see [[balancedCtes]]), then
    * the probe (nprobe nearest cells per query, ties to the lower cell),
    * candidate fetch (cell-joined, self excluded) and exact cosine top-3
    * are replicated with the engine's tie-breaks. Makes the recall<1
    * scale path exactly checkable — the "approximation" is deterministic
    * cell pruning, not randomness.
    */
  private object IvfOracle extends KmeansOracleGen(IvfK, IvfIters,
    // the FIT reads the bounded training sample (mirrors [[ivfModel]]):
    // the IvfSampleN rows with the smallest (md5(id), id) — below the
    // knob that is every row, so all certified SFs are unchanged. The
    // SERVED relations (final assignment `bafin`, `cells`, the query
    // side, brute-force recall truth) read the full corpus via `femb`.
    srcTable = s"""(SELECT vec_id, embedding FROM (
      SELECT vec_id, embedding,
        row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS __r
      FROM embeddings) WHERE __r <= $IvfSampleN)""") {

    /** The census scalar the whole chain branches on — `kk` is the
      * served cell count ([[ivfKFor]]: the literal k=8 below the regime
      * threshold, ceil(n / targetCell) above; targetCell is a power of
      * two so the double division is exact and both engines' ceil agree).
      */
    // defs, not vals: the base class's strict `centersSql` forces
    // `withClauses` (and with it the overridden seedCtes) during BASE
    // construction, before this object's own vals initialize
    private def kregCte: String =
      s"kreg AS MATERIALIZED (SELECT count(*) AS n, CASE WHEN count(*) > $IvfScaleN " +
        s"THEN least(CAST(ceil(count(*) / ${IvfTargetCell.toDouble}) AS BIGINT), $IvfKMax) " +
        s"ELSE CAST($IvfK AS BIGINT) END AS kk FROM embeddings)"
    private def kk = "(SELECT kk FROM kreg)"

    /** Regime-switched seeding (mirrors [[ivfModel]]): the k=8 maximin
      * unroll serves below [[IvfScaleN]]; above it, seeds are the `kk`
      * vectors with the smallest (md5(id-as-decimal-string), id) — one
      * window function at ANY census k, where the maximin unroll is
      * structurally K−1 CTEs. Both chains are cheap relative to Lloyd,
      * so both always compute; `c0` picks by the census.
      */
    override protected def seedCtes: Seq[String] =
      Seq(kregCte) ++ maximinSeedCtes("c0mm") ++ Seq(
        s"""c0h AS MATERIALIZED (SELECT r - 1 AS cl, e FROM (
           |  SELECT e, row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
           |  FROM emb) WHERE r <= $kk)""".stripMargin,
        s"""c0 AS MATERIALIZED (
           |  SELECT CAST(cl AS BIGINT) AS cl, e FROM c0mm WHERE (SELECT n FROM kreg) <= $IvfScaleN
           |  UNION ALL
           |  SELECT CAST(cl AS BIGINT) AS cl, e FROM c0h WHERE (SELECT n FROM kreg) > $IvfScaleN)""".stripMargin)

    /** Local 2-means over the members of the cell split at step `t` —
      * the unrolled-k-means generator (K=2, Iters=5) pointed at the
      * step's member CTE, with the seeding overridden to the ROBUST
      * median-cut init, replicating
      * `KMeans.fitLocal(sub, 2, 5, 0, BalancedIvf.medianCutInit(sub))`
      * exactly: spread score n·Σx² − (Σx)² per dimension (argmax ties to
      * the lowest dim), members ranked by (value, vec_id), initial
      * centers = means of the two rank halves (lower half → child 0),
      * then first-min Lloyd ties, empty cluster keeps its center.
      */
    private def subGen(t: Int): KmeansOracleGen =
      new KmeansOracleGen(2, 5, this.D, prefix = s"s${t}_", embExpr = "e",
        srcTable = s"bm$t", emitFinalAssign = false) {
        override protected def seedCtes: Seq[String] = Seq(
          s"${p("vardim")} AS MATERIALIZED (" +
            s"SELECT t.i AS dim FROM ${p("emb")}, generate_series(1,${this.D}) t(i) GROUP BY t.i " +
            s"ORDER BY count(*) * sum(e[t.i]*e[t.i]) - sum(e[t.i]) * sum(e[t.i]) DESC, t.i LIMIT 1)",
          s"${p("rk")} AS MATERIALIZED (SELECT vec_id, e, " +
            s"row_number() OVER (ORDER BY e[(SELECT dim FROM ${p("vardim")})], vec_id) AS r, " +
            s"count(*) OVER () AS n FROM ${p("emb")})",
          s"${p("hg")} AS MATERIALIZED (" +
            s"SELECT CASE WHEN r <= n // 2 THEN 0 ELSE 1 END AS cl, t.i AS i, avg(e[t.i]) AS m " +
            s"FROM ${p("rk")}, generate_series(1,${this.D}) t(i) GROUP BY 1, 2)",
          s"${p("c0")} AS MATERIALIZED (SELECT cl, list(m ORDER BY i) AS e FROM ${p("hg")} GROUP BY cl)")
      }

    /** Unroll of `BalancedIvf.splitHotCells(rows, centers, IvfCapFactor,
      * IvfK + IvfSplitBudget)` as `IvfSplitBudget` CONDITIONAL steps:
      * step t picks the largest cell above cap (ties to the lowest cell
      * id) — empty pick ⇒ the whole step is a no-op (the engine's loop
      * has exited) — 2-means its members, replaces the picked center
      * with child A, appends child B at index `IvfK + t - 1`, and
      * reassigns ONLY the picked cell's members between the two children
      * (ties to child A, matching the engine's first-min pair scan).
      * A split can never follow a no-op (once balanced, the engine loop
      * exits and every later oracle pick is empty too), so the appended
      * center index is deterministic. `bguard` asserts no split was
      * degenerate (a child with zero members would make the engine
      * revert + freeze — impossible on continuous data, and LOUD here:
      * `bafin` raises `error()` instead of silently diverging).
      * `bafin` is the served cell map: global argmin over the final
      * enlarged center list `bc{S}`, exactly `Model.assign`.
      */
    private val S = IvfSplitBudget
    private val balancedCtes: String = {
      val parts = scala.collection.mutable.ArrayBuffer[String]()
      // the full SERVED corpus — everything downstream of the fit
      // (final assignment, cells, queries, recall truth) reads this,
      // while the fit chain reads `emb` (the bounded training sample)
      parts += "femb AS MATERIALIZED (SELECT vec_id, " +
        "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)"
      parts += s"bcap AS MATERIALIZED (SELECT greatest(1, CAST(ceil($IvfCapFactor * count(*) / $kk) AS BIGINT)) AS cap FROM emb)"
      parts += "ba0 AS MATERIALIZED (SELECT vec_id, cl FROM afin)"
      parts += s"bc0 AS MATERIALIZED (SELECT cl, e FROM c$Iters)"
      for (t <- 1 to S) {
        val newId = s"($kk + ${t - 1})"
        parts += s"bocc$t AS MATERIALIZED (SELECT cl, count(*) AS n FROM ba${t - 1} GROUP BY cl)"
        parts += s"bpick$t AS MATERIALIZED (SELECT o.cl FROM bocc$t o, bcap WHERE o.n > bcap.cap ORDER BY o.n DESC, o.cl LIMIT 1)"
        parts += s"bm$t AS MATERIALIZED (SELECT a.vec_id, e.e AS e FROM ba${t - 1} a " +
          s"JOIN emb e ON e.vec_id = a.vec_id WHERE a.cl = (SELECT cl FROM bpick$t))"
        parts += subGen(t).withClauses
        parts += s"""bc$t AS MATERIALIZED (
           |  SELECT c.cl, CASE WHEN c.cl = (SELECT cl FROM bpick$t)
           |    THEN (SELECT e FROM s${t}_c5 WHERE cl = 0) ELSE c.e END AS e
           |  FROM bc${t - 1} c
           |  UNION ALL
           |  SELECT $newId AS cl, (SELECT e FROM s${t}_c5 WHERE cl = 1) AS e
           |  WHERE EXISTS (SELECT 1 FROM bpick$t))""".stripMargin
        parts += s"""ba$t AS MATERIALIZED (
           |  SELECT a.vec_id, a.cl FROM ba${t - 1} a
           |  WHERE a.cl IS DISTINCT FROM (SELECT cl FROM bpick$t)
           |  UNION ALL
           |  SELECT m.vec_id, CASE WHEN ${sqdist("m.e", "ca.e")} <= ${sqdist("m.e", "cb.e")}
           |    THEN (SELECT cl FROM bpick$t) ELSE $newId END AS cl
           |  FROM bm$t m,
           |    (SELECT e FROM s${t}_c5 WHERE cl = 0) ca(e),
           |    (SELECT e FROM s${t}_c5 WHERE cl = 1) cb(e))""".stripMargin
      }
      val guardRows = (1 to S).map { t =>
        val newId = s"($kk + ${t - 1})"
        s"""SELECT EXISTS (SELECT 1 FROM bpick$t) AS active,
           |  (SELECT count(*) FROM ba$t a JOIN bm$t m ON m.vec_id = a.vec_id
           |   WHERE a.cl = (SELECT cl FROM bpick$t)) AS na,
           |  (SELECT count(*) FROM ba$t a JOIN bm$t m ON m.vec_id = a.vec_id
           |   WHERE a.cl = $newId) AS nb""".stripMargin
      }.mkString("\nUNION ALL\n")
      parts += s"""bguard AS MATERIALIZED (
         |  SELECT sum(CASE WHEN active AND (na = 0 OR nb = 0) THEN 1 ELSE 0 END) AS bad
         |  FROM ($guardRows))""".stripMargin
      parts += s"""bafin AS MATERIALIZED (SELECT vec_id,
         |  CASE WHEN (SELECT bad FROM bguard) = 0 THEN cl
         |       ELSE CAST(error('balanced-IVF oracle assumption violated: degenerate 2-means split (engine reverts+freezes there) — regenerate the oracle') AS INTEGER)
         |  END AS cl
         |  FROM (SELECT p.vec_id, c.cl, row_number() OVER (PARTITION BY p.vec_id
         |          ORDER BY ${sqdist("p.e", "c.e")}, c.cl) AS rn
         |        FROM femb p, bc$S c) WHERE rn = 1)""".stripMargin
      parts.mkString(",\n")
    }
    /** Shared base: quantizer k-means → cells, query side, query↔center
      * distances (`cd`) — everything before the nprobe choice.
      */
    private val baseCtes: String =
      s"""$withClauses,
         |$balancedCtes,
         |cells AS MATERIALIZED (
         |  SELECT a.vec_id AS cid, e.e AS ce, a.cl AS cell
         |  FROM bafin a JOIN femb e ON e.vec_id = a.vec_id),
         |q AS (SELECT vec_id AS qid, e AS qe FROM femb WHERE vec_id < 5),
         |cd AS (SELECT q.qid, q.qe, c.cl AS cell, ${sqdist("q.qe", "c.e")} AS dd
         |       FROM q, bc$S c)""".stripMargin

    /** Probe-parameterized chain: nearest-`p`-cells probe → candidate
      * fetch → cosine top ranking (`r_$p`). Mirrors the engine's
      * `ivfTop3(nprobe = p)` with identical tie-breaks.
      */
    private def probeChain(p: Int): String =
      s"""probes_$p AS (
         |  SELECT qid, qe, cell FROM (
         |    SELECT qid, qe, cell,
         |      row_number() OVER (PARTITION BY qid ORDER BY dd, cell) AS rn
         |    FROM cd) WHERE rn <= $p),
         |cand_$p AS (
         |  SELECT pr.qid, pr.qe, s.cid, s.ce
         |  FROM probes_$p pr JOIN cells s ON s.cell = pr.cell AND s.cid <> pr.qid),
         |d_$p AS (SELECT qid, cid,
         |        sum(qe[t.i] * ce[t.i]) AS dot,
         |        sum(qe[t.i] * qe[t.i]) AS nq,
         |        sum(ce[t.i] * ce[t.i]) AS nc
         |      FROM cand_$p, generate_series(1, ${this.D}) t(i) GROUP BY qid, cid),
         |r_$p AS (SELECT qid, cid, dot / (sqrt(nq) * sqrt(nc)) AS cos,
         |        row_number() OVER (PARTITION BY qid
         |                           ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, cid) AS rn
         |      FROM d_$p)""".stripMargin

    /** Exact brute-force top-3 per query over the same universe. */
    private val bfCtes: String =
      s"""bfd AS (SELECT q.qid, e.vec_id AS cid,
         |          sum(q.qe[t.i] * e.e[t.i]) AS dot,
         |          sum(q.qe[t.i] * q.qe[t.i]) AS nq,
         |          sum(e.e[t.i] * e.e[t.i]) AS nc
         |        FROM q, femb e, generate_series(1, ${this.D}) t(i)
         |        WHERE e.vec_id <> q.qid GROUP BY q.qid, e.vec_id),
         |bf AS (SELECT qid, cid,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, cid) AS rn
         |       FROM bfd),
         |bf3 AS (SELECT qid, cid FROM bf WHERE rn <= 3)""".stripMargin

    val sql: String =
      s"""WITH $baseCtes,
         |${probeChain(2)}
         |SELECT qid, cid, round(cos, 6) AS cos_sim FROM r_2 WHERE rn <= 3""".stripMargin

    /** Per-query recall@3 of the IVF result vs the exact brute-force
      * top-3 over the SAME candidate universe (everything but self).
      */
    val recallSql: String =
      s"""WITH $baseCtes,
         |${probeChain(2)},
         |$bfCtes,
         |ivf3 AS (SELECT qid, cid FROM r_2 WHERE rn <= 3)
         |SELECT b.qid, round(sum(CASE WHEN i.cid IS NULL THEN 0 ELSE 1 END) / 3.0, 6) AS recall3
         |FROM bf3 b LEFT JOIN ivf3 i ON i.qid = b.qid AND i.cid = b.cid
         |GROUP BY b.qid""".stripMargin

    /** The nprobe sweep evaluated by q_ann_ivf_recall_curve. */
    val curveProbes: Seq[Int] = Seq(1, 2, 4)

    /** recall@3 per (nprobe, query): the full recall/cost curve of the
      * IVF dial, each point exactly replicated.
      */
    val recallCurveSql: String = {
      val selects = curveProbes.map { p =>
        s"""SELECT CAST($p AS BIGINT) AS nprobe, b.qid,
           | round(sum(CASE WHEN i.cid IS NULL THEN 0 ELSE 1 END) / 3.0, 6) AS recall3
           |FROM bf3 b LEFT JOIN (SELECT qid, cid FROM r_$p WHERE rn <= 3) i
           |  ON i.qid = b.qid AND i.cid = b.cid
           |GROUP BY b.qid""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $baseCtes,
         |${curveProbes.map(probeChain).mkString(",\n")},
         |$bfCtes
         |$selects""".stripMargin
    }

    /** Per-cluster profile for q_embedding_clusters: membership from
      * `afin` (ties to the lowest cl, matching the engine argmin), the
      * member's squared distance to its assigned center (≡ the engine's
      * `array_min(distances)` — the assignment IS the argmin), floored
      * to micro per member so the cluster sum is an integer sum.
      */
    val clustersSql: String =
      s"""WITH $withClauses,
         |$balancedCtes,
         |mem AS (
         |  SELECT a.vec_id, a.cl, ${sqdist("e.e", "c.e")} AS d2
         |  FROM bafin a JOIN femb e ON e.vec_id = a.vec_id
         |              JOIN bc$S c ON c.cl = a.cl)
         |SELECT CAST(cl AS BIGINT) AS cluster, count(*) AS n,
         |  CAST(sum(CAST(floor(1e6 * d2) AS BIGINT)) AS BIGINT) AS sse_micro,
         |  min(vec_id) AS exemplar,
         |  CAST(floor(CAST(sum(CAST(floor(1e6 * d2) AS BIGINT)) AS DOUBLE)
         |             / count(*)) AS BIGINT) AS mean_dist2_micro
         |FROM mem GROUP BY cl""".stripMargin

    /** Self-kNN (k=1) within quantizer cells: every vector's nearest
      * same-cell neighbour — replicates the engine's IVF 1-probe kNN
      * join with identical tie-breaks. Vectors alone in their cell emit
      * no row (both engines).
      */
    /** The pairwise CTEs compute the per-pair cosine with native
      * `list_dot_product` over per-row precomputed norms instead of a
      * ×D `generate_series` lateral unnest + re-aggregation — at the
      * sf10 vector step the unnest form materializes Σn_cell² × D ≈
      * 1.3×10¹⁰ intermediate rows and never finishes; the native fold
      * also matches the engine's in-order dot accumulation more closely
      * than an unordered SUM ever did.
      */
    val knnSql: String =
      s"""WITH $withClauses,
         |$balancedCtes,
         |cells AS MATERIALIZED (
         |  SELECT a.vec_id AS cid, e.e AS ce,
         |    list_dot_product(e.e, e.e) AS n2, a.cl AS cell
         |  FROM bafin a JOIN femb e ON e.vec_id = a.vec_id),
         |pd AS (
         |  SELECT l.cid AS qid, r.cid,
         |    list_dot_product(l.ce, r.ce) / (sqrt(l.n2) * sqrt(r.n2)) AS cos
         |  FROM cells l JOIN cells r ON l.cell = r.cell AND l.cid <> r.cid),
         |pk AS (SELECT qid, cid, cos,
         |         row_number() OVER (PARTITION BY qid
         |                            ORDER BY cos DESC, cid) AS rn
         |       FROM pd)
         |SELECT qid AS vec_id, cid AS nn_id, round(cos, 6) AS cos_sim
         |FROM pk WHERE rn = 1""".stripMargin

    /** SemDeDup-style keep mask: a vector is a duplicate iff some
      * SMALLER-id vector in its quantizer cell has cosine ≥ τ
      * (keep-the-earliest policy, mirroring the engine exactly).
      */
    def semanticDedupSql(tau: Double): String =
      s"""WITH $withClauses,
         |$balancedCtes,
         |cells AS MATERIALIZED (
         |  SELECT a.vec_id AS cid, e.e AS ce,
         |    list_dot_product(e.e, e.e) AS n2, a.cl AS cell
         |  FROM bafin a JOIN femb e ON e.vec_id = a.vec_id),
         |dup AS (
         |  SELECT DISTINCT l.cid AS vid
         |  FROM cells l JOIN cells r ON l.cell = r.cell AND r.cid < l.cid
         |  WHERE list_dot_product(l.ce, r.ce) / (sqrt(l.n2) * sqrt(r.n2)) >= $tau)
         |SELECT c.cid AS vec_id,
         |  CAST(CASE WHEN d.vid IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM cells c LEFT JOIN dup d ON d.vid = c.cid""".stripMargin
  }

  private def emb(s: SparkSession, dir: String): DataFrame =
    PointSource.fromEmbeddings(s, dir)

  /** q_bfr_assign and q_bfr_stats share one BFR run. */
  private val bfrResult = Artifact("ml_bfr_run") { (s, dir) =>
    val points = emb(s, dir)
    val chunks = (0 until 4).map(i => points.filter(pmod(col("id"), lit(4)) === i))
    // production RS threshold: re-clustering fires on real overflow, not
    // on every round (the tiny-job storm dominated bench time at 50)
    BFR.run(s, chunks, BFR.Config(k = 10, rsClusterThreshold = 500))
  }

  /** The three k-means queries share one fit. */
  private val kmeansModel = Artifact("ml_kmeans_fit") { (s, dir) =>
    KMeans.fit(emb(s, dir), k = 10, iters = 5)
  }

  private[graft] def sharedArtifactWarmers
      : Seq[(String, (SparkSession, String) => Unit)] =
    Seq(bfrResult, kmeansModel, ivfModel, pqModels, bandedNearDup).map(_.warmer)

  /** Persisted-quantizer store path, content-keyed: a production ANN tier
    * trains codebooks once and serves many sessions from the stored
    * artifact ([[graft.kmeans.ModelStore]]). The key fingerprints the
    * corpus — dir + row count + id sum + dimensionality + a VALUE
    * checksum (order-independent long sum of per-row crc32s, so it is
    * deterministic across parallelism levels) — and the caller appends
    * its fit hyperparameters to the artifact name, so neither
    * regenerated testdata (same layout, new values) nor a k/iters
    * change can ever serve a stale codebook. One bounded aggregate per
    * (session, dir).
    */
  private def modelPath(s: SparkSession, dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_models/${modelKey(s, dir)}/$name.parquet"

  private val modelKey = Artifact("ml_model_key") { (s, dir) =>
    val r = emb(s, dir).agg(count(lit(1)), sum(col("id")),
      first(size(col("features"))),
      sum(crc32(concat_ws(",", col("id"),
        element_at(col("features"), 1), element_at(col("features"), -1))))).head()
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"$dir|${r.getLong(0)}|${r.getLong(1)}|${r.getInt(2)}|${r.getLong(3)}"
        .getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  private def embWithLabel(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("e"), col("label"))

  private val D = 64

  // ---------------------------------------------------------------------
  // K-Means (M1 seeding + M2 Lloyd) and BFR (M4-M9)
  // ---------------------------------------------------------------------

  val kmeansAssign = Q("q_kmeans_assign",
    (s, dir) => {
      val points = emb(s, dir)
      kmeansModel(s, dir).assign(points, "features")
        .select(col("id"), col("label").as("cluster"))
    },
    Some(KmeansOracle.assignSql))

  val kmeansCenters = Q("q_kmeans_centers",
    (s, dir) => {
      import s.implicits._
      val model = kmeansModel(s, dir)
      model.centers.zipWithIndex.toSeq
        .flatMap { case (c, i) => c.zipWithIndex.map { case (v, p) =>
          (i, p.toLong, math.rint(v * 1e6) / 1e6) } }
        .toDF("cluster", "pos", "c")
    },
    Some(KmeansOracle.centersSql))

  val bfrAssign = Q("q_bfr_assign",
    (s, dir) => bfrResult(s, dir).assignments.select(col("id"), col("cluster")),
    Some(BfrOracleSql.assignSql))

  val bfrStats = Q("q_bfr_stats",
    (s, dir) => {
      import s.implicits._
      bfrResult(s, dir).stats.toDF()
    },
    Some(BfrOracleSql.statsSql))

  /** MLlib-backed k-means through the same Model API — the
    * scale-preferred fit path (SURVEY §7 "MLlib-backed + exact mode").
    * Pinned deterministic: Lloyd runs from the engine's maximin seeds via
    * the RDD API's setInitialModel (no randomized k-means|| init), a full
    * `iters` rounds (epsilon=0), so MLlib's distributed Lloyd reproduces
    * the deterministic twin's centers exactly after 6-decimal rounding —
    * and shares its unrolled SQL oracle. The query therefore proves the
    * MLlib execution path computes the same model the engine does.
    */
  val kmeansMllibCenters = Q("q_kmeans_mllib_centers",
    (s, dir) => {
      import s.implicits._
      val pts = emb(s, dir)
      val seeds = KMeans.seed(pts, k = 10, featCol = "features", idCol = "id")
      val model = graft.kmeans.MLlibKMeans.fitFromSeeds(pts, seeds, iters = 5)
      model.centers.zipWithIndex.toSeq
        .flatMap { case (c, i) => c.zipWithIndex.map { case (v, p) =>
          (i, p.toLong, math.rint(v * 1e6) / 1e6) } }
        .toDF("cluster", "pos", "c")
    },
    Some(KmeansOracle.centersSql))

  /** NMI of the engine's k-means clustering vs the testdata ground-truth
    * labels — the reference's end-to-end quality gate (NMI > 0.8,
    * HW4.pdf §4.3).
    */
  val kmeansNmi = Q("q_kmeans_nmi",
    (s, dir) => {
      import s.implicits._
      val points = embWithLabel(s, dir)
      val pred = kmeansModel(s, dir)
        .assign(points.select(col("vec_id").as("id"), col("e").as("features")), "features")
        .select(col("id"), col("label"))
      val truth = points.select(col("vec_id"), col("label"))
      Seq(math.rint(Nmi.score(pred, truth) * 1e6) / 1e6).toDF("nmi")
    },
    Some(KmeansOracle.nmiSql))

  /** M10 arithmetic oracle-checked: NMI between two categorical columns of
    * `documents`, replicated in closed-form SQL.
    */
  val nmiLangSource = Q("q_nmi_lang_source",
    (s, dir) => {
      import s.implicits._
      val d = Tables.read(s, dir, "documents")
      val v = Nmi.score(d.select(col("doc_id"), col("lang")),
        d.select(col("doc_id"), col("source")))
      Seq(math.rint(v * 1e6) / 1e6).toDF("nmi")
    },
    Some("""WITH cont AS (
           |  SELECT lang AS yp, source AS yt, count(*) AS c FROM documents GROUP BY lang, source),
           |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM cont),
           |pp AS (SELECT yp, CAST(sum(c) AS DOUBLE) AS cp FROM cont GROUP BY yp),
           |tt AS (SELECT yt, CAST(sum(c) AS DOUBLE) AS ct FROM cont GROUP BY yt),
           |mi AS (SELECT sum((cont.c / tot.n) * ln(cont.c * tot.n / (pp.cp * tt.ct))) AS v
           |       FROM cont, tot, pp, tt WHERE cont.yp = pp.yp AND cont.yt = tt.yt),
           |hp AS (SELECT -sum((cp / n) * ln(cp / n)) AS v FROM pp, tot),
           |ht AS (SELECT -sum((ct / n) * ln(ct / n)) AS v FROM tt, tot)
           |SELECT round(mi.v / ((hp.v + ht.v) / 2), 6) AS nmi FROM mi, hp, ht""".stripMargin))

  // ---------------------------------------------------------------------
  // Similarity search (ANN)
  // ---------------------------------------------------------------------

  /** Brute-force cosine top-k: queries (vec_id < 5) × candidates, exact
    * top-3 per query. The query side is broadcast; candidates stream
    * map-side — the baseline ANN the scale path is measured against.
    */
  val annBruteForce = Q("q_ann_brute_force",
    (s, dir) => {
      val e = embWithLabel(s, dir)
      val q = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("e").as("qe"))
      val c = e.filter(col("vec_id") >= 5)
        .select(col("vec_id").as("cid"), col("e").as("ce"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      c.crossJoin(broadcast(q))
        .withColumn("cos", cosine(col("ce"), col("qe")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos_sim"),
          col("rn").cast("long").as("rn"))
    },
    Some(s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
            |c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 5),
            |d AS (SELECT qid, cid,
            |        sum(CAST(qe[t.i] AS DOUBLE) * CAST(ce[t.i] AS DOUBLE)) AS dot,
            |        sum(CAST(qe[t.i] AS DOUBLE) * CAST(qe[t.i] AS DOUBLE)) AS nq,
            |        sum(CAST(ce[t.i] AS DOUBLE) * CAST(ce[t.i] AS DOUBLE)) AS nc
            |      FROM q, c, generate_series(1, $D) AS t(i) GROUP BY qid, cid),
            |r AS (SELECT qid, cid, dot / (sqrt(nq) * sqrt(nc)) AS cos,
            |        row_number() OVER (PARTITION BY qid
            |                           ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, cid) AS rn
            |      FROM d)
            |SELECT qid, cid, round(cos, 6) AS cos_sim, rn FROM r WHERE rn <= 3""".stripMargin))

  /** IVF-style ANN (the 100 TB scale path): partition candidates into
    * k-means cells, probe only the 2 cells nearest each query. Recall<1
    * by design → rows-only check; correctness of the underlying math is
    * covered by q_ann_brute_force.
    */
  /** One IVF quantizer fit, shared by the search and recall queries. */
  private val ivfModel = Artifact("ml_ivf_model") { (s, dir) =>
    // load-if-persisted, train-and-persist otherwise: a second cold
    // session serves the identical quantizer without refitting. The
    // SERVED codebook is the skew-BALANCED one: base k-means, then
    // BalancedIvf.splitHotCells caps cell occupancy at IvfCapFactor ×
    // average so probe-time candidate volume (and the posting-list
    // size a 100 TB layout buckets by) is bounded — the enlarged
    // center list changes nothing downstream (assignment stays the
    // same map-side argmin kernel). Balancing runs on the quantizer's
    // fit sample: the full corpus at test SFs (id-ordered, matching
    // the unrolled oracle); at real scale the same driver-held
    // training sample the base fit would use. The base fit is
    // regime-switched on the corpus census (see [[IvfScaleN]]):
    // k=8 maximin below the threshold, census-k md5-ranked seeds above.
    val e = emb(s, dir)
    val n = e.count()
    val k = ivfKFor(n)
    // "mc" = median-cut split init, "h" = md5-ranked seeding, "-sN" =
    // truncating training sample — all part of the artifact identity
    // so neither a split-rule, regime, nor sample-knob change can
    // ever serve a stale persisted codebook
    val name =
      if (n <= IvfScaleN) s"ivf-k$IvfK-i$IvfIters-bal${IvfSplitBudget}c${IvfCapFactor}mc"
      else s"ivf-census-k$k-i$IvfIters-bal${IvfSplitBudget}c${IvfCapFactor}mc-h" +
        (if (n > IvfSampleN) s"-s$IvfSampleN" else "")
    graft.kmeans.ModelStore.getOrFit(s, modelPath(s, dir, name), {
      // bounded training sample ([[IvfSampleN]]): below the knob, the
      // full corpus; above it, the IvfSampleN rows with the smallest
      // (md5(id), id), selected DISTRIBUTED in two phases so no stage
      // ever moves corpus-scale OR sample×partitions feature bytes:
      //  1. rank on SKINNY (hash, id) rows — TakeOrdered task results
      //     are ~56 B/row, so even 1000 partitions ship MBs;
      //  2. fetch features for exactly the S selected ids via a
      //     broadcast semi-join (S longs ≈ 512 KB broadcast) — the
      //     collect is S rows, period.
      // (A single orderBy+limit over (id, features) would carry the
      // 530 B vector payload through every per-partition top-S task
      // result — O(S × partitions) driver bytes, the same class of
      // hazard this sample exists to remove.) The fit matrix is then
      // id-ordered either way, so the fit's float accumulation order
      // is the same one every certified SF already runs.
      val sampled =
        if (n <= IvfSampleN)
          e.select(col("id").cast("long").as("__id"), col("features")).collect()
        else {
          val pickedIds = e
            .select(col("id").cast("long").as("__id"))
            .withColumn("__h", md5(col("__id").cast("string")))
            .orderBy(col("__h"), col("__id"))
            .limit(IvfSampleN.toInt)
            .select(col("__id"))
          e.select(col("id").cast("long").as("__id"), col("features"))
            .join(broadcast(pickedIds), Seq("__id"), "left_semi")
            .collect()
        }
      val pairs = sampled
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1)
      val rows = pairs.map(_._2)
      val base =
        if (n <= IvfScaleN) KMeans.fit(e, k = IvfK, iters = IvfIters)
        else {
          val seeds = pairs.sortBy { case (id, _) => (md5Hex(id.toString), id) }
            .take(k).map(_._2.clone())
          KMeans.fitLocal(rows, k, IvfIters, 0, initCenters = seeds)
        }
      val bal = graft.kmeans.BalancedIvf.splitHotCells(rows, base.centers,
        capFactor = IvfCapFactor, maxCenters = k + IvfSplitBudget)
      Array(KMeans.Model(bal.centers))
    }).head
  }

  /** IVF top-3 per query with the running cosine: nearest-`nprobe`-cells
    * pruning, self excluded (shared by q_ann_ivf and the recall
    * evaluations). nprobe is THE recall/cost dial: candidates scanned
    * grow ~linearly with probed cells, recall approaches brute force.
    */
  private def ivfTop3(s: SparkSession, dir: String, nprobe: Int = 2): DataFrame = {
    val e = emb(s, dir)
    val model = ivfModel(s, dir)
    val cells = model.assign(e, "features")
      .select(col("id").as("cid"), col("features").as("ce"), col("label").as("cell"))
    val q = e.filter(col("id") < 5)
      .select(col("id").as("qid"), col("features").as("qe"))
    // nprobe nearest cells per query (centers are a tiny literal)
    val dists = model.distances(col("qe"))
    val probes = q.withColumn("cells",
        slice(array_sort(zip_with(dists, sequence(lit(0), lit(model.k - 1)),
          (d0, i) => struct(d0.as("d"), i.as("cell")))), 1, nprobe))
      .select(col("qid"), col("qe"), explode(col("cells.cell")).as("cell"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", cosine(col("ce"), col("qe")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"), col("cos"))
  }

  /** Exact brute-force top-3 per query (self excluded) — the recall
    * reference set shared by both recall evaluations.
    */
  private def bfTop3(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val q = e.filter(col("id") < 5)
      .select(col("id").as("qid"), col("features").as("qe"))
    val cand = e.select(col("id").as("cid"), col("features").as("ce"))
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
    cand.crossJoin(broadcast(q))
      .filter(col("cid") =!= col("qid"))
      .withColumn("cos", cosine(col("ce"), col("qe")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"))
  }

  val annIvf = Q("q_ann_ivf",
    (s, dir) => ivfTop3(s, dir)
      .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos_sim")),
    Some(IvfOracle.sql))

  /** Recall@3 of the IVF scale path vs the exact brute-force top-3 over
    * the same candidate universe — the evaluation that quantifies what
    * 2-probe cell pruning costs. Exact rational output (matches / 3), so
    * the approximate operator's QUALITY is itself oracle-checked.
    */
  val annIvfRecall = Q("q_ann_ivf_recall",
    (s, dir) => {
      val ivf3 = ivfTop3(s, dir).select(col("qid"), col("cid"), lit(1).as("m"))
      bfTop3(s, dir).join(ivf3, Seq("qid", "cid"), "left")
        .groupBy(col("qid"))
        .agg(round(sum(coalesce(col("m"), lit(0))) / 3.0, 6).as("recall3"))
    },
    Some(IvfOracle.recallSql))

  /** Recall@3 as a function of nprobe ∈ {1, 2, 4} — the measured
    * recall/cost curve of the IVF dial a real ANN user tunes. Exact
    * rationals per (nprobe, query), so every point of the curve is
    * oracle-checked, same construction as q_ann_ivf_recall.
    */
  val annIvfRecallCurve = Q("q_ann_ivf_recall_curve",
    (s, dir) => {
      val bf3 = bfTop3(s, dir)
      IvfOracle.curveProbes.map { p =>
        val ivf3 = ivfTop3(s, dir, p).select(col("qid"), col("cid"), lit(1).as("m"))
        bf3.join(ivf3, Seq("qid", "cid"), "left")
          .groupBy(col("qid"))
          .agg(round(sum(coalesce(col("m"), lit(0))) / 3.0, 6).as("recall3"))
          .select(lit(p.toLong).as("nprobe"), col("qid"), col("recall3"))
      }.reduce(_ union _)
    },
    Some(IvfOracle.recallCurveSql))

  /** Within-cell self-kNN: every vector's nearest neighbour inside its
    * IVF quantizer cell (1-probe kNN join) — the "find each example's
    * closest sibling" primitive semantic dedup and curriculum mining
    * build on. Scale shape: the pairwise join is CELL-BOUNDED (Σ n_cell²,
    * never corpus²) and the quantizer is the persisted ModelStore
    * artifact; at real scale cells are capped/split so the bound holds.
    * Vectors alone in their cell emit no row (both engines).
    */
  /** Cells with the per-vector norm precomputed ONCE map-side, so the
    * within-cell pairwise pass runs one dot kernel per joined row instead
    * of cosine's three. norm2 = sqrt(dot(v,v)) matches the oracle's
    * sqrt(nq)·sqrt(nc) factor exactly.
    */
  private def semanticCells(s: SparkSession, dir: String): DataFrame =
    ivfModel(s, dir).assign(emb(s, dir), "features")
      .select(col("id"), col("features"), col("label").as("cell"),
        norm2(col("features")).as("nrm"))

  private def cellCos: Column =
    when(col("qn") === 0.0 || col("cn") === 0.0, lit(0.0))
      .otherwise(dot(col("qe"), col("ce")) / (col("qn") * col("cn")))

  val semanticKnn = Q("q_semantic_knn",
    (s, dir) => {
      val cells = semanticCells(s, dir)
      val l = cells.select(col("id").as("vec_id"), col("features").as("qe"),
        col("nrm").as("qn"), col("cell"))
      val r = cells.select(col("id").as("nn_id"), col("features").as("ce"),
        col("nrm").as("cn"), col("cell"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nn_id"))
      l.join(r, Seq("cell")).filter(col("vec_id") =!= col("nn_id"))
        // arrays dropped BEFORE the window: only (ids, cos) shuffle
        .select(col("vec_id"), col("nn_id"), cellCos.as("cos"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("vec_id"), col("nn_id"), round(col("cos"), 6).as("cos_sim"))
    },
    Some(IvfOracle.knnSql))

  private val semanticTau = 0.95

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): embeddings are
    * partitioned into quantizer cells, and within each cell a vector is
    * a DUPLICATE iff some smaller-id vector sits at cosine ≥ τ —
    * keep-the-earliest, exactly the near-dup keep-policy transplanted to
    * embedding space. The quadratic is cell-bounded by construction
    * (that is SemDeDup's entire point at 100 TB scale), and the oracle
    * replicates cells + pairwise cosine + the keep mask closed-form.
    * Cross-cell near-dups are deliberately out of contract (documented
    * approximation; the banded-LSH tier catches them).
    */
  val semanticDedup = Q("q_semantic_dedup",
    (s, dir) => {
      val cells = semanticCells(s, dir)
      val l = cells.select(col("id").as("vec_id"), col("features").as("qe"),
        col("nrm").as("qn"), col("cell"))
      val r = cells.select(col("id").as("nn_id"), col("features").as("ce"),
        col("nrm").as("cn"), col("cell"))
      val dup = l.join(r, Seq("cell"))
        .filter(col("nn_id") < col("vec_id"))
        .filter(cellCos >= semanticTau)
        .select(col("vec_id")).distinct()
      cells.select(col("id").as("vec_id"))
        .join(dup.withColumn("__d", lit(1L)), Seq("vec_id"), "left")
        .select(col("vec_id"),
          (coalesce(col("__d"), lit(0L)) === 0L).cast("long").as("kept"))
    },
    Some(IvfOracle.semanticDedupSql(semanticTau)))

  /** Embedding-cosine near-duplicate pairs (brute force at test scale;
    * the LSH/IVF variants are the scale path).
    */
  val embeddingNearDup = Q("q_embedding_near_dup",
    (s, dir) => {
      // pre-normalize each side once so the O(n^2) pair loop does a
      // single dot product instead of dot + two norms (3x less work)
      val e = emb(s, dir)
      val unit = e.select(col("id"), col("features"), norm2(col("features")).as("nrm"))
        .select(col("id"), transform(col("features"), x => x / col("nrm")).as("u"))
        .localCheckpoint(true) // materialize once; both self-join sides reuse
      val l = unit.select(col("id").as("ida"), col("u").as("ua"))
      val r = unit.select(col("id").as("idb"), col("u").as("ub"))
      l.join(r, col("ida") < col("idb"))
        .withColumn("cos", dot(col("ua"), col("ub")))
        .filter(col("cos") > 0.9)
        .select(col("ida"), col("idb"), round(col("cos"), 6).as("cos_sim"))
    },
    // list_dot_product (sequential double fold, matching the engine's
    // left-to-right kernel) instead of a 64-way generate_series fan-out:
    // at sf1 the all-pairs set is 2e8 rows, and 64x row inflation through
    // a 2e8-group hash agg is what turned this oracle pathological
    Some(s"""WITH a AS (SELECT vec_id AS ida, CAST(embedding AS DOUBLE[]) AS ea FROM embeddings),
            |b AS (SELECT vec_id AS idb, CAST(embedding AS DOUBLE[]) AS eb FROM embeddings),
            |d AS (SELECT ida, idb,
            |        list_dot_product(ea, eb) AS dot,
            |        list_dot_product(ea, ea) AS na,
            |        list_dot_product(eb, eb) AS nb
            |      FROM a, b WHERE ida < idb)
            |SELECT ida, idb, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
            |FROM d WHERE dot / (sqrt(na) * sqrt(nb)) > 0.9""".stripMargin))

  /** Random-hyperplane LSH bucketing — the scale path for embedding
    * near-dup (candidates share a sign-pattern bucket; verify with the
    * exact cosine stage). Hyperplanes derive from exact integer md5
    * arithmetic so both engines compute identical planes and the
    * bucketing itself is oracle-checked.
    */
  /** Hyperplane entries from md5, NOT from a multiplicative-hash stride:
    * the original `((j·D+i)·2654435761 mod 1997)` generator is a LATTICE —
    * within a plane the entries step by a fixed stride mod 1997, and
    * consecutive planes are shifts of the same sequence — so planes
    * correlate and sign patterns collapse (measured at the sf10 vector
    * step: ~6,700 occupied 17-bit buckets for 200k vectors, max bucket
    * ~5,100, a ~9×10⁸-pair candidate relation that no width can fix —
    * round 10's "structured generators alias" lesson, third appearance).
    * md5-derived entries are independent across (j, i); the oracle
    * computes the identical integers via DuckDB's md5 (see [[planeCtes]]).
    */
  private def hyperplane(j: Int): Array[Double] =
    Array.tabulate(D) { i =>
      ((java.lang.Long.parseLong(md5Hex(s"hp:$j:$i").substring(0, 8), 16)
        % 1997L) - 998L) / 998.0
    }

  /** Sign-pattern bit columns for the random-hyperplane bucket key. The
    * plane count is the SAME corpus-census pick as the banded tier
    * ([[bandedPlanesFor]]) — the sf10 vector step caught the original
    * fixed 8-plane key saturating combinatorially at 200k vectors
    * (expected occupancy 781, a ~1.5×10⁸-row candidate relation BY
    * CONSTRUCTION, where the census width keeps candidates ~linear in
    * n). At ≤ 512 vectors the pick is 8, the original design point.
    */
  private def lshBits(w: Int): Seq[Column] = (0 until w).map(j =>
    when(dot(col("features"), lit(hyperplane(j))) > 0.0, lit("1")).otherwise(lit("0")))

  /** The census-width plane → bit → bucket CTE chain, shared by the
    * bucketing oracle and the composed near-dup oracle — width picked by
    * the same exact-integer rule as the engine's [[bandedPlanesFor]].
    */
  /** Plane vectors as per-row LISTS (one `list_dot_product` per
    * (vector, plane)) instead of the old ×D lateral `generate_series`
    * fan-out + re-aggregation: at the sf10 step the lateral form
    * materializes corpus × planes × D ≈ 2.8×10⁹ rows through one giant
    * hash agg and OOMs DuckDB outright; this form is corpus × planes
    * rows with a native fold each, and the fold order matches the
    * engine's in-order dot kernel besides.
    */
  private def planeCtes(maxPlanes: Int, planeBound: String): String =
    s"""p AS (
       |  SELECT j.j AS j,
       |    list_transform(generate_series(0, ${D - 1}),
       |      i -> CAST((('0x' || substring(md5('hp:' || CAST(j.j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 8))::BIGINT % 1997) - 998 AS DOUBLE) / 998.0) AS hv
       |  FROM generate_series(0, ${maxPlanes - 1}) j(j)
       |  WHERE j.j < $planeBound),
       |eb AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ed FROM embeddings),
       |b AS (
       |  SELECT e.vec_id, p.j,
       |    CASE WHEN list_dot_product(e.ed, p.hv) > 0 THEN '1' ELSE '0' END AS bit
       |  FROM eb e, p)""".stripMargin

  private val lshBucketCtes: String =
    s"""wn AS (SELECT count(*) AS n FROM embeddings),
       |wd AS (SELECT coalesce(min(t.p), ${BandedWidthRange.last}) AS w
       |       FROM generate_series(${BandedWidthRange.head}, ${BandedWidthRange.last}) t(p), wn
       |       WHERE wn.n <= $BandedTargetOcc * (1 << t.p)),
       |${planeCtes(BandedWidthRange.last, "(SELECT w FROM wd)")},
       |k AS (
       |  SELECT vec_id, string_agg(bit, '' ORDER BY j) AS bucket FROM b GROUP BY vec_id)""".stripMargin

  val embeddingLshPairs = Q("q_embedding_lsh_pairs",
    (s, dir) => {
      val e = emb(s, dir)
      val bucketed = e.select(col("id"),
          concat(lshBits(bandedPlanesFor(embCount(s, dir))): _*).as("bucket"))
        .localCheckpoint(true)
      val l = bucketed.select(col("id").as("ida"), col("bucket"))
      val r = bucketed.select(col("id").as("idb"), col("bucket"))
      l.join(r, Seq("bucket")).filter(col("ida") < col("idb"))
        .select(col("ida"), col("idb"), col("bucket")).distinct()
    },
    Some(s"""WITH $lshBucketCtes
            |SELECT DISTINCT l.vec_id AS ida, r.vec_id AS idb, l.bucket
            |FROM k l JOIN k r ON l.bucket = r.bucket AND l.vec_id < r.vec_id""".stripMargin))

  /** Embedding near-dup, SCALE PATH: hyperplane-LSH bucket equi-join for
    * candidate generation, then the exact-cosine verify runs over the
    * candidates ONLY — never the O(n²) theta self-join of
    * [[embeddingNearDup]]. Norms are precomputed once per side so the
    * per-candidate verify is a single codegen dot; the cosine's FP
    * association (dot / (√na·√nb)) matches the oracle term-for-term.
    * The verify threshold (0.35) sits in the similarity regime the
    * synthetic embeddings actually contain so the verify stage filters a
    * non-empty candidate set at every SF (same-bucket cosines top out
    * ≈0.51 — a 0.9 bar would make the stage vacuous).
    */
  val embeddingNearDupLsh = Q("q_embedding_near_dup_lsh",
    (s, dir) => {
      val e = emb(s, dir)
      val bucketed = e.select(col("id"), col("features"),
          concat(lshBits(bandedPlanesFor(embCount(s, dir))): _*).as("bucket"),
          norm2(col("features")).as("nrm"))
        .localCheckpoint(true)
      val l = bucketed.select(col("id").as("ida"), col("bucket"),
        col("features").as("fa"), col("nrm").as("na"))
      val r = bucketed.select(col("id").as("idb"), col("bucket"),
        col("features").as("fb"), col("nrm").as("nb"))
      l.join(r, Seq("bucket")).filter(col("ida") < col("idb"))
        .withColumn("cos", dot(col("fa"), col("fb")) / (col("na") * col("nb")))
        .filter(col("cos") > 0.35)
        .select(col("ida"), col("idb"), round(col("cos"), 6).as("cos_sim"))
    },
    Some(s"""WITH $lshBucketCtes,
            |cand AS (
            |  SELECT l.vec_id AS ida, r.vec_id AS idb
            |  FROM k l JOIN k r ON l.bucket = r.bucket AND l.vec_id < r.vec_id),
            |d AS (SELECT c.ida, c.idb,
            |        list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(bb.embedding AS DOUBLE[])) AS dot,
            |        list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])) AS na,
            |        list_dot_product(CAST(bb.embedding AS DOUBLE[]), CAST(bb.embedding AS DOUBLE[])) AS nb
            |      FROM cand c JOIN embeddings a ON a.vec_id = c.ida
            |                  JOIN embeddings bb ON bb.vec_id = c.idb)
            |SELECT ida, idb, round(dot / (sqrt(na) * sqrt(nb)), 6) AS cos_sim
            |FROM d WHERE dot / (sqrt(na) * sqrt(nb)) > 0.35""".stripMargin))

  /** Banded random-hyperplane LSH — the recall-tunable production form
    * of the embedding near-dup tier: B(w) bands × w planes, candidates =
    * pairs sharing ANY band's full w-bit sign pattern, with (w, B)
    * picked from the corpus census (see [[bandedPlanesFor]] /
    * [[BandedBandsForWidth]]: w keeps expected bucket occupancy ≤ 2 so
    * candidate volume stays ~linear in n; B(w) holds OR-of-ANDs
    * detection at cos 0.95 near the 4×8 design point's ≈ 0.89 —
    * 4×8 at ≤ 512 vectors, 6×10 at sf0.1, 9×14 at sf1). The same
    * banding shape as the MinHash tier; candidate generation reuses the
    * SAME skew-guarded [[TextOps.candidatePairs]] in SALTED-COMPLETE
    * mode as defense in depth: even when a band space saturates (the
    * round-10 fixed-8-bit failure: sf1 averaged 78 vectors per bucket),
    * hot buckets keep the complete pair relation via the block-grid
    * salted self-join, per-task output bounded — the width knob makes
    * saturation not happen, the salted mode makes it safe if it does.
    */
  /** Corpus-density fingerprint sizing for the banded tier — the round-10
    * sf1 lesson generalized: a FIXED band width saturates combinatorially
    * once corpus/2^w ≫ 1 (sf1's 20k vectors averaged 78 per 8-bit bucket,
    * making candidate volume ~quadratic BY CONSTRUCTION). The width is
    * now a census-driven knob both engines pick identically:
    * w = smallest plane count in 8..20 with n ≤ 2·2^w (expected bucket
    * occupancy ≤ 2 ⇒ expected candidate volume ~linear in n), and the
    * band count B(w) holds the OR-of-ANDs detection probability at
    * cos 0.95 near the original 4×8 design point (≈ 0.89):
    * B = ⌈ln(0.11)/ln(1 − (1 − θ/π)^w)⌉, θ = acos(0.95) — PRECOMPUTED as
    * a constant table so the pick is exact-integer in both engines (no
    * runtime ceil on a transcendental boundary).
    */
  // (width constants declared with the IVF census constants near the top
  // of the object — declaration order matters: the LSH bucket CTE vals
  // read them during object initialization)

  /** The corpus-count census, the input to the width pick (a count-star
    * on a parquet footer scan, not a data read).
    */
  private val embCount = Artifact("ml_embedding_count") { (s, dir) => emb(s, dir).count() }

  private def bandedBits(b: Int, w: Int): Column = concat((b * w until (b + 1) * w).map(j =>
    when(dot(col("features"), lit(hyperplane(j))) > 0.0, lit("1")).otherwise(lit("0"))): _*)

  /** Banded candidates → exact-cosine verify (> 0.35): (ida, idb, cos) —
    * shared by the pair query and the grouping query.
    */
  private val bandedNearDup = Artifact("ml_embedding_banded") { (s, dir) =>
    bandedNearDupUncached(s, dir).localCheckpoint(true)
  }

  private def bandedNearDupUncached(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val w = bandedPlanesFor(embCount(s, dir))
    val nBands = BandedBandsForWidth(w)
    val bucketed = e.select(Seq(col("id"), col("features"),
        norm2(col("features")).as("nrm")) ++
        (0 until nBands).map(b => bandedBits(b, w).as(s"bk$b")): _*)
      .localCheckpoint(true)
    // single melt pass over the checkpointed bucket columns — see
    // TextOps.meltBands
    val bands = TextOps.meltBands(bucketed, "id",
      (0 until nBands).map(b => col(s"bk$b")))
    val cand = TextOps.candidatePairs(bands, "id", hotComplete = true)
    val l = bucketed.select(col("id").as("doc_a"), col("features").as("fa"), col("nrm").as("na"))
    val r = bucketed.select(col("id").as("doc_b"), col("features").as("fb"), col("nrm").as("nb"))
    // SHUFFLE_HASH on the vector-fetch joins: the build side is the
    // corpus (one 64-d vector per row), the streamed side is the pair
    // relation — on a copies-heavy corpus the declared answer itself is
    // Ω(members²) per near-dup family (sf10: ~10⁷ pairs), and SMJ would
    // SORT the pair stream twice while it carries 530-byte vectors
    // (observed at the sf10 step: ~80 GB of transient sort spill filled
    // the disk); the hash join streams it unsorted, so only the compact
    // (doc_a, doc_b) shuffle and the build-side corpus ever hit disk.
    cand.join(l.hint("shuffle_hash"), Seq("doc_a"))
      .join(r.hint("shuffle_hash"), Seq("doc_b"))
      .withColumn("cos", dot(col("fa"), col("fb")) / (col("na") * col("nb")))
      .filter(col("cos") > 0.35)
      .select(col("doc_a").as("ida"), col("doc_b").as("idb"), col("cos"))
  }

  /** Banded plane → bit → band-bucket → candidate → verify CTE chain,
    * shared by the pair and grouping oracles. `vp` = verified pairs.
    * The width/band-count pick is replicated from the census (`wn`/`wd`/
    * `wb`) with the same exact-integer rule and constant B(w) table as
    * the engine; the plane range is generated to the table's maximum and
    * filtered down to the picked nb·w (DuckDB's generate_series takes no
    * lateral column bounds).
    */
  private val bandedCtes: String = {
    val maxPlanes =
      BandedBandsForWidth(BandedWidthRange.last) * BandedWidthRange.last
    val bCase = BandedWidthRange
      .map(w => s"WHEN $w THEN ${BandedBandsForWidth(w)}")
      .mkString(" ")
    s"""wn AS (SELECT count(*) AS n FROM embeddings),
       |wd AS (SELECT coalesce(min(t.p), ${BandedWidthRange.last}) AS w
       |       FROM generate_series(${BandedWidthRange.head}, ${BandedWidthRange.last}) t(p), wn
       |       WHERE wn.n <= $BandedTargetOcc * (1 << t.p)),
       |wb AS (SELECT w, CASE w $bCase END AS nb FROM wd),
       |${planeCtes(maxPlanes, "(SELECT nb * w FROM wb)")},
       |k AS MATERIALIZED (
       |  SELECT vec_id, b.j // wb.w AS band, string_agg(bit, '' ORDER BY b.j) AS bucket
       |  FROM b, wb GROUP BY vec_id, b.j // wb.w),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT l.vec_id AS ida, r.vec_id AS idb
       |  FROM k l JOIN k r ON l.band = r.band AND l.bucket = r.bucket
       |    AND l.vec_id < r.vec_id),
       |dd AS (SELECT c.ida, c.idb,
       |        list_dot_product(a.ed, bb.ed) AS dot,
       |        list_dot_product(a.ed, a.ed) AS na,
       |        list_dot_product(bb.ed, bb.ed) AS nb
       |      FROM cand c JOIN eb a ON a.vec_id = c.ida
       |                  JOIN eb bb ON bb.vec_id = c.idb),
       |vp AS MATERIALIZED (SELECT ida, idb, dot / (sqrt(na) * sqrt(nb)) AS cos FROM dd
       |       WHERE dot / (sqrt(na) * sqrt(nb)) > 0.35)""".stripMargin
  }

  val embeddingNearDupBanded = Q("q_embedding_near_dup_banded",
    (s, dir) => bandedNearDup(s, dir)
      .select(col("ida"), col("idb"), round(col("cos"), 6).as("cos_sim")),
    Some(s"WITH $bandedCtes\nSELECT ida, idb, round(cos, 6) AS cos_sim FROM vp"))

  /** Unrolled pointer-jumping min-label rounds over an `edges(ea, eb)`
    * CTE (symmetric, self-free): round t+1 sets
    * lbl(v) = min( lbl(lbl(v)), min over neighbours u of lbl(u) ),
    * i.e. neighbour-min propagation PLUS a pointer jump through the
    * vertex's own current label — the path-halving that makes
    * convergence O(log n) in component size instead of O(diameter).
    * Emitted for oracles whose pair graph can form GIANT components
    * (the sf1 embedding graph has an 18,990-vertex component at
    * cos > 0.35): the classic `reach` transitive-closure CTE is
    * Σ n_c² ≈ 3.6e8 result rows there with far larger recursive
    * intermediates — it never finishes — while each unrolled round here
    * is one |edges|-sized join (~0.3 s at sf1). Round budget is set from
    * MEASURED convergence: 42 rounds at sf0.1 (a sparse 548-vertex
    * chain component — the convergence is diameter-bound when ids along
    * a chain are adversarially ordered, the jump only helps once label
    * paths form), 9 at sf1 (10× data but the cross-copy groups densify
    * the graph), ≤ 16 at sf0.01; 64 gives ≥ 1.5× headroom over the
    * worst measured case at negligible cost. A non-converged unroll can
    * only DIFFER from the engine's fixpoint CC labels (labels are
    * monotone decreasing and bounded below by the component min), so
    * under-unrolling surfaces as a hash mismatch, never a silent pass.
    * On top of that, [[pointerJumpCcGuardedSelect]] appends a
    * convergence-assert: if any label still changed between the last
    * two rounds the oracle RAISES (`error('…under-unrolled…')`) instead
    * of emitting rows, so a too-long chain at a future SF reads as
    * "oracle under-unrolled", not as a generic engine-CC hash mismatch.
    */
  private def pointerJumpCcSql(rounds: Int): String =
    OracleCc.rounds(rounds, "ea", "eb")

  /** Final SELECT for the unrolled pointer-jump chain with a loud
    * non-convergence guard — see [[OracleCc.guardedSelect]]. */
  private def pointerJumpCcGuardedSelect(rounds: Int, idCol: String): String =
    OracleCc.guardedSelect(rounds, idCol)

  /** Embedding dedup GROUPS: connected components over the banded
    * verified pairs — the vector twin of q_dedup_groups (text tier),
    * sharing the same iterative min-label operator; oracle = unrolled
    * pointer-jump min-label rounds over the same verified-pair CTE
    * chain (see [[pointerJumpCcSql]] — the text/media grouping oracles
    * keep the simple recursive closure because their components are
    * bounded by construction at ≤ 10 / ≤ 4 members; the embedding graph
    * is the one whose components are data-driven and can go giant).
    */
  val embeddingDedupGroups = Q("q_embedding_dedup_groups",
    (s, dir) => graft.operators.ConnectedComponents
      .canonicalize(bandedNearDup(s, dir).select(col("ida"), col("idb")))
      .select(col("doc_id").as("vec_id"), col("canonical_id")),
    Some(s"""WITH $bandedCtes,
            |edges AS MATERIALIZED (
            |  SELECT ida AS ea, idb AS eb FROM vp
            |  UNION SELECT idb, ida FROM vp),
            |${pointerJumpCcSql(64)},
            |${pointerJumpCcGuardedSelect(64, "vec_id")}""".stripMargin),
    // Scaled-gate twin: consume the just-verified
    // q_embedding_near_dup_banded dump (the IDENTICAL bandedNearDup pair
    // set) instead of re-deriving the banded candidate chain — the base
    // oracle legitimately streams ~90 GB through DuckDB at sf1 (spills
    // >78 GB under an 80 GB cap), which forces the sf1 gate to run
    // uncapped and solo; composed over the survivor dump it runs at the
    // standard capped budget. Same 64-round budget as the base.
    scaleOracle = Some(
      s"""WITH pairs AS (
         |  SELECT ida AS doc_a, idb AS doc_b
         |  FROM dump_q_embedding_near_dup_banded),
         |${OracleCc.canonFromPairs(64)}
         |SELECT doc_id AS vec_id, canonical_id FROM canon""".stripMargin))

  // ---------------------------------------------------------------------
  // SimHash near-dup (documents)
  // ---------------------------------------------------------------------

  /** Census-driven SimHash fingerprint width — the same sf1 lesson as
    * [[bandedPlanesFor]] applied to the text-fingerprint tier: the
    * hamming ≤ 1 pairing needs 2 exact bands (pigeonhole), so a W-bit
    * fingerprint buckets into 2^(W/2) values per band, and a FIXED
    * W=32 saturates (expected occupancy ≫ 1 ⇒ candidate volume
    * ~quadratic by construction) once the corpus passes ~2·2^16 docs.
    * The width doubles to 64 there (2^32 buckets/band: occupancy ≤ 2
    * to ~8.6e9 docs); bits 0..31 of the 64-bit fingerprint are the
    * UNCHANGED 32-bit fingerprint (the high half hashes independently),
    * so below the threshold the output is bit-identical to the fixed
    * design. Both engines pick from the same integer census.
    */
  private[graft] val SimhashWidthThreshold = Census.SimhashWidthThreshold
  private[graft] def simhashBitsFor(n: Long): Int = Census.simhashBitsFor(n)

  private[graft] val docCount = Artifact("ml_doc_count") { (s, dir) =>
    Tables.read(s, dir, "documents").count()
  }

  /** W-bit SimHash fingerprints: (doc_id, simhash). Single pass: explode
    * words, hash once (two independent md5-derived 32-bit halves), W
    * conditional popcounts as one partial+final aggregation (the W-bit
    * tally per doc is the only thing that shuffles). Shared by the
    * fingerprint query and the pairing stage. Bit 63 contributes
    * `1L << 63` (negative) — the fold stays in-range: positive powers
    * sum to at most Long.MaxValue before the single negative term.
    */
  private[graft] def simhashDf(s: SparkSession, dir: String,
                               widthOverride: Option[Int] = None): DataFrame = {
    val w = widthOverride.getOrElse(simhashBitsFor(docCount(s, dir)))
    val words = split(trim(col("text")), "\\s+")
    val hashed = Queries.fanOut(Tables.read(s, dir, "documents"),
        "doc_id")
      .select(col("doc_id"), explode(words).as("w"))
      .select(col("doc_id"),
        conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long").as("hlo"),
        conv(substring(md5(col("w")), 9, 8), 16, 10).cast("long").as("hhi"))
    def bitOf(b: Int): Column =
      if (b < 32) shiftright(col("hlo"), b).bitwiseAND(1)
      else shiftright(col("hhi"), b - 32).bitwiseAND(1)
    val tallies = hashed.groupBy(col("doc_id")).agg(
      count(lit(1)).as("n"),
      (0 until w).map(b => sum(bitOf(b)).as(s"c$b")): _*)
    val sig = (0 until w).foldLeft[Column](lit(0L)) { (acc, b) =>
      acc + when(col(s"c$b") * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
    }
    tallies.select(col("doc_id"), sig.as("simhash"))
  }

  /** The simhash CTE chain (width census → word hashes → bit tallies →
    * fingerprint), shared by the fingerprint and pairing oracles. The
    * width pick replicates [[simhashBitsFor]] with the same integer
    * census; the bit range is generated to 64 and filtered down to the
    * picked width, so both widths live in one static SQL text.
    */
  private val simhashCtes: String =
    s"""swn AS (SELECT CASE WHEN count(*) <= $SimhashWidthThreshold
      |  THEN 32 ELSE 64 END AS w FROM documents),
      |wh AS (
      |  SELECT doc_id,
      |    ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hlo,
      |    ('0x' || substring(md5(tok), 9, 8))::BIGINT AS hhi
      |  FROM (SELECT doc_id,
      |          unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      |        FROM documents)),
      |wc AS (SELECT doc_id, count(*) AS n FROM wh GROUP BY doc_id),
      |bits AS (
      |  -- bit 63's weight is written literally: DuckDB raises on the
      |  -- overflowing 1::BIGINT << 63 where Spark's 1L << 63 wraps
      |  SELECT wh.doc_id, t.b,
      |    CASE WHEN 2 * sum(CASE WHEN t.b < 32 THEN (wh.hlo >> t.b) & 1
      |                           ELSE (wh.hhi >> (t.b - 32)) & 1 END)
      |              > max(wc.n)
      |         THEN CASE WHEN t.b = 63 THEN -9223372036854775807 - 1
      |                   ELSE (1::BIGINT << t.b) END
      |         ELSE 0 END AS bit
      |  FROM wh JOIN wc ON wh.doc_id = wc.doc_id,
      |       generate_series(0, 63) AS t(b), swn
      |  WHERE t.b < swn.w
      |  GROUP BY wh.doc_id, t.b),
      |sig AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS simhash FROM bits GROUP BY doc_id)""".stripMargin

  /** W-bit SimHash over word hashes (md5-derived, identical in both
    * engines): bit b of the fingerprint is 1 iff more words have bit b
    * set than not. Map-side only — one expression per document; W from
    * the corpus census ([[simhashBitsFor]]).
    */
  val simhash = Q("q_simhash",
    (s, dir) => simhashDf(s, dir),
    Some(s"""WITH $simhashCtes
            |SELECT doc_id, simhash FROM sig""".stripMargin))

  /** SimHash near-dup PAIRS — the stage q_simhash feeds: 2 bands × W/2
    * bits bucket the fingerprints (pigeonhole: any pair within hamming 1
    * shares at least one exact band, so the candidate set is COMPLETE for
    * the ≤1 bar — the query is exactly "all pairs at hamming ≤ 1", not an
    * approximation), then the verify is one popcount per candidate. The
    * band width rides the census fingerprint width ([[simhashBitsFor]]):
    * W=32 → 2^16 buckets/band (saturates past ~131k docs), W=64 → 2^32
    * buckets/band, so candidate volume stays ~linear to ~8.6e9 docs.
    * Candidate generation reuses the skew-guarded [[TextOps
    * .candidatePairs]]; the hot threshold is raised to 1024 because
    * narrow simhash bands concentrate harder than 64-bit MinHash buckets
    * (organic max ≈ 290 docs/bucket at sf0.1 — a band value shared by
    * MORE than 1024 docs means a degenerate near-identical family, kept
    * complete by the salted hot mode).
    */
  val simhashPairs = Q("q_simhash_pairs",
    (s, dir) => {
      val half = simhashBitsFor(docCount(s, dir)) / 2
      val mask = (1L << half) - 1L
      val sig = simhashDf(s, dir).localCheckpoint(true)
      // single melt pass — see TextOps.meltBands
      val bands = TextOps.meltBands(sig, "doc_id", Seq(0, 1).map(b =>
        shiftright(col("simhash"), b * half).bitwiseAND(mask)))
      val cand = graft.functions.TextOps.candidatePairs(bands, "doc_id",
        hotThreshold = 1024, hotComplete = true)
      val a = sig.select(col("doc_id").as("doc_a"), col("simhash").as("sa"))
      val b = sig.select(col("doc_id").as("doc_b"), col("simhash").as("sb"))
      cand.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
        .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
        .filter(col("hamming") <= 1)
        .select(col("doc_a"), col("doc_b"), col("hamming"))
    },
    Some(s"""WITH $simhashCtes,
            |bands AS (
            |  SELECT doc_id, 0 AS band,
            |    simhash & ((1::BIGINT << (swn.w // 2)) - 1) AS bucket FROM sig, swn
            |  UNION ALL
            |  SELECT doc_id, 1,
            |    (simhash >> (swn.w // 2)) & ((1::BIGINT << (swn.w // 2)) - 1) FROM sig, swn),
            |cand AS (
            |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            |  FROM bands l JOIN bands r
            |    ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id)
            |SELECT c.doc_a, c.doc_b,
            |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
            |FROM cand c JOIN sig a ON a.doc_id = c.doc_a
            |            JOIN sig b ON b.doc_id = c.doc_b
            |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1""".stripMargin))

  // ---------------------------------------------------------------------
  // Product quantization (PQ/ADC) — the memory-bound ANN scale path
  // ---------------------------------------------------------------------

  private val PqM = 8      // subspaces
  private val PqDsub = 8   // dims per subspace (D = 64)
  private val PqK = 4      // codewords per subspace
  private val PqIters = 2

  /** One deterministic k-means codebook per subspace, trained on the
    * sliced sub-vectors (same seeding/Lloyd/tie-break rules as every
    * other k-means here, so the unrolled SQL oracle reproduces each
    * codebook exactly). When the corpus fits KMeans' local-fit budget,
    * the vectors are collected ONCE and sliced driver-side — one job for
    * all 8 codebooks instead of 8 probe+collect pairs (identical result:
    * fitLocal over a slice ≡ fit over the sliced column). Above the
    * budget, per-subspace distributed fits — at real scale PQ codebooks
    * are trained on a bounded sample anyway.
    */
  private val pqModels = Artifact("ml_pq_codebooks") { (s, dir) =>
    graft.kmeans.ModelStore.getOrFit(s,
      modelPath(s, dir, s"pq-m$PqM-d$PqDsub-k$PqK-i$PqIters"), {
    val e = emb(s, dir)
    val probe = e.agg(count(lit(1)).as("n"),
      first(size(col("features"))).as("d")).head()
    val n = probe.getLong(0)
    val d = probe.getInt(1)
    if (n * d <= KMeans.LocalFitCells) {
      val rows = KMeans.collectById(e).map(r => r.getSeq[Double](1).toArray)
      (0 until PqM).toArray.map { m =>
        KMeans.fitLocal(rows.map(_.slice(m * PqDsub, (m + 1) * PqDsub)),
          PqK, PqIters, firstSeedRank = 0)
      }
    } else (0 until PqM).toArray.map { m =>
      KMeans.fit(
        e.select(col("id"), slice(col("features"), m * PqDsub + 1, PqDsub).as("features")),
        k = PqK, iters = PqIters)
    }
    })
  }

  /** PQ-coded ANN with asymmetric distance computation (ADC): vectors
    * are stored as M=8 one-byte codes (nearest codeword per 8-dim
    * subspace — 64 floats compressed 32×), queries stay exact, and the
    * approximate distance is the sum over subspaces of
    * ‖q_m − codeword(code_m)‖². Everything after training is map-side
    * codegen: the codebooks are literal arrays folded into the per-row
    * expressions (encode = argmin over 4 sqdists per subspace; ADC = one
    * element_at per subspace), the 5-query side broadcasts, and the
    * top-3 ranking reuses the bounded per-query window. At 100 TB this
    * is the tier between IVF cell pruning and exact rerank: the corpus
    * never holds raw vectors in the scan, only codes.
    *
    * Fully oracle-exact: 8 unrolled k-means chains (one per subspace,
    * CTE-prefixed) reproduce the codebooks, codes, and ADC sums with the
    * engine's tie-breaks.
    */
  /** Full PQ/ADC ranking per query: (qid, cid, adist, rn). */
  private def pqRanked(s: SparkSession, dir: String): DataFrame = {
    val models = pqModels(s, dir)
    val e = emb(s, dir)
    def sub(c: Column, m: Int): Column = slice(c, m * PqDsub + 1, PqDsub)
    // encode: per subspace, argmin over the 4 codeword sqdists
    def codeCol(feat: Column, m: Int): Column = {
      val dists = array(models(m).centers.toIndexedSeq.map(cw =>
        sqDist(sub(feat, m), lit(cw))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }
    val codes = e.select(col("id").as("cid") +:
      (0 until PqM).map(m => codeCol(col("features"), m).as(s"code$m")): _*)
    val q = e.filter(col("id") < 5)
      .select(col("id").as("qid"), col("features").as("qe"))
    // ADC: per subspace, look the code up in the query's distance table
    val adist = (0 until PqM).map { m =>
      val lut = array(models(m).centers.toIndexedSeq.map(cw =>
        sqDist(sub(col("qe"), m), lit(cw))): _*)
      element_at(lut, col(s"code$m") + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("qid")).orderBy(col("adist"), col("cid"))
    codes.join(broadcast(q), col("cid") =!= col("qid"))
      .withColumn("adist", adist)
      .withColumn("rn", row_number().over(w).cast("long"))
  }

  /** Shared oracle CTE body: 8 prefixed unrolled k-means chains → codes →
    * ADC distances (`ad`), ending unterminated so consumers append.
    */
  private lazy val pqBaseCtes: String = {
    val gens = (0 until PqM).map(m => new KmeansOracleGen(PqK, PqIters, PqDsub,
      prefix = s"pq${m}_",
      embExpr = s"list_transform(list_slice(embedding, ${m * PqDsub + 1}, ${(m + 1) * PqDsub}), x -> CAST(x AS DOUBLE))"))
    val chains = gens.map(_.withClauses).mkString(",\n")
    val codeJoins = (0 until PqM).map(m =>
      s"JOIN pq${m}_afin x$m ON x$m.vec_id = e.vec_id").mkString("\n  ")
    val codeCols = (0 until PqM).map(m => s"x$m.cl AS code$m").mkString(", ")
    val cwJoins = (0 until PqM).map(m =>
      s"JOIN pq${m}_c$PqIters k$m ON k$m.cl = c.code$m").mkString("\n  ")
    val adcTerms = (0 until PqM).map(m =>
      s"list_sum(list_transform(generate_series(1,$PqDsub), " +
        s"i -> pow(CAST(q.embedding[${m * PqDsub} + i] AS DOUBLE) - k$m.e[i], 2)))")
      .mkString("\n   + ")
    s"""$chains,
       |codes AS MATERIALIZED (
       |  SELECT e.vec_id AS cid, $codeCols
       |  FROM embeddings e
       |  $codeJoins),
       |ad AS (
       |  SELECT q.vec_id AS qid, c.cid,
       |    ($adcTerms) AS adist
       |  FROM codes c
       |  JOIN embeddings q ON q.vec_id < 5 AND c.cid <> q.vec_id
       |  $cwJoins),
       |pqrank AS (
       |  SELECT qid, cid, adist,
       |    row_number() OVER (PARTITION BY qid ORDER BY adist, cid) AS rn
       |  FROM ad),
       |pq3 AS (SELECT qid, cid, adist, rn FROM pqrank WHERE rn <= 3)""".stripMargin
  }

  val annPq = Q("q_ann_pq",
    (s, dir) => pqRanked(s, dir)
      .filter(col("rn") <= 3)
      .select(col("qid"), col("cid"), round(col("adist"), 6).as("adist_r"), col("rn")),
    Some(s"""WITH $pqBaseCtes
            |SELECT qid, cid, round(adist, 6) AS adist_r, rn FROM pq3""".stripMargin))

  private val PqShortlist = 50

  /** Recall@3 of the PQ tiers against the exact-L2 top-3 over the same
    * candidate universe — what 32× compression costs, per tier: raw ADC
    * ranking (`recall3_adc` — near zero HERE because the synthetic
    * embeddings are isotropic random unit vectors, the worst case for a
    * 16-bit code; real clustered embeddings fare far better) and the
    * production pattern, ADC top-50 shortlist → exact rerank
    * (`recall3_rerank` — the rerank touches 10% of candidates and
    * recovers most of the loss). Both exact rationals, so the
    * approximation's QUALITY is oracle-checked, like the IVF curve.
    */
  val annPqRecall = Q("q_ann_pq_recall",
    (s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("id") < 5)
        .select(col("id").as("qid"), col("features").as("qe"))
      val cand = e.select(col("id").as("cid"), col("features").as("ce"))
      val wd = Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))
      val bf = cand.crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .withColumn("d2", sqDist(col("ce"), col("qe")))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"))
      val ranked = pqRanked(s, dir)
      val adc3 = ranked.filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), lit(1).as("m_adc"))
      val rerank3 = ranked.filter(col("rn") <= PqShortlist)
        .select(col("qid"), col("cid"))
        .join(cand, Seq("cid"))
        .join(broadcast(q), Seq("qid"))
        .withColumn("d2", sqDist(col("ce"), col("qe")))
        .withColumn("rrn", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("d2"), col("cid"))))
        .filter(col("rrn") <= 3)
        .select(col("qid"), col("cid"), lit(1).as("m_rr"))
      bf.join(adc3, Seq("qid", "cid"), "left")
        .join(rerank3, Seq("qid", "cid"), "left")
        .groupBy(col("qid"))
        .agg(round(sum(coalesce(col("m_adc"), lit(0))) / 3.0, 6).as("recall3_adc"),
          round(sum(coalesce(col("m_rr"), lit(0))) / 3.0, 6).as("recall3_rerank"))
    },
    Some {
      val fullSq =
        s"""list_sum(list_transform(generate_series(1,${PqM * PqDsub}),
           |          i -> pow(CAST(q.embedding[i] AS DOUBLE) - CAST(x.embedding[i] AS DOUBLE), 2)))""".stripMargin
      s"""WITH $pqBaseCtes,
         |bf AS (
         |  SELECT qid, cid FROM (
         |    SELECT q.vec_id AS qid, x.vec_id AS cid,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        $fullSq,
         |        x.vec_id) AS rn
         |    FROM embeddings q JOIN embeddings x
         |      ON q.vec_id < 5 AND x.vec_id <> q.vec_id) WHERE rn <= 3),
         |rr AS (
         |  SELECT qid, cid FROM (
         |    SELECT s.qid, s.cid,
         |      row_number() OVER (PARTITION BY s.qid ORDER BY
         |        $fullSq,
         |        s.cid) AS rrn
         |    FROM pqrank s
         |    JOIN embeddings q ON q.vec_id = s.qid
         |    JOIN embeddings x ON x.vec_id = s.cid
         |    WHERE s.rn <= $PqShortlist) WHERE rrn <= 3)
         |SELECT b.qid,
         |  round(sum(CASE WHEN p.cid IS NULL THEN 0 ELSE 1 END) / 3.0, 6) AS recall3_adc,
         |  round(sum(CASE WHEN r.cid IS NULL THEN 0 ELSE 1 END) / 3.0, 6) AS recall3_rerank
         |FROM bf b LEFT JOIN pq3 p ON p.qid = b.qid AND p.cid = b.cid
         |          LEFT JOIN rr r ON r.qid = b.qid AND r.cid = b.cid
         |GROUP BY b.qid""".stripMargin
    })

  /** Embedding outlier screen — the filtering stage that drops vectors
    * far from their group's semantic center (mislabeled / junk docs in a
    * training corpus): per-label mean centroid, per-vector cosine to its
    * own centroid, bottom-3 per label surfaced with their rank.
    *
    * Scale shape: the centroid is one partial+final avg over
    * (label, dim) — a |labels|×d result that broadcasts back onto the
    * long-form vector stream; the per-vector reduce is a bounded-key
    * aggregation on vec_id. No pairwise anything. Spark's 0-based
    * posexplode index and DuckDB's 1-based subscripts only ever meet
    * through the (label, i) join keys, each consistent within its
    * engine.
    */
  val embeddingOutliers = Q("q_embedding_outliers",
    (s, dir) => {
      // centroid pass: partial+final avg over (label, dim) — the result
      // is |labels|×d, K-bounded, so it comes back to the driver and is
      // folded into map-side literals (the same policy as k-means
      // centers). The scoring pass then shuffles NOTHING per dimension:
      // one codegen dot against the label-selected centroid literal, and
      // the only exchange left is the final per-label rank window over
      // n rows (not n×d).
      val long = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(col("embedding")).as(Seq("i", "e")))
        .withColumn("e", col("e").cast("double"))
      val centRows = long.groupBy(col("label"), col("i"))
        .agg(avg(col("e")).as("c"))
        .collect()
      val centroids: Map[Int, Array[Double]] = centRows
        .groupBy(_.getInt(0))
        .map { case (l, rows) =>
          l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2))
        }
      val centOf = {
        val pairs = centroids.toSeq.sortBy(_._1)
        element_at(
          map(pairs.flatMap { case (l, c) => Seq(lit(l), lit(c)) }: _*),
          col("label"))
      }
      val e = Tables.read(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), _.cast("double")).as("f"))
        .withColumn("cent", centOf)
      val cos = e.select(col("vec_id"), col("label"),
        round(dot(col("f"), col("cent"))
          / (norm2(col("f")) * norm2(col("cent"))), 6).as("cos_centroid"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("cos_centroid"), col("vec_id"))
      cos.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
    },
    Some("""WITH long AS (
           |  SELECT vec_id, label,
           |    generate_subscripts(embedding, 1) AS i,
           |    CAST(unnest(embedding) AS DOUBLE) AS e
           |  FROM embeddings),
           |cent AS (
           |  SELECT label, i, avg(e) AS c FROM long GROUP BY label, i),
           |cos AS (
           |  SELECT l.vec_id, l.label,
           |    round(sum(l.e * c.c) / (sqrt(sum(l.e * l.e)) * sqrt(sum(c.c * c.c))), 6)
           |      AS cos_centroid
           |  FROM long l JOIN cent c ON c.label = l.label AND c.i = l.i
           |  GROUP BY l.vec_id, l.label)
           |SELECT vec_id, label, cos_centroid, rk FROM (
           |  SELECT vec_id, label, cos_centroid,
           |    row_number() OVER (PARTITION BY label
           |      ORDER BY cos_centroid, vec_id) AS rk
           |  FROM cos) WHERE rk <= 3""".stripMargin))

  // ---------------------------------------------------------------------
  // Scalar quantization (SQ8) — the bandwidth-bound ANN tier
  // ---------------------------------------------------------------------

  /** Int8 scalar-quantized ANN — the tier between raw floats and PQ
    * codes: each dimension is affinely mapped to an 8-bit code against
    * per-dimension corpus min/max (8× compression vs float32, no
    * codebook training), queries stay exact (asymmetric), the shortlist
    * is ranked on the dequantized dot product, and only the top-10 per
    * query are reranked with exact cosine.
    *
    * Scale shape: the quantizer is two bounded aggregates (64 dims →
    * min/max), folded into the per-row encode/dequantize expressions as
    * literals — the candidate scan carries codes only, map-side; the
    * 5-query side broadcasts; exact vectors are touched only for the
    * 10 shortlisted ids per query (the IVF/PQ rerank pattern).
    */
  val annSq8 = Q("q_ann_sq8",
    (s, dir) => {
      val e = emb(s, dir)
      val cand = e.filter(col("id") >= 5)
        .select(col("id").as("cid"), col("features").as("ce"))
      // per-dim ranges: bounded (64-row) aggregate → literal arrays
      val dimRows = cand
        .select(posexplode(col("ce")).as(Seq("i", "v")))
        .groupBy(col("i")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        .orderBy(col("i")).collect()
      val mnL = lit(dimRows.map(_.getDouble(1)))
      val mxL = lit(dimRows.map(_.getDouble(2)))
      def loAt(i: Column) = element_at(mnL, (i + 1).cast("int"))
      def hiAt(i: Column) = element_at(mxL, (i + 1).cast("int"))
      // encode map-side: the stored representation is 64 bytes, not floats
      val codes = cand.select(col("cid"),
        transform(col("ce"), (v, i) =>
          when(hiAt(i) === loAt(i), lit(0L)).otherwise(
            least(greatest(floor((v - loAt(i)) / (hiAt(i) - loAt(i)) * 255),
              lit(0L)), lit(255L)))).as("codes"))
      val q = e.filter(col("id") < 5)
        .select(col("id").as("qid"), col("features").as("qe"))
      // asymmetric approximate dot: dequantize to bucket centers
      val recon = transform(col("codes"), (c, i) =>
        loAt(i) + (c + lit(0.5)) * (hiAt(i) - loAt(i)) / lit(256))
      val adot = dot(col("qe"), col("recon"))
      val wA = Window.partitionBy(col("qid")).orderBy(col("adot").desc, col("cid"))
      val short = codes.crossJoin(broadcast(q))
        .filter(col("cid") =!= col("qid"))
        .withColumn("recon", recon)
        .withColumn("adot", adot)
        .withColumn("srn", row_number().over(wA))
        .filter(col("srn") <= 10)
        .select(col("qid"), col("cid"))
      val wR = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      short.join(cand, Seq("cid"))
        .join(broadcast(q), Seq("qid"))
        .withColumn("cos", cosine(col("ce"), col("qe")))
        .withColumn("rn", row_number().over(wR).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("cid"), round(col("cos"), 6).as("cos_sim"), col("rn"))
    },
    Some(s"""WITH cand AS (
            |  SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id >= 5),
            |q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 5),
            |dims AS (
            |  SELECT t.i AS i, min(CAST(ce[t.i] AS DOUBLE)) AS mn,
            |    max(CAST(ce[t.i] AS DOUBLE)) AS mx
            |  FROM cand, generate_series(1, $D) AS t(i) GROUP BY t.i),
            |da AS (SELECT list(mn ORDER BY i) AS mnl, list(mx ORDER BY i) AS mxl FROM dims),
            |ad AS (
            |  SELECT q.qid, c.cid,
            |    list_sum(list_transform(generate_series(1, $D), i ->
            |      CAST(q.qe[i] AS DOUBLE) * (a.mnl[i] +
            |        (CASE WHEN a.mxl[i] = a.mnl[i] THEN 0
            |              ELSE least(greatest(CAST(floor((CAST(c.ce[i] AS DOUBLE) - a.mnl[i])
            |                / (a.mxl[i] - a.mnl[i]) * 255) AS BIGINT), 0), 255) END
            |         + 0.5e0) * (a.mxl[i] - a.mnl[i]) / 256))) AS adot
            |  FROM cand c, q, da a WHERE c.cid <> q.qid),
            |sl AS (SELECT qid, cid FROM (
            |  SELECT qid, cid, row_number() OVER (PARTITION BY qid
            |    ORDER BY adot DESC, cid) AS srn FROM ad) WHERE srn <= 10),
            |rr AS (
            |  SELECT s.qid, s.cid,
            |    sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(c.ce[t.i] AS DOUBLE)) AS dot,
            |    sum(CAST(q.qe[t.i] AS DOUBLE) * CAST(q.qe[t.i] AS DOUBLE)) AS nq,
            |    sum(CAST(c.ce[t.i] AS DOUBLE) * CAST(c.ce[t.i] AS DOUBLE)) AS nc
            |  FROM sl s JOIN cand c ON c.cid = s.cid JOIN q ON q.qid = s.qid,
            |       generate_series(1, $D) AS t(i)
            |  GROUP BY s.qid, s.cid)
            |SELECT qid, cid, round(dot / (sqrt(nq) * sqrt(nc)), 6) AS cos_sim, rn FROM (
            |  SELECT qid, cid,
            |    row_number() OVER (PARTITION BY qid
            |      ORDER BY dot / (sqrt(nq) * sqrt(nc)) DESC, cid) AS rn,
            |    dot, nq, nc
            |  FROM rr) WHERE rn <= 3""".stripMargin))

  /** Cluster-profile curation (DataComp/DoReMi-style domain discovery):
    * partition the embedding corpus with the SAME deterministic k=8
    * coarse quantizer the IVF tier persists, and profile each cluster —
    * size, integer-summed dispersion (per-member floor-micro squared
    * distance, so the sum is parallelism-proof), mean dispersion, and
    * the lowest-id exemplar. This is the map a curation pipeline uses to
    * spot collapsed/degenerate domains and set per-domain sampling
    * weights; at 100 TB it is one map-side assign (centers are plan
    * literals) plus an 8-key partial+final aggregate — no shuffle of
    * vectors. Shares (and warms) the persisted quantizer with q_ann_ivf.
    */
  val embeddingClusters = Q("q_embedding_clusters",
    (s, dir) => {
      val model = ivfModel(s, dir)
      model.assign(emb(s, dir), "features", withDist = true)
        .groupBy(col("label").cast("long").as("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(floor(lit(1e6) * col("dist2")).cast("long")).as("sse_micro"),
          min(col("id")).as("exemplar"))
        .withColumn("mean_dist2_micro",
          floor(col("sse_micro").cast("double") / col("n")).cast("long"))
    },
    Some(IvfOracle.clustersSql))

  /** Johnson–Lindenstrauss random projection 64 → 16 dims — the
    * dimensionality-reduction primitive in front of corpus-scale
    * similarity search (a 4× smaller vector cuts ANN memory and
    * distance-kernel cost; JL guarantees pairwise distances are
    * preserved in expectation). The projection matrix is ±1/√k entries
    * derived from md5 parity — deterministic, engine-portable, and
    * embedded as a PLAN LITERAL, so the projection itself is a pure
    * map-side expression: at 100 TB this is a projection pushed through
    * the scan with zero shuffle and no model artifact to distribute.
    * The query audits 100 fixed consecutive-id pairs: original vs
    * projected distance and their ratio — the distortion a caller
    * monitors when choosing k.
    */
  val jlProjection = Q("q_jl_projection",
    (s, dir) => {
      val m = typedLit(jlSigns.map(_.toSeq).toSeq)
      val proj = transform(sequence(lit(1), lit(16)), j =>
        aggregate(sequence(lit(1), lit(64)), lit(0.0), (acc, i) =>
          acc + element_at(col("features"), i)
            * element_at(element_at(m, i), j).cast("double")) / lit(4.0))
      val p = emb(s, dir).withColumn("pr", proj)
        .select(col("id"), col("features"), col("pr"))
      val a = p.filter(col("id") % 2 === 0 && col("id") < 200)
        .select(col("id"), col("features").as("fa"), col("pr").as("pa"))
      val b = p.select((col("id") - 1).as("id"), col("features").as("fb"),
        col("pr").as("pb"))
      a.join(b, Seq("id"))
        .select(col("id").as("vec_id"),
          round(euclidean(col("fa"), col("fb")), 4).as("d_orig"),
          round(euclidean(col("pa"), col("pb")), 4).as("d_proj"))
        .withColumn("ratio_micro",
          floor(lit(1e6) * col("d_proj") / col("d_orig")).cast("long"))
    },
    Some {
      val mSql = "[" + jlSigns.map(_.mkString("[", ",", "]")).mkString(",") + "]"
      s"""WITH m AS (SELECT $mSql AS mm),
         |p AS (
         |  SELECT vec_id,
         |    e, list_transform(generate_series(1,16), j ->
         |      list_sum(list_transform(generate_series(1,64), i ->
         |        e[i] * mm[i][j])) / 4.0) AS pr
         |  FROM (SELECT vec_id,
         |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |        FROM embeddings) CROSS JOIN m),
         |d AS (
         |  SELECT a.vec_id,
         |    round(sqrt(list_sum(list_transform(generate_series(1,64), i ->
         |      pow(a.e[i] - b.e[i], 2)))), 4) AS d_orig,
         |    round(sqrt(list_sum(list_transform(generate_series(1,16), j ->
         |      pow(a.pr[j] - b.pr[j], 2)))), 4) AS d_proj
         |  FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
         |  WHERE a.vec_id % 2 = 0 AND a.vec_id < 200)
         |SELECT vec_id, d_orig, d_proj,
         |  CAST(floor(1e6 * d_proj / d_orig) AS BIGINT) AS ratio_micro
         |FROM d""".stripMargin
    })

  /** ±1 JL sign matrix from md5 parity — deterministic and identically
    * derivable by any engine (the oracle bakes the same literal).
    */
  private lazy val jlSigns: Array[Array[Int]] = {
    def md5hex(x: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    Array.tabulate(64, 16)((i, j) => if (md5hex(s"jl:$i:$j").head <= '7') 1 else -1)
  }

  def all: Seq[Q] = Seq(
    kmeansAssign, kmeansCenters, kmeansMllibCenters, bfrAssign, bfrStats,
    kmeansNmi, nmiLangSource, annBruteForce, annIvf, annIvfRecall, annIvfRecallCurve,
    semanticKnn, semanticDedup,
    embeddingNearDup, embeddingNearDupLsh, embeddingNearDupBanded,
    embeddingDedupGroups, embeddingLshPairs, simhash, simhashPairs,
    embeddingOutliers, annPq, annPqRecall, annSq8, embeddingClusters,
    jlProjection)
}
