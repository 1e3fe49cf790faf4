package graft

/** DuckDB oracle for the BFR pipeline exactly as `q_bfr_assign` /
  * `q_bfr_stats` run it (4 id-mod chunks, k=10, α=3/4, 20% prefix init,
  * rsClusterThreshold=500): the whole chunked stateful loop is UNROLLED
  * into materialized CTEs —
  *
  *   init:   20% prefix sample (the engine caps it at 62,500 rows of
  *           64 cells, far above any chunk here) → guarded coarse k-means (k=min(3K, n),
  *           seeds beyond the point count guarded out) → singleton
  *           outliers → RS, inliers (whole sample if < K survive) →
  *           fine k-means (K) → compacted DS summaries;
  *   rounds: threshold Mahalanobis assignment (dist < α√d, first-min
  *           ties) → summary absorb (DS' = DS + per-cluster N/SUM/SUMSQ
  *           deltas, mirroring the engine's merge structure) → α=4 RS
  *           spill with its own absorb;
  *   final:  last-round RS spill; survivors labeled −1.
  *
  * Every tie-break and FP accumulation order matches the engine (min-id
  * first seed, lowest-id/cluster ties, per-dimension sequential distance
  * sums, center/σ derived as SUM/N and sqrt(SUMSQ/N − mean²) with the
  * negative-variance clamp), so assignments and stats reproduce exactly —
  * verified identical at sf0.001/0.01/0.1.
  *
  * The CS branch (RS re-clustering at >500 retained points) never fires
  * on this testdata — the oracle asserts that by pinning
  * nof_cluster_compression/nof_point_compression to 0, so a data change
  * that trips the CS path fails the compare loudly instead of silently
  * diverging. MATERIALIZED is load-bearing: inlined CTEs re-evaluate the
  * dependency chain exponentially.
  */
private[graft] object BfrOracleSql {

  private val D = 64
  private val K = 10
  private val Iters = 5
  private val NChunks = 4
  private val GS = s"generate_series(1,$D)"
  private val ThrAssign = 3.0 * math.sqrt(D.toDouble) // 24.0
  private val ThrRs = 4.0 * math.sqrt(D.toDouble)     // 32.0

  private def sqdist(a: String, b: String): String =
    s"list_sum(list_transform($GS, i -> pow($a[i]-$b[i],2)))"

  /** Unrolled maximin seeding + Lloyd over CTE `src` (id, e); emits
    * {pfx}afin (id, e, cl). Seeds j ≥ count(src) are guarded out, so
    * kEff = min(kmax, n) exactly as `KMeans.fit`.
    */
  private def kmeans(parts: collection.mutable.ArrayBuffer[String],
                     pfx: String, src: String, kmax: Int): Unit = {
    def g(j: Int) = s" WHERE (SELECT count(*) FROM $src) > $j"
    parts += s"${pfx}sd0 AS MATERIALIZED (SELECT e FROM $src ORDER BY id LIMIT 1)"
    parts += s"${pfx}m0 AS MATERIALIZED (SELECT id, p.e AS e, ${sqdist("p.e", "s.e")} AS md FROM $src p, ${pfx}sd0 s)"
    for (j <- 1 until kmax) {
      parts += s"${pfx}sd$j AS MATERIALIZED (SELECT e FROM ${pfx}m${j - 1}${g(j)} ORDER BY md DESC, id LIMIT 1)"
      if (j < kmax - 1)
        parts += s"${pfx}m$j AS MATERIALIZED (SELECT id, m.e AS e, " +
          s"CASE WHEN s.e IS NULL THEN md ELSE least(md, ${sqdist("m.e", "s.e")}) END AS md " +
          s"FROM ${pfx}m${j - 1} m LEFT JOIN ${pfx}sd$j s ON TRUE)"
    }
    parts += s"${pfx}c0 AS MATERIALIZED (${(0 until kmax).map(j => s"SELECT $j AS cl, e FROM ${pfx}sd$j").mkString(" UNION ALL ")})"
    for (t <- 0 until Iters) {
      parts += s"${pfx}a$t AS MATERIALIZED (SELECT id, e, cl FROM (" +
        s"SELECT p.id, p.e AS e, c.cl, row_number() OVER (PARTITION BY p.id " +
        s"ORDER BY ${sqdist("p.e", "c.e")}, c.cl) AS rn FROM $src p, ${pfx}c$t c) WHERE rn = 1)"
      parts += s"${pfx}g$t AS MATERIALIZED (SELECT cl, t.i AS i, avg(e[t.i]) AS m FROM ${pfx}a$t, $GS t(i) GROUP BY cl, t.i)"
      parts += s"${pfx}cn$t AS MATERIALIZED (SELECT cl, list(m ORDER BY i) AS e FROM ${pfx}g$t GROUP BY cl)"
      parts += s"${pfx}c${t + 1} AS MATERIALIZED (SELECT c.cl, coalesce(n.e, c.e) AS e FROM ${pfx}c$t c LEFT JOIN ${pfx}cn$t n ON n.cl = c.cl)"
    }
    parts += s"${pfx}afin AS MATERIALIZED (SELECT id, e, cl FROM (" +
      s"SELECT p.id, p.e AS e, c.cl, row_number() OVER (PARTITION BY p.id " +
      s"ORDER BY ${sqdist("p.e", "c.e")}, c.cl) AS rn FROM $src p, ${pfx}c$Iters c) WHERE rn = 1)"
  }

  /** DS' = DS + per-cluster (N, SUM, SUMSQ) deltas of the points in
    * `asg` — the engine's `absorb`/`merge` structure (state + delta, not
    * a re-sum of history).
    */
  private def absorb(parts: collection.mutable.ArrayBuffer[String],
                     name: String, asg: String, pts: String, ds: String, nxt: String): Unit = {
    parts += s"${name}_ag AS MATERIALIZED (SELECT a.cluster AS cl, t.i AS i, " +
      s"sum(p.e[t.i]) AS s, sum(p.e[t.i]*p.e[t.i]) AS q " +
      s"FROM $asg a JOIN $pts p ON p.id = a.id, $GS t(i) GROUP BY a.cluster, t.i)"
    parts += s"${name}_an AS MATERIALIZED (SELECT cluster AS cl, count(*) AS n FROM $asg GROUP BY 1)"
    parts += s"${name}_dl AS MATERIALIZED (SELECT g.cl, n.n, list(g.s ORDER BY g.i) AS s, list(g.q ORDER BY g.i) AS q " +
      s"FROM ${name}_ag g JOIN ${name}_an n ON n.cl = g.cl GROUP BY g.cl, n.n)"
    parts += s"$nxt AS MATERIALIZED (SELECT d.cl, d.n + coalesce(x.n, 0) AS n, " +
      s"CASE WHEN x.cl IS NULL THEN d.s ELSE list_transform($GS, i -> d.s[i] + x.s[i]) END AS s, " +
      s"CASE WHEN x.cl IS NULL THEN d.q ELSE list_transform($GS, i -> d.q[i] + x.q[i]) END AS q " +
      s"FROM $ds d LEFT JOIN ${name}_dl x ON x.cl = d.cl)"
  }

  /** Threshold Mahalanobis assignment of `pts` against summaries `ds`
    * (J2/M5/M8): emits {name}_a (id, cluster), {name}_r (id, e) and the
    * absorbed next state `nxt`.
    */
  private def step(parts: collection.mutable.ArrayBuffer[String],
                   name: String, pts: String, ds: String, thr: Double, nxt: String): Unit = {
    parts += s"${name}_cs AS MATERIALIZED (SELECT cl, " +
      s"list_transform($GS, i -> s[i]/n) AS ctr, " +
      s"list_transform($GS, i -> CASE WHEN q[i]/n - (s[i]/n)*(s[i]/n) > 0 " +
      s"THEN sqrt(q[i]/n - (s[i]/n)*(s[i]/n)) ELSE 0.0 END) AS sd FROM $ds)"
    val dist = s"sqrt(list_sum(list_transform($GS, i -> CASE WHEN c.sd[i] = 0 THEN 0.0 " +
      s"ELSE ((p.e[i]-c.ctr[i])/c.sd[i])*((p.e[i]-c.ctr[i])/c.sd[i]) END)))"
    parts += s"${name}_d0 AS MATERIALIZED (SELECT p.id, p.e, c.cl, $dist AS dist FROM $pts p, ${name}_cs c)"
    parts += s"${name}_d AS MATERIALIZED (SELECT id, e, cl, dist, " +
      s"row_number() OVER (PARTITION BY id ORDER BY dist, cl) AS rn FROM ${name}_d0)"
    parts += s"${name}_a AS MATERIALIZED (SELECT id, cl AS cluster FROM ${name}_d WHERE rn = 1 AND dist < $thr)"
    parts += s"${name}_r AS MATERIALIZED (SELECT id, e FROM ${name}_d WHERE rn = 1 AND NOT (dist < $thr))"
    absorb(parts, name, s"${name}_a", pts, ds, nxt)
  }

  /** The shared WITH body ending in `asg` (id, cluster; −1 = outlier). */
  private val withClauses: String = {
    val parts = collection.mutable.ArrayBuffer[String]()
    parts += "emb AS MATERIALIZED (SELECT vec_id AS id, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)"
    for (i <- 0 until NChunks)
      parts += s"ch$i AS MATERIALIZED (SELECT id, e FROM emb WHERE id % $NChunks = $i)"
    parts += "sample AS MATERIALIZED (SELECT id, e FROM " +
      "(SELECT id, e, row_number() OVER (ORDER BY id) AS rn FROM ch0) " +
      "WHERE rn <= CAST(ceil(0.2 * (SELECT count(*) FROM ch0)) AS BIGINT))"
    kmeans(parts, "co", "sample", 3 * K)
    parts += "singles AS MATERIALIZED (SELECT cl FROM (SELECT cl, count(*) AS c FROM coafin GROUP BY cl) WHERE c = 1)"
    parts += "rs0 AS MATERIALIZED (SELECT id, e FROM coafin WHERE cl IN (SELECT cl FROM singles))"
    parts += "in0 AS MATERIALIZED (SELECT id, e FROM coafin WHERE cl NOT IN (SELECT cl FROM singles))"
    parts += s"inliers AS MATERIALIZED (SELECT id, e FROM in0 WHERE (SELECT count(*) FROM in0) >= $K " +
      s"UNION ALL SELECT id, e FROM sample WHERE (SELECT count(*) FROM in0) < $K)"
    parts += s"rsinit AS MATERIALIZED (SELECT id, e FROM rs0 WHERE (SELECT count(*) FROM in0) >= $K)"
    kmeans(parts, "fi", "inliers", K)
    parts += "relab AS MATERIALIZED (SELECT cl, CAST(row_number() OVER (ORDER BY cl) - 1 AS INTEGER) AS nc " +
      "FROM (SELECT DISTINCT cl FROM fiafin))"
    parts += "asg0 AS MATERIALIZED (SELECT a.id, r.nc AS cluster FROM fiafin a JOIN relab r ON a.cl = r.cl)"
    parts += s"ds0g AS MATERIALIZED (SELECT cl, t.i AS i, sum(e[t.i]) AS s, sum(e[t.i]*e[t.i]) AS q FROM fiafin, $GS t(i) GROUP BY cl, t.i)"
    parts += "ds0n AS MATERIALIZED (SELECT cl, count(*) AS n FROM fiafin GROUP BY cl)"
    parts += "ds0 AS MATERIALIZED (SELECT r.nc AS cl, n.n AS n, list(g.s ORDER BY g.i) AS s, list(g.q ORDER BY g.i) AS q " +
      "FROM ds0g g JOIN relab r ON g.cl = r.cl JOIN ds0n n ON n.cl = g.cl GROUP BY r.nc, n.n)"
    parts += "rest AS MATERIALIZED (SELECT id, e FROM ch0 WHERE id NOT IN (SELECT id FROM sample))"
    var ds = 0
    step(parts, "s1", "rest", s"ds$ds", ThrAssign, s"ds${ds + 1}"); ds += 1
    parts += "rsu1 AS MATERIALIZED (SELECT id, e FROM rsinit UNION ALL SELECT id, e FROM s1_r)"
    step(parts, "p1", "rsu1", s"ds$ds", ThrRs, s"ds${ds + 1}"); ds += 1
    for (r <- 2 to NChunks) {
      step(parts, s"s$r", s"ch${r - 1}", s"ds$ds", ThrAssign, s"ds${ds + 1}"); ds += 1
      parts += s"rsu$r AS MATERIALIZED (SELECT id, e FROM p${r - 1}_r UNION ALL SELECT id, e FROM s${r}_r)"
      step(parts, s"p$r", s"rsu$r", s"ds$ds", ThrRs, s"ds${ds + 1}"); ds += 1
    }
    val asgUnion = (Seq("SELECT id, cluster FROM asg0")
      ++ (1 to NChunks).map(r => s"SELECT id, cluster FROM s${r}_a")
      ++ (1 to NChunks).map(r => s"SELECT id, cluster FROM p${r}_a")
      :+ s"SELECT id, CAST(-1 AS INTEGER) AS cluster FROM p${NChunks}_r").mkString(" UNION ALL ")
    parts += s"asg AS MATERIALIZED ($asgUnion)"
    parts.mkString(",\n")
  }

  val assignSql: String =
    s"WITH $withClauses\nSELECT id, cluster FROM asg"

  val statsSql: String = {
    val rows = (1 to NChunks).map { r =>
      val disc = (Seq("(SELECT count(*) FROM asg0)")
        ++ (1 to r).map(t => s"(SELECT count(*) FROM s${t}_a)")
        ++ (1 to r).map(t => s"(SELECT count(*) FROM p${t}_a)")).mkString(" + ")
      s"SELECT CAST($r AS INTEGER) AS round_id, " +
        s"CAST((SELECT count(*) FROM ds0) AS INTEGER) AS nof_cluster_discard, " +
        s"CAST($disc AS BIGINT) AS nof_point_discard, " +
        s"CAST(0 AS INTEGER) AS nof_cluster_compression, " +
        s"CAST(0 AS BIGINT) AS nof_point_compression, " +
        s"CAST((SELECT count(*) FROM p${r}_r) AS BIGINT) AS nof_point_retained"
    }
    s"WITH $withClauses\n${rows.mkString(" UNION ALL ")}"
  }
}
