package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Queries.{Q, cents, sumMoney, sqlSumMoney, sumIntUnits, sqlSumIntUnits}
import graft.sources.Tables

/** OLAP surface beyond the reference's own operators: multi-dimensional
  * aggregation (rollup / cube / grouping sets), analytic windows
  * (lead/lag, moving frames, ntile / percent_rank / cume_dist), pivot,
  * full-outer / interval / banded-range joins, set operations
  * (intersect / except), argmax aggregation, calendar bucketing, scalar
  * subqueries, conditional aggregation, deterministic hash sampling and
  * the HLL approximate-distinct scale path.
  *
  * Scale posture: every query here is either a single shuffle on its
  * natural grouping key, a broadcast of a bounded dimension (bands,
  * scalar aggregates), or an equi-join with a residual range predicate
  * (never a time-range crossJoin). Oracle parity conventions follow
  * Queries.scala (alias both sides, round FP aggregates, BIGINT for
  * counts/ranks).
  */
object OlapQueries {

  // ---------------------------------------------------------------------
  // Multi-dimensional aggregation: rollup / cube / grouping sets
  // ---------------------------------------------------------------------

  /** ROLLUP — per (status, priority), per status, grand total. gid
    * disambiguates NULL-as-data from NULL-as-subtotal; both engines use
    * the leftmost-column-is-MSB convention.
    */
  val rollupAgg = Q("q_rollup",
    (s, dir) => Tables.read(s, dir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumMoney(col("o_totalprice")).as("rev"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("cnt"), col("rev")),
    Some(s"""SELECT o_orderstatus, o_orderpriority,
           | grouping_id(o_orderstatus, o_orderpriority) AS gid,
           | count(*) AS cnt, ${sqlSumMoney("o_totalprice")} AS rev
           |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin))

  val cubeAgg = Q("q_cube",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumIntUnits(col("l_quantity")).as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("cnt"), col("sum_qty")),
    Some(s"""SELECT l_returnflag, l_linestatus,
           | grouping_id(l_returnflag, l_linestatus) AS gid,
           | count(*) AS cnt, ${sqlSumIntUnits("l_quantity")} AS sum_qty
           |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin))

  val groupingSetsAgg = Q("q_grouping_sets",
    (s, dir) => Tables.read(s, dir, "orders")
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("cnt"),
        sumMoney(col("o_totalprice")).as("rev"))
      .select(col("o_orderstatus"), col("o_orderpriority"), col("gid"),
        col("cnt"), col("rev")),
    Some(s"""SELECT o_orderstatus, o_orderpriority,
           | grouping_id(o_orderstatus, o_orderpriority) AS gid,
           | count(*) AS cnt, ${sqlSumMoney("o_totalprice")} AS rev
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""".stripMargin))

  // ---------------------------------------------------------------------
  // Analytic windows: lead/lag, moving frame, ntile / percent_rank
  // ---------------------------------------------------------------------

  val leadLag = Q("q_lead_lag",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
            .cast("long").as("days_since_prev"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           | datediff('day',
           |   lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
           |   o_orderdate) AS days_since_prev,
           | lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
           |   AS next_orderkey
           |FROM orders""".stripMargin))

  /** Moving average over a 3-row frame. 2-decimal inputs mean the frame
    * mean is exact at /1,/2 and a 3/6-repetend at /3 — never a half-way
    * case at the 4th decimal, so round(4) is engine-portable.
    */
  val movingAvg = Q("q_moving_avg",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(-2, 0)
      Tables.read(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(avg(col("o_totalprice")).over(w), 4).as("ma3"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           | round(avg(o_totalprice) OVER (PARTITION BY o_custkey
           |   ORDER BY o_orderdate, o_orderkey
           |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS ma3
           |FROM orders""".stripMargin))

  /** percent_rank / cume_dist are exact rationals k/n — identical doubles
    * in both engines, but round() can land exactly on a half (e.g.
    * 3330/6400 = 0.5203125) where Spark HALF_UP and DuckDB's rint
    * disagree. floor of the scaled value is tie-free on identical inputs.
    */
  val ntileRanks = Q("q_ntile",
    (s, dir) => {
      val w = Window.partitionBy(col("c_nationkey"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.read(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          floor(percent_rank().over(w) * 1000000).cast("long").as("pr_micro"),
          floor(cume_dist().over(w) * 1000000).cast("long").as("cd_micro"))
    },
    Some("""SELECT c_custkey, c_nationkey,
           | ntile(4) OVER w AS quartile,
           | CAST(floor(percent_rank() OVER w * 1000000) AS BIGINT) AS pr_micro,
           | CAST(floor(cume_dist() OVER w * 1000000) AS BIGINT) AS cd_micro
           |FROM customer
           |WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)""".stripMargin))

  // ---------------------------------------------------------------------
  // Pivot (wide conditional aggregation)
  // ---------------------------------------------------------------------

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val pivotCounts = Q("q_pivot",
    (s, dir) => {
      val wide = Queries.events(s, dir)
        .groupBy(col("user_id"))
        .pivot("event_type", eventTypes)
        .agg(count(lit(1)))
      wide.select(col("user_id") +:
        eventTypes.map(et => coalesce(col(et), lit(0L)).as(s"n_$et")): _*)
    },
    Some(s"""SELECT user_id,
            | ${eventTypes.map(et =>
              s"count(*) FILTER (WHERE event_type = '$et') AS n_$et").mkString(", ")}
            |FROM events GROUP BY user_id""".stripMargin))

  // ---------------------------------------------------------------------
  // Joins: full outer, interval (equi + range residual), banded range
  // ---------------------------------------------------------------------

  val fullOuterJoin = Q("q_full_outer_join",
    (s, dir) => {
      val a = Queries.events(s, dir)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
      val b = Tables.read(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      a.join(b, a("user_id") === b("o_custkey"), "full_outer")
        .select(coalesce(col("user_id"), col("o_custkey")).as("key"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
    Some("""WITH a AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id),
           |b AS (SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey)
           |SELECT coalesce(a.user_id, b.o_custkey) AS key,
           | coalesce(a.n_events, 0) AS n_events,
           | coalesce(b.n_orders, 0) AS n_orders
           |FROM a FULL OUTER JOIN b ON a.user_id = b.o_custkey""".stripMargin))

  /** Interval join: lineitems shipped within 30 days of their order's
    * date. The equi key (orderkey) carries the shuffle; the time range is
    * a residual predicate — no time-bucketed crossJoin needed.
    */
  val intervalJoin = Q("q_interval_join",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .join(Tables.read(s, dir, "orders"), col("l_orderkey") === col("o_orderkey")
        && col("l_shipdate") >= col("o_orderdate")
        && col("l_shipdate") < col("o_orderdate") + expr("INTERVAL 30 DAYS"))
      .groupBy(col("o_orderkey"))
      .agg(count(lit(1)).as("n_fast"), sumIntUnits(col("l_quantity")).as("qty")),
    Some(s"""SELECT o_orderkey, count(*) AS n_fast, ${sqlSumIntUnits("l_quantity")} AS qty
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |  AND l_shipdate >= o_orderdate
           |  AND l_shipdate < o_orderdate + INTERVAL 30 DAY
           |GROUP BY o_orderkey""".stripMargin))

  /** Banded range join: facts against a broadcast dimension of value
    * bands — the scalable shape for arbitrary range joins when one side
    * is a bounded band table.
    */
  val bandJoin = Q("q_band_join",
    (s, dir) => {
      import s.implicits._
      val bands = (0 until 10)
        .map(i => (i.toLong, 900.0 + 10 * i, 910.0 + 10 * i))
        .toDF("band", "lo", "hi")
      Tables.read(s, dir, "part")
        .join(broadcast(bands),
          col("p_retailprice") >= col("lo") && col("p_retailprice") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("cnt"), sumMoney(col("p_retailprice")).as("sum_price"))
    },
    Some(s"""WITH bands(band, lo, hi) AS (
           |  SELECT i, 900.0 + 10 * i, 910.0 + 10 * i FROM generate_series(0, 9) t(i))
           |SELECT band, count(*) AS cnt, ${sqlSumMoney("p_retailprice")} AS sum_price
           |FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
           |GROUP BY band""".stripMargin))

  // ---------------------------------------------------------------------
  // Set operations
  // ---------------------------------------------------------------------

  val intersectKeys = Q("q_intersect",
    (s, dir) => Tables.read(s, dir, "orders").select(col("o_custkey").as("key"))
      .intersect(Queries.events(s, dir).select(col("user_id").as("key"))),
    Some("SELECT o_custkey AS key FROM orders INTERSECT SELECT user_id FROM events"))

  val exceptKeys = Q("q_except",
    (s, dir) => Tables.read(s, dir, "orders").select(col("o_custkey").as("key"))
      .except(Queries.events(s, dir).select(col("user_id").as("key"))),
    Some("SELECT o_custkey AS key FROM orders EXCEPT SELECT user_id FROM events"))

  // ---------------------------------------------------------------------
  // Argmax aggregation, calendar bucketing, scalar subquery,
  // conditional aggregation, hash sampling, approximate distinct
  // ---------------------------------------------------------------------

  /** max_by / arg_max with a composite (date, key) ordering packed into
    * one BIGINT (epoch-day ≪ 32 | orderkey) — unique, so the argmax is
    * deterministic in both engines.
    */
  val argmaxBy = Q("q_argmax_by",
    (s, dir) => {
      val ordKey = datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1970-01-01")))
        .cast("long") * lit(4294967296L) + col("o_orderkey")
      Tables.read(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max_by(col("o_orderkey"), ordKey).as("latest_orderkey"),
          date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("latest_date"))
    },
    Some("""SELECT o_custkey,
           | arg_max(o_orderkey,
           |   datediff('day', DATE '1970-01-01', o_orderdate) * 4294967296 + o_orderkey)
           |   AS latest_orderkey,
           | strftime(max(o_orderdate), '%Y-%m-%d') AS latest_date
           |FROM orders GROUP BY o_custkey""".stripMargin))

  val monthAgg = Q("q_month_agg",
    (s, dir) => Tables.read(s, dir, "orders")
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(count(lit(1)).as("cnt"), sumMoney(col("o_totalprice")).as("rev")),
    Some(s"""SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
           | count(*) AS cnt, ${sqlSumMoney("o_totalprice")} AS rev
           |FROM orders GROUP BY 1""".stripMargin))

  /** Scalar subquery: the global average broadcasts to every row (one
    * tiny aggregate, no per-row recompute).
    */
  val scalarSubquery = Q("q_scalar_subquery",
    (s, dir) => {
      val c = Tables.read(s, dir, "customer")
      val avgBal = c.agg(avg(col("c_acctbal")).as("ab"))
      c.crossJoin(broadcast(avgBal))
        .filter(col("c_acctbal") > col("ab"))
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
    },
    Some("""SELECT c_custkey, round(c_acctbal, 2) AS bal FROM customer
           |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)""".stripMargin))

  /** Conditional aggregation (FILTER / CASE folding): per-flag revenue
    * restricted to discounted rows + a bulk-line count, one scan.
    */
  val conditionalAgg = Q("q_conditional_agg",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        (sum(when(col("l_discount") > 0.05, cents(col("l_extendedprice"))))
          .cast("double") / 100.0).as("disc_rev"),
        sum(when(col("l_quantity") > 25, 1L).otherwise(0L)).as("n_bulk"),
        count(lit(1)).as("cnt")),
    Some("""SELECT l_returnflag,
           | CAST(sum(CASE WHEN l_discount > 0.05
           |     THEN CAST(round(l_extendedprice * 100) AS BIGINT) END) AS DOUBLE)
           |   / 100.0 AS disc_rev,
           | count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
           | count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  /** Deterministic hash sampling — the reproducible alternative to
    * `sample()` for pipeline subsetting: identical subset on every
    * engine, every run, any partitioning.
    */
  val hashSample = Q("q_hash_sample",
    (s, dir) => Tables.read(s, dir, "documents")
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("long") % 10 === 0)
      .select(col("doc_id"), col("lang"), col("n_chars")),
    Some("""SELECT doc_id, lang, n_chars FROM documents
           |WHERE ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT % 10 = 0""".stripMargin))

  /** HLL++ approximate distinct — the 100 TB path for q_count_distinct
    * (fixed-size sketch vs a full shuffle of the distinct keys). Sketch
    * encodings are engine-specific, so this surface is NOT driver-
    * registered (no DuckDB oracle exists); its accuracy is pinned by the
    * oracle-green q_approx_distinct_bound and by `OlapQueriesSpec`'s 5%
    * envelope test, and the exact semantics by q_count_distinct.
    */
  val approxDistinct = Q("q_approx_distinct",
    (s, dir) => Queries.events(s, dir)
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users")),
    None)

  /** KLL/GK-style approximate quantiles (`percentile_approx`) — the
    * fixed-size-sketch scale path for q_quantiles (exact percentile
    * shuffles every value; the sketch is mergeable partial+final state).
    * Sketch results are engine-specific, so this surface is NOT driver-
    * registered; q_approx_quantiles_bound carries the oracle-checked
    * rank-error envelope and the exact twin pins the semantics.
    */
  val approxQuantiles = Q("q_approx_quantiles",
    (s, dir) => Queries.events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50_approx"),
        percentile_approx(col("value"), lit(0.9), lit(1000)).as("p90_approx")),
    None)

  /** Bound check for q_approx_distinct: the HLL++ estimate must land
    * within 5% (5×rsd at rsd=0.01 — a ≥5σ envelope) of the exact
    * distinct count. The DuckDB oracle cannot reproduce the
    * engine-specific sketch, but it CAN pin the bound: the query emits
    * only the per-group boolean, so a silently broken sketch flips a row
    * to 0 → hash mismatch → red CORRECTNESS row. (The raw estimates stay
    * available as the library surface `approxDistinct`, spec-tested.)
    */
  val approxDistinctBound = Q("q_approx_distinct_bound",
    // pre-distinct on (event_type, user_id) instead of mixing distinct +
    // plain aggs in one pass: the mixed form Expands the event stream
    // (one copy per agg class); the distinct-first form is one map-side
    // partial distinct, and the HLL estimate over the deduped keys is
    // the same estimator
    (s, dir) => Queries.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.01).as("est"),
        count(lit(1)).as("exact"))
      .select(col("event_type"),
        (abs(col("est") - col("exact")).cast("double") / col("exact") <= 0.05)
          .cast("long").as("within_bound")),
    Some("""SELECT event_type, CAST(1 AS BIGINT) AS within_bound
           |FROM events GROUP BY event_type""".stripMargin))

  /** Bound check for q_approx_quantiles: percentile_approx(accuracy=1000)
    * guarantees rank error ≤ n/accuracy; the check allows 1%·n + 1 (10×
    * the nominal guarantee, robust to tie granularity) on the rank of the
    * returned element. Same posture as q_approx_distinct_bound: the
    * oracle pins the all-ones boolean surface, so a broken sketch turns
    * the row red even though DuckDB never runs the sketch itself.
    */
  val approxQuantilesBound = Q("q_approx_quantiles_bound",
    (s, dir) => {
      val ev = Queries.events(s, dir)
      val est = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"), lit(0.5), lit(1000)).as("p50"),
          percentile_approx(col("value"), lit(0.9), lit(1000)).as("p90"),
          count(lit(1)).as("n"))
      ev.join(est, "event_type")
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("value") <= col("p50"), 1L).otherwise(0L)).as("r50"),
          sum(when(col("value") <= col("p90"), 1L).otherwise(0L)).as("r90"),
          first(col("n")).as("n"))
        .select(col("event_type"),
          (abs(col("r50") - col("n") * 0.5) <= col("n") * 0.01 + 1)
            .cast("long").as("p50_ok"),
          (abs(col("r90") - col("n") * 0.9) <= col("n") * 0.01 + 1)
            .cast("long").as("p90_ok"))
    },
    Some("""SELECT event_type, CAST(1 AS BIGINT) AS p50_ok, CAST(1 AS BIGINT) AS p90_ok
           |FROM events GROUP BY event_type""".stripMargin))

  /** Built-in session windows (the streaming-native sessionization
    * operator, batch twin of its Structured Streaming form): events merge
    * while gaps stay under 30 min; the window is half-open, so an event
    * at exactly prev + 30min starts a new session and the session end is
    * last_ts + 30min. Oracle replicates via the gap-marker construction.
    */
  val sessionWindow = Q("q_session_window",
    (s, dir) => Queries.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
        date_format(col("sw.end"), "yyyy-MM-dd HH:mm:ss").as("end_ts"),
        col("n_events")),
    Some("""WITH x AS (
           |  SELECT user_id, event_id, ts,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           |  FROM events),
           |y AS (
           |  SELECT user_id, event_id, ts,
           |    CASE WHEN prev_ts IS NULL
           |           OR epoch_ms(ts) - epoch_ms(prev_ts) >= 1800000 THEN 1 ELSE 0 END AS is_new
           |  FROM x),
           |z AS (
           |  SELECT user_id, ts,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                      ROWS UNBOUNDED PRECEDING) AS sess
           |  FROM y)
           |SELECT user_id,
           |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
           |  strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS end_ts,
           |  count(*) AS n_events
           |FROM z GROUP BY user_id, sess""".stripMargin))

  /** JSON scalar functions — serialize a struct per row, then extract
    * typed fields back out by JSON path (the parse side of a pipeline
    * ingesting JSON event payloads). Spark's to_json field order follows
    * the struct; the oracle builds the identical byte string.
    */
  val jsonExtract = Q("q_json_extract",
    (s, dir) => {
      // coalesce BOTH engines' inputs: Spark's to_json omits null struct
      // fields while DuckDB's emits them, so a NULL would diverge; with
      // non-null inputs both serializers produce identical compact bytes
      // (same field order, same \" escaping)
      val payload = to_json(struct(
        coalesce(col("lang"), lit("")).as("lang"),
        coalesce(col("n_chars"), lit(0)).as("n_chars")))
      Tables.read(s, dir, "documents")
        .select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"), col("payload"),
          get_json_object(col("payload"), "$.lang").as("x_lang"),
          get_json_object(col("payload"), "$.n_chars").cast("long").as("x_chars"))
    },
    Some("""WITH j AS (
           |  SELECT doc_id,
           |    to_json(struct_pack(lang := coalesce(lang, ''),
           |                        n_chars := coalesce(n_chars, 0))) AS payload
           |  FROM documents)
           |SELECT doc_id, payload,
           | json_extract_string(payload, '$.lang') AS x_lang,
           | CAST(json_extract_string(payload, '$.n_chars') AS BIGINT) AS x_chars
           |FROM j""".stripMargin))

  /** Bivariate statistics aggregates — corr / covar / stddev / variance
    * per group, one scan. Rounding absorbs parallel-sum reordering (the
    * co-moment magnitudes keep the rounded decimals stable).
    */
  val statsCorr = Q("q_stats_corr",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 6).as("covar_qty_disc"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"),
        round(var_pop(col("l_discount")), 8).as("var_disc"),
        count(lit(1)).as("cnt")),
    Some("""SELECT l_returnflag,
           | round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           | round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc,
           | round(stddev_samp(l_quantity), 6) AS sd_qty,
           | round(var_pop(l_discount), 8) AS var_disc,
           | count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  /** Value-range window frame (RANGE BETWEEN over an integer day key):
    * trailing-30-day revenue per customer — the time-decayed aggregation
    * ROWS frames can't express. One shuffle on the partition key.
    */
  val rangeFrame = Q("q_range_frame",
    (s, dir) => {
      val dayKey = datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1970-01-01")))
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("epoch_day"))
        .rangeBetween(-30, 0)
      Tables.read(s, dir, "orders")
        .withColumn("epoch_day", dayKey.cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("epoch_day"),
          (sum(cents(col("o_totalprice"))).over(w).cast("double") / 100.0)
            .as("rev_30d"),
          count(lit(1)).over(w).as("n_30d"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           | datediff('day', DATE '1970-01-01', o_orderdate) AS epoch_day,
           | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS DOUBLE)
           |   / 100.0 AS rev_30d,
           | count(*) OVER w AS n_30d
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey
           |             ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
           |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)""".stripMargin))

  /** Correlated scalar subquery, decorrelated the scalable way: the
    * per-nation average is a tiny aggregate broadcast back onto the fact
    * side (exactly Catalyst's decorrelation of the SQL form the oracle
    * runs) — customers above their own nation's average balance.
    */
  val correlatedSubquery = Q("q_correlated_subquery",
    (s, dir) => {
      val c = Tables.read(s, dir, "customer")
      val natAvg = c.groupBy(col("c_nationkey").as("nk"))
        .agg(avg(col("c_acctbal")).as("nat_avg"))
      c.join(broadcast(natAvg), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("nat_avg"))
        .select(col("c_custkey"), col("c_nationkey"),
          round(col("c_acctbal"), 2).as("bal"))
    },
    Some("""SELECT c_custkey, c_nationkey, round(c_acctbal, 2) AS bal
           |FROM customer c
           |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
           |                   WHERE c2.c_nationkey = c.c_nationkey)""".stripMargin))

  /** Calendar scalar functions: part extraction, day arithmetic,
    * end-of-month — rendered portably (ints widened to BIGINT, dates as
    * strings).
    */
  val dateParts = Q("q_date_parts",
    (s, dir) => Tables.read(s, dir, "orders")
      .select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        date_format(date_add(col("o_orderdate"), 90), "yyyy-MM-dd").as("due_date"),
        date_format(last_day(col("o_orderdate")), "yyyy-MM-dd").as("month_end")),
    Some("""SELECT o_orderkey,
           | year(o_orderdate) AS y, quarter(o_orderdate) AS q,
           | month(o_orderdate) AS m, day(o_orderdate) AS dom,
           | strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS due_date,
           | strftime(last_day(o_orderdate), '%Y-%m-%d') AS month_end
           |FROM orders""".stripMargin))

  /** String scalar functions: case, padding, reversal, literal
    * replacement, slicing, concatenation — one composed pass.
    */
  val stringFuncs = Q("q_string_funcs",
    (s, dir) => Tables.read(s, dir, "customer")
      .select(col("c_custkey"),
        upper(col("c_name")).as("uname"),
        lpad(col("c_custkey").cast("string"), 12, "0").as("padded"),
        reverse(col("c_name")).as("rname"),
        regexp_replace(col("c_name"), "Customer#", "C-").as("short_name"),
        substring(col("c_name"), 1, 8).as("prefix8"),
        concat_ws("|", col("c_mktsegment"), col("c_name")).as("tagged")),
    Some("""SELECT c_custkey,
           | upper(c_name) AS uname,
           | lpad(CAST(c_custkey AS VARCHAR), 12, '0') AS padded,
           | reverse(c_name) AS rname,
           | replace(c_name, 'Customer#', 'C-') AS short_name,
           | substring(c_name, 1, 8) AS prefix8,
           | concat_ws('|', c_mktsegment, c_name) AS tagged
           |FROM customer""".stripMargin))

  /** Boundary navigation — first/last/nth order per customer over the
    * full-partition frame (the default frame stops at CURRENT ROW for
    * last_value, a classic silent-wrong-answer; both sides pin the
    * UNBOUNDED FOLLOWING frame explicitly).
    */
  val firstLastValue = Q("q_first_last",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.read(s, dir, "orders").select(col("o_custkey"), col("o_orderkey"),
        first(col("o_orderkey")).over(w).as("first_key"),
        last(col("o_orderkey")).over(w).as("last_key"),
        nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           | first_value(o_orderkey) OVER w AS first_key,
           | last_value(o_orderkey) OVER w AS last_key,
           | nth_value(o_orderkey, 2) OVER w AS second_key
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin))

  /** Ordered string aggregation (LISTAGG) — collect_list carries no
    * ordering guarantee under distributed execution, so the engine sorts
    * the collected array before joining; the oracle's ORDER BY inside
    * string_agg yields the same multiset order.
    */
  val stringAgg = Q("q_string_agg",
    (s, dir) => Tables.read(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        array_join(array_sort(collect_list(col("o_orderstatus"))), ",").as("statuses")),
    Some("""SELECT o_custkey, count(*) AS n_orders,
           | string_agg(o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
           |FROM orders GROUP BY o_custkey""".stripMargin))

  /** Median + deterministic mode per return flag. Spark's mode() breaks
    * frequency ties arbitrarily, so the mode is computed as a
    * count-then-rank with an explicit (freq DESC, value) tie-break —
    * identical construction on both engines. Median interpolates the
    * two middles; quantities are integral doubles, so round(4) is safe.
    */
  val medianMode = Q("q_median_mode",
    (s, dir) => {
      val li = Tables.read(s, dir, "lineitem")
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("c").desc, col("l_quantity"))
      val mode = li.groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("c").as("mode_n"))
      li.groupBy(col("l_returnflag"))
        .agg(round(median(col("l_quantity")), 4).as("median_qty"))
        .join(broadcast(mode), Seq("l_returnflag"))
        .select(col("l_returnflag"), col("median_qty"), col("mode_qty"), col("mode_n"))
    },
    Some("""WITH c AS (
           |  SELECT l_returnflag, l_quantity, count(*) AS c
           |  FROM lineitem GROUP BY l_returnflag, l_quantity),
           |m AS (
           |  SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_n,
           |    row_number() OVER (PARTITION BY l_returnflag
           |      ORDER BY c DESC, l_quantity) AS rn
           |  FROM c)
           |SELECT li.l_returnflag, round(median(li.l_quantity), 4) AS median_qty,
           |  m.mode_qty, m.mode_n
           |FROM lineitem li JOIN m ON m.l_returnflag = li.l_returnflag AND m.rn = 1
           |GROUP BY li.l_returnflag, m.mode_qty, m.mode_n""".stripMargin))

  /** Boolean and bitwise aggregates — bool_and/bool_or over predicates,
    * bit_and/or/xor over line numbers. Booleans emitted as BIGINT (the
    * repo's cross-engine hash convention) and line numbers widened to
    * BIGINT so both engines agree on the aggregate type.
    */
  val boolBitAgg = Q("q_bool_bit_agg",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .withColumn("ln", col("l_linenumber").cast("long"))
      .groupBy(col("l_returnflag"))
      .agg(expr("bool_and(l_quantity > 0)").cast("long").as("all_pos"),
        expr("bool_or(l_discount > 0.07)").cast("long").as("any_deep_discount"),
        expr("bit_and(ln)").as("ln_and"),
        expr("bit_or(ln)").as("ln_or"),
        expr("bit_xor(ln)").as("ln_xor")),
    Some("""SELECT l_returnflag,
           | CAST(bool_and(l_quantity > 0) AS BIGINT) AS all_pos,
           | CAST(bool_or(l_discount > 0.07) AS BIGINT) AS any_deep_discount,
           | bit_and(CAST(l_linenumber AS BIGINT)) AS ln_and,
           | bit_or(CAST(l_linenumber AS BIGINT)) AS ln_or,
           | bit_xor(CAST(l_linenumber AS BIGINT)) AS ln_xor
           |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  /** TPC-H-Q5-shaped star join — revenue per nation for one region and a
    * two-year window. The canonical 100 TB join topology: the fact chain
    * (lineitem ⋈ orders ⋈ customer) shuffles on its keys with the date
    * filter pushed to the orders scan, while the nation/region dimension
    * spokes broadcast (the region filter prunes BEFORE the broadcast, so
    * the fact side drops non-ASIA rows in the probe, never shuffling for
    * a dimension). Revenue is exact at 4 decimals (2-dec price × 2-dec
    * discount), so the per-row cents×cents product is an exact integer
    * of revenue·10⁴ and the long sum is summation-order-proof (the
    * round(sum(double),4) form went hash-red at sf10).
    */
  val starJoin = Q("q_star_join",
    (s, dir) => {
      val o = Tables.read(s, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
      Tables.read(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.read(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.read(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.read(s, dir, "region").filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg((sum(cents(col("l_extendedprice")) * cents(lit(1) - col("l_discount")))
          .cast("double") / 10000.0).as("revenue"),
          count(lit(1)).as("n_items"))
    },
    Some("""SELECT n_name,
           | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           |         * CAST(round((1 - l_discount) * 100) AS BIGINT)) AS DOUBLE)
           |   / 10000.0 AS revenue,
           | count(*) AS n_items
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |WHERE r_name = 'ASIA'
           |  AND o_orderdate >= '1996-01-01' AND o_orderdate < '1998-01-01'
           |GROUP BY n_name""".stripMargin))

  /** Global ORDER BY ... LIMIT — the top-k that must NOT be a total sort
    * at 100 TB: each task keeps a local top-100, the driver merges k×tasks
    * rows (Spark's TakeOrderedAndProject, plan-pinned). The (n_chars,
    * doc_id) composite makes the top-100 set unique.
    */
  val orderByLimit = Q("q_order_by_limit",
    (s, dir) => Tables.read(s, dir, "documents")
      .orderBy(col("n_chars").desc, col("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("n_chars")),
    Some("SELECT doc_id, n_chars FROM documents ORDER BY n_chars DESC, doc_id LIMIT 100"))

  /** Time-bucket gap-fill with forward fill — the densification step a
    * metrics/feature pipeline runs before modeling: per user, hourly
    * buckets from first to last observation, missing hours emitted with
    * n_events = 0 and the last observed per-bucket max carried forward.
    *
    * The spine is generated per user from the (min, max) bucket
    * aggregate — `sequence` + explode, bounded by the time horizon (one
    * year of hours = 8.8k rows/user), never a calendar crossJoin against
    * the user dimension. The fill is `last(ignoreNulls)` over a
    * per-user window; partitions are horizon-bounded, so no global sort
    * and no skew beyond the horizon itself. The filled value is emitted
    * in floor-micro units (both engines forward-fill the identical
    * double; floor is tie-free). The first spine bucket per user is an
    * observed one by construction, so the fill is never NULL.
    */
  val gapFill = Q("q_gap_fill",
    (s, dir) => {
      val obs = Queries.events(s, dir)
        .select(col("user_id"),
          expr("unix_micros(ts) DIV 3600000000 * 3600").as("bucket"),
          col("value"))
        .groupBy(col("user_id"), col("bucket"))
        .agg(max(col("value")).as("v"), count(lit(1)).as("n_events"))
      val spine = obs.groupBy(col("user_id"))
        .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
        .select(col("user_id"),
          explode(sequence(col("lo"), col("hi"), lit(3600L))).as("bucket"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(obs, Seq("user_id", "bucket"), "left")
        .select(col("user_id"), col("bucket"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          floor(lit(1e6) * last(col("v"), ignoreNulls = true).over(w))
            .cast("long").as("v_filled_micro"))
    },
    Some("""WITH obs AS (
           |  SELECT user_id, epoch_ns(ts) // 3600000000000 * 3600 AS bucket,
           |    max(value) AS v, count(*) AS n_events
           |  FROM events GROUP BY 1, 2),
           |spine AS (
           |  SELECT user_id, unnest(generate_series(lo, hi, 3600)) AS bucket
           |  FROM (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
           |        FROM obs GROUP BY user_id))
           |SELECT s.user_id, s.bucket, coalesce(o.n_events, 0) AS n_events,
           |  CAST(floor(1e6 * last_value(o.v IGNORE NULLS) OVER (
           |    PARTITION BY s.user_id ORDER BY s.bucket
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
           |    AS v_filled_micro
           |FROM spine s LEFT JOIN obs o
           |  ON s.user_id = o.user_id AND s.bucket = o.bucket""".stripMargin))

  /** Exact-k uniform sample: bottom-k by a portable hash priority
    * (md5 is a uniform total order over distinct keys). Unlike the
    * Bernoulli `q_hash_sample` (whose size is only k IN EXPECTATION),
    * bottom-k yields exactly k rows and is mergeable: each partition
    * keeps its local k smallest, the driver merges k·P candidates —
    * Spark plans it as TakeOrderedAndProject, never a global sort. The
    * same bottom-k set is also an order-statistic distinct-count sketch
    * (the KMV construction), so this doubles as the "sample you can
    * union across 100 TB of partitions" primitive.
    */
  val prioritySample = Q("q_priority_sample",
    (s, dir) => Tables.read(s, dir, "documents")
      .orderBy(md5(col("doc_id").cast("string")))
      .limit(100)
      .select(col("doc_id"), col("lang")),
    Some("""SELECT doc_id, lang FROM documents
           |ORDER BY md5(doc_id::VARCHAR) LIMIT 100""".stripMargin))

  /** Exact-k WEIGHTED sample without replacement (Efraimidis–Spirakis
    * A-ES): priority = ln(u)/w with u hash-uniform in (0,1] and
    * w = n_chars; the k largest priorities are a weighted sample — long
    * documents proportionally more likely, the standard token-weighted
    * subcorpus draw. Deterministic (hash-derived u, same md5 → same
    * double → same ln in both engines) and distributed exactly like
    * q_priority_sample: per-partition top-k, TakeOrderedAndProject, no
    * global sort, mergeable across corpus shards.
    */
  val weightedSample = Q("q_weighted_sample",
    (s, dir) => {
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") + 1).cast("double") / 4294967297.0
      Tables.read(s, dir, "documents")
        .withColumn("pri", log(u) / col("n_chars").cast("double"))
        .orderBy(col("pri").desc)
        .limit(50)
        .select(col("doc_id"), col("n_chars"))
    },
    Some("""SELECT doc_id, n_chars FROM documents
           |ORDER BY ln((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT + 1)
           |            / 4294967297.0) / n_chars DESC
           |LIMIT 50""".stripMargin))

  /** Incremental aggregate maintenance — the materialized-view pattern a
    * 100 TB pipeline uses for daily corpus stats: each day produces a
    * BOUNDED partial (count + sum per event_type), and the running state
    * is the monoid merge of partials in day order — yesterday's state
    * never recomputes, today's raw data is touched exactly once. The
    * query computes the daily partials with one partial+final aggregate
    * (the only corpus-scale pass) and folds them with a window over the
    * |days|×|types| grid; cum_avg is derived FROM the merged state,
    * demonstrating that algebraic aggregates (avg, std via sum/sumsq)
    * need only monoid partials. Daily sums are rounded before the fold
    * so the cumulative doubles are identical across engines.
    */
  val incrementalStats = Q("q_incremental_stats",
    (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      Queries.events(s, dir)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("d_n"), round(sum(col("value")), 4).as("d_sum"))
        .withColumn("cum_n", sum(col("d_n")).over(w))
        .withColumn("cum_sum", round(sum(col("d_sum")).over(w), 4))
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("d_n"), col("cum_n"),
          col("cum_sum"),
          round(col("cum_sum") / col("cum_n"), 6).as("cum_avg"))
    },
    Some("""WITH daily AS (
           |  SELECT event_type, ts::DATE AS day, count(*) AS d_n,
           |         round(sum(value), 4) AS d_sum
           |  FROM events GROUP BY 1, 2)
           |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, d_n,
           |  CAST(sum(d_n) OVER w AS BIGINT) AS cum_n,
           |  round(sum(d_sum) OVER w, 4) AS cum_sum,
           |  round(round(sum(d_sum) OVER w, 4) / sum(d_n) OVER w, 6) AS cum_avg
           |FROM daily
           |WINDOW w AS (PARTITION BY event_type ORDER BY day
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin))

  /** Z-order (Morton) layout audit — the multi-dimensional data-layout
    * primitive behind Delta/Iceberg `OPTIMIZE ZORDER BY`: interleaving
    * the bits of two dimensions gives a 1-D sort key under which every
    * contiguous key range covers a small axis-aligned tile of the 2-D
    * space, so per-file min/max statistics prune scans on EITHER
    * dimension (a plain sort prunes only its leading column). The query
    * computes the 16-bit Morton code of (user_id mod 256,
    * floor(value/2)), buckets by the top 8 bits — i.e. the files a
    * z-sorted `repartitionByRange(zorder).sortWithinPartitions` write
    * would produce — and emits each bucket's bounding box: spans ≤ 16×32
    * per tile versus a full-range span for an unsorted layout. Pure
    * integer bit math (shift/and/or), identical in both engines.
    */
  val zorderLayout = Q("q_zorder_layout",
    (s, dir) => {
      val x = (col("user_id") % 256).cast("int")
      val y = floor(col("value") / 2).cast("int")
      val z = (0 until 8).map(i =>
        shiftleft(shiftright(x, i).bitwiseAND(1), 2 * i) +
          shiftleft(shiftright(y, i).bitwiseAND(1), 2 * i + 1))
        .reduce(_ + _)
      Queries.events(s, dir)
        .withColumn("x", x).withColumn("y", y)
        .withColumn("zbucket", (z / 256).cast("long"))
        .groupBy(col("zbucket"))
        .agg(count(lit(1)).as("n"),
          (max(col("x")) - min(col("x"))).cast("long").as("span_x"),
          (max(col("y")) - min(col("y"))).cast("long").as("span_y"))
    },
    Some {
      val zSql = (0 until 8).map(i =>
        s"((((user_id % 256) >> $i) & 1) << ${2 * i}) + " +
          s"(((CAST(floor(value / 2) AS INT) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""SELECT CAST(($zSql) // 256 AS BIGINT) AS zbucket, count(*) AS n,
         |  CAST(max(user_id % 256) - min(user_id % 256) AS BIGINT) AS span_x,
         |  CAST(max(floor(value / 2)) - min(floor(value / 2)) AS BIGINT) AS span_y
         |FROM events GROUP BY 1""".stripMargin
    })

  /** SCD2 (slowly-changing-dimension type 2) interval construction from
    * an event log — the warehouse primitive for "what was this entity's
    * attribute AT time t": collapse each user's event stream into runs
    * of constant event_type (gaps-and-islands via lag + running change
    * count) and emit [valid_from, valid_to) validity intervals, open-
    * ended for the current run. Two windows over the same (user_id, ts)
    * sort — one partition-local shuffle total, no self-join; at 100 TB
    * this is one repartition by user_id with everything else map-side
    * within the partition.
    */
  val scd2Intervals = Q("q_scd2_intervals",
    (s, dir) => {
      val byTs = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val changed = when(
        lag(col("event_type"), 1).over(byTs).isNull ||
          lag(col("event_type"), 1).over(byTs) =!= col("event_type"), 1L)
        .otherwise(0L)
      val runs = Queries.events(s, dir)
        .withColumn("run_id", sum(changed).over(byTs))
        .groupBy(col("user_id"), col("run_id"), col("event_type"))
        .agg(min(col("ts")).as("vf"), count(lit(1)).as("n_events"))
      val byRun = Window.partitionBy(col("user_id")).orderBy(col("run_id"))
      runs
        .withColumn("vt", lead(col("vf"), 1).over(byRun))
        .select(col("user_id"), col("run_id"), col("event_type"),
          date_format(col("vf"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          coalesce(date_format(col("vt"), "yyyy-MM-dd HH:mm:ss"), lit("current"))
            .as("valid_to"),
          col("n_events"))
    },
    Some("""WITH runs AS (
           |  SELECT user_id, ts, event_id, event_type,
           |    CAST(sum(CASE WHEN prev IS NULL OR prev <> event_type THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS run_id
           |  FROM (SELECT *, lag(event_type) OVER (PARTITION BY user_id
           |                    ORDER BY ts, event_id) AS prev FROM events)),
           |periods AS (
           |  SELECT user_id, run_id, event_type, min(ts) AS vf,
           |         count(*) AS n_events
           |  FROM runs GROUP BY 1, 2, 3)
           |SELECT user_id, run_id, event_type,
           |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
           |  coalesce(strftime(lead(vf) OVER (PARTITION BY user_id ORDER BY run_id),
           |                    '%Y-%m-%d %H:%M:%S'), 'current') AS valid_to,
           |  n_events
           |FROM periods""".stripMargin))

  /** Winsorization — robust-statistics outlier clipping at exact
    * per-group percentiles (p05/p95), the standard numeric-feature
    * cleaning step before training. The cut points are DISCRETE
    * quantiles (the k-th smallest value, k = ceil(p·n)) rather than
    * interpolated ones: an interpolated cut is a value that exists in
    * neither engine's data, and with heavily tied inputs (sf1 carries
    * every value at ~10× multiplicity) a 1-ULP cross-engine difference
    * in the interpolation arithmetic moves whole tie-runs across the
    * strict `value < p05` clip predicate — observed at sf1 as a ±50
    * n_clipped_low mismatch. A discrete cut is an actual data value
    * selected by integer rank, so the clip counts are tie-exact in any
    * engine computing the same k (both sides share the identical
    * `ceil(n * 0.05)` double expression). One rank window per group
    * (partitioned — never global) feeds the cut selection; the clip
    * itself stays map-side against the broadcast per-group bounds. (At
    * 100 TB the exact rank would swap in the KLL sketch —
    * `q_approx_quantiles` — with the same downstream clip; this query
    * pins the exact semantics.)
    */
  val winsorize = Q("q_winsorize",
    (s, dir) => {
      // NULL values are excluded up front: Spark sorts ASC NULLS FIRST while
      // DuckDB sorts ASC NULLS LAST, and count(*) counts NULLs that the old
      // interpolated percentile silently skipped — either difference shifts
      // the rank k per engine. Filtering pins rank semantics identically.
      val ev = Queries.events(s, dir).filter(col("value").isNotNull)
      val w = Window.partitionBy(col("event_type")).orderBy(col("value"))
      val wc = Window.partitionBy(col("event_type"))
      val ranked = ev.select(col("event_type"), col("value"),
        row_number().over(w).as("r"),
        count(lit(1)).over(wc).as("n"))
      val bounds = ranked.groupBy(col("event_type")).agg(
        max(when(col("r") === ceil(col("n") * lit(0.05)), col("value"))).as("p05"),
        max(when(col("r") === ceil(col("n") * lit(0.95)), col("value"))).as("p95"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          round(first(col("p05")), 6).as("p05"),
          round(first(col("p95")), 6).as("p95"),
          sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_clipped_low"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_clipped_high"),
          round(avg(greatest(least(col("value"), col("p95")), col("p05"))), 4)
            .as("winsorized_mean"))
    },
    Some("""WITH ev AS (
           |  SELECT event_type, value FROM events WHERE value IS NOT NULL),
           |rk AS (
           |  SELECT event_type, value,
           |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS r,
           |    count(*) OVER (PARTITION BY event_type) AS n
           |  FROM ev),
           |b AS (
           |  SELECT event_type,
           |    max(CASE WHEN r = CAST(ceil(n * 0.05) AS BIGINT) THEN value END) AS p05,
           |    max(CASE WHEN r = CAST(ceil(n * 0.95) AS BIGINT) THEN value END) AS p95
           |  FROM rk GROUP BY 1)
           |SELECT e.event_type, round(any_value(b.p05), 6) AS p05,
           |  round(any_value(b.p95), 6) AS p95,
           |  CAST(sum(CASE WHEN e.value < b.p05 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_clipped_low,
           |  CAST(sum(CASE WHEN e.value > b.p95 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_clipped_high,
           |  round(avg(greatest(least(e.value, b.p95), b.p05)), 4)
           |    AS winsorized_mean
           |FROM ev e JOIN b USING (event_type)
           |GROUP BY e.event_type""".stripMargin))

  /** k-anonymity audit over quasi-identifiers — the privacy gate a
    * training corpus runs before release: every (nationkey, segment)
    * combination must describe ≥ k individuals or the rows are
    * re-identifiable. One partial+final aggregate on the bounded
    * quasi-identifier key space, then a scalar report — no row-level
    * data leaves the executors regardless of corpus size.
    */
  val kAnonymity = Q("q_k_anonymity",
    (s, dir) => {
      val k = 6
      val groups = Tables.read(s, dir, "customer")
        .groupBy(col("c_nationkey"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
      groups.agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("n") < k, 1L).otherwise(0L)).as("n_violating_groups"),
        sum(when(col("n") < k, col("n")).otherwise(0L)).as("n_records_at_risk"),
        min(col("n")).as("min_group_size"))
    },
    Some("""WITH g AS (
           |  SELECT c_nationkey, c_mktsegment, count(*) AS n
           |  FROM customer GROUP BY 1, 2)
           |SELECT count(*) AS n_groups,
           |  CAST(sum(CASE WHEN n < 6 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_violating_groups,
           |  CAST(sum(CASE WHEN n < 6 THEN n ELSE 0 END) AS BIGINT)
           |    AS n_records_at_risk,
           |  min(n) AS min_group_size
           |FROM g""".stripMargin))

  /** Data-expectation validation gate (Great-Expectations-style): a
    * suite of declarative constraints evaluated in ONE corpus pass —
    * every check is a conditional aggregate over the same scan, stacked
    * into (check, n_violations, passed) rows. This is the schema-drift /
    * garbage-ingest tripwire a daily 100 TB load runs before publishing
    * a partition; adding a check adds a column to the aggregate, never a
    * second scan.
    */
  val dataExpectations = Q("q_data_expectations",
    (s, dir) => {
      val agg = Queries.events(s, dir).agg(
        sum(when(col("value") < 0 || col("value") > 1000, 1L).otherwise(0L))
          .as("value_range"),
        sum(when(!col("event_type").isin("click", "view", "purchase", "signup",
          "error"), 1L).otherwise(0L)).as("event_type_domain"),
        sum(when(col("ts") < to_timestamp(lit("2024-01-01")) ||
          col("ts") >= to_timestamp(lit("2025-01-01")), 1L).otherwise(0L))
          .as("ts_window"),
        sum(when(col("user_id").isNull || col("user_id") < 0, 1L).otherwise(0L))
          .as("user_id_valid"),
        sum(when(col("event_id").isNull, 1L).otherwise(0L)).as("event_id_not_null"))
      agg.select(expr(
        """stack(5,
          |  'value_range', value_range,
          |  'event_type_domain', event_type_domain,
          |  'ts_window', ts_window,
          |  'user_id_valid', user_id_valid,
          |  'event_id_not_null', event_id_not_null) AS (check_name, n_violations)
          |""".stripMargin))
        .withColumn("passed", (col("n_violations") === 0L).cast("long"))
    },
    Some("""WITH a AS (
           |  SELECT
           |    CAST(sum(CASE WHEN value < 0 OR value > 1000 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS value_range,
           |    CAST(sum(CASE WHEN event_type NOT IN
           |      ('click','view','purchase','signup','error') THEN 1 ELSE 0 END)
           |      AS BIGINT) AS event_type_domain,
           |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-01'
           |      OR ts >= TIMESTAMP '2025-01-01' THEN 1 ELSE 0 END)
           |      AS BIGINT) AS ts_window,
           |    CAST(sum(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END)
           |      AS BIGINT) AS user_id_valid,
           |    CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
           |      AS BIGINT) AS event_id_not_null
           |  FROM events)
           |SELECT u.check_name, u.n_violations,
           |  CAST(CASE WHEN u.n_violations = 0 THEN 1 ELSE 0 END AS BIGINT) AS passed
           |FROM a, LATERAL (VALUES
           |  ('value_range', a.value_range),
           |  ('event_type_domain', a.event_type_domain),
           |  ('ts_window', a.ts_window),
           |  ('user_id_valid', a.user_id_valid),
           |  ('event_id_not_null', a.event_id_not_null)) AS u(check_name, n_violations)
           |""".stripMargin))

  /** Ordered funnel analysis — the event-sequence conversion query
    * (view → click → purchase, each stage strictly after the previous):
    * per user, the earliest timestamp of each stage via conditional
    * min-aggregation (ONE pass, no self-joins, no ordered pattern scan),
    * then the strictly-increasing chain condition decides how deep the
    * user converted. Output is the funnel: users reaching each stage.
    * At 100 TB this is one partial+final aggregate on user_id — the
    * 3-way self-join formulation it replaces would shuffle the event log
    * three times.
    */
  val funnel = Q("q_funnel",
    (s, dir) => {
      val stages = Queries.events(s, dir).groupBy(col("user_id"))
        .agg(
          min(when(col("event_type") === "view", col("ts"))).as("t_view"),
          min(when(col("event_type") === "click", col("ts"))).as("t_click"),
          min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
      // deepest strictly-ordered chain: view < click < purchase, where
      // each later stage's earliest occurrence AFTER the previous stage
      // is approximated by the global earliest (exact for the funnel
      // definition "first view, then first click after nothing")
      val depth = when(col("t_view").isNull, 0L)
        .when(col("t_click").isNull || col("t_click") <= col("t_view"), 1L)
        .when(col("t_purchase").isNull || col("t_purchase") <= col("t_click"), 2L)
        .otherwise(3L)
      stages.select(depth.as("depth"))
        .groupBy().agg(
          count(lit(1)).as("n_users"),
          sum(when(col("depth") >= 1, 1L).otherwise(0L)).as("reached_view"),
          sum(when(col("depth") >= 2, 1L).otherwise(0L)).as("reached_click"),
          sum(when(col("depth") >= 3, 1L).otherwise(0L)).as("reached_purchase"))
    },
    Some("""WITH s AS (
           |  SELECT user_id,
           |    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
           |    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
           |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
           |  FROM events GROUP BY user_id),
           |d AS (
           |  SELECT CASE
           |    WHEN t_view IS NULL THEN 0
           |    WHEN t_click IS NULL OR t_click <= t_view THEN 1
           |    WHEN t_purchase IS NULL OR t_purchase <= t_click THEN 2
           |    ELSE 3 END AS depth
           |  FROM s)
           |SELECT count(*) AS n_users,
           |  CAST(sum(CASE WHEN depth >= 1 THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
           |  CAST(sum(CASE WHEN depth >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
           |  CAST(sum(CASE WHEN depth >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase
           |FROM d""".stripMargin))

  /** STRICT sequential funnel — the windowed-funnel semantics
    * (`q_funnel` is the cheaper first-occurrence variant): stage k's
    * timestamp is the earliest event of that type AFTER stage k−1's
    * timestamp, so a click that preceded the first view does not count
    * and a later click can. Three conditional aggregates chained by
    * user_id equi-joins — all co-partitioned on the same key (one
    * shuffle each, no re-shuffle of earlier state), each intermediate
    * bounded by |users|.
    */
  val funnelStrict = Q("q_funnel_strict",
    (s, dir) => {
      val ev = Queries.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, Seq("user_id"))
        .filter(col("ts") > col("t1"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, Seq("user_id"))
        .filter(col("ts") > col("t2"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click_after_view")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after_click")))
    },
    Some("""WITH s1 AS (
           |  SELECT user_id, min(ts) AS t1 FROM events
           |  WHERE event_type = 'view' GROUP BY user_id),
           |s2 AS (
           |  SELECT e.user_id, min(e.ts) AS t2
           |  FROM events e JOIN s1 USING (user_id)
           |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
           |s3 AS (
           |  SELECT e.user_id, min(e.ts) AS t3
           |  FROM events e JOIN s2 USING (user_id)
           |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
           |SELECT (SELECT count(*) FROM s1) AS n_view,
           |       (SELECT count(*) FROM s2) AS n_click_after_view,
           |       (SELECT count(*) FROM s3) AS n_purchase_after_click""".stripMargin))

  /** Rolling median — robust trailing-window smoothing (a moving mean
    * chases the outlier that `q_mad_outliers` flags; the rolling median
    * ignores it). Spark has no percentile window function, so the
    * 5-row trailing frame is collected, sorted, and middle-selected in
    * a codegen'd array expression — the frame is O(1)-bounded so this
    * is exact and cheap at any scale; per-user windows keep the state
    * partition-local. Even-width frames average the two middles,
    * matching DuckDB's interpolating `median` exactly (same doubles).
    */
  val rollingMedian = Q("q_rolling_median",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
      val fr = sort_array(collect_list(col("value")).over(w))
      val n = size(fr)
      val med = when(n % 2 === 1, element_at(fr, ((n + 1) / 2).cast("int")))
        .otherwise((element_at(fr, (n / 2).cast("int"))
          + element_at(fr, (n / 2).cast("int") + 1)) / 2)
      Queries.events(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          round(med, 6).as("rolling_median5"))
    },
    Some("""SELECT user_id, event_id, value,
           |  round(median(value) OVER (PARTITION BY user_id
           |    ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6)
           |    AS rolling_median5
           |FROM events""".stripMargin))

  /** Cohort retention — the (signup-week cohort × week offset) active-user
    * matrix every growth dashboard runs: each user's cohort is their
    * FIRST-seen week (one aggregate), then activity joins back on
    * user_id (co-partitioned) and lands on the bounded cohort × offset
    * grid. Two shuffles on user_id + a grid-sized aggregate; retention
    * is micro-floored against the cohort size.
    */
  val cohortRetention = Q("q_cohort_retention",
    (s, dir) => {
      val ev = Queries.events(s, dir)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      val sizes = cohort.groupBy(col("cohort_wk")).agg(count(lit(1)).as("cohort_n"))
      ev.join(cohort, Seq("user_id"))
        .select(col("cohort_wk"),
          floor(datediff(col("wk"), col("cohort_wk")) / 7).cast("long")
            .as("week_offset"),
          col("user_id"))
        .distinct()
        .groupBy(col("cohort_wk"), col("week_offset"))
        .agg(count(lit(1)).as("active_users"))
        .join(broadcast(sizes), Seq("cohort_wk"))
        .select(date_format(col("cohort_wk"), "yyyy-MM-dd").as("cohort_week"),
          col("week_offset"), col("active_users"),
          floor(lit(1e6) * col("active_users") / col("cohort_n")).cast("long")
            .as("retention_micro"))
    },
    Some("""WITH ev AS (
           |  SELECT user_id, date_trunc('week', ts) AS wk FROM events),
           |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY user_id),
           |sizes AS (SELECT cohort_wk, count(*) AS cohort_n FROM cohort GROUP BY 1),
           |act AS (
           |  SELECT DISTINCT c.cohort_wk,
           |    CAST(floor(datediff('day', c.cohort_wk, e.wk) / 7) AS BIGINT)
           |      AS week_offset,
           |    e.user_id
           |  FROM ev e JOIN cohort c USING (user_id)),
           |g AS (SELECT cohort_wk, week_offset, count(*) AS active_users
           |      FROM act GROUP BY 1, 2)
           |SELECT strftime(g.cohort_wk, '%Y-%m-%d') AS cohort_week, g.week_offset,
           |  g.active_users,
           |  CAST(floor(1e6 * g.active_users / CAST(s.cohort_n AS DOUBLE)) AS BIGINT)
           |    AS retention_micro
           |FROM g JOIN sizes s USING (cohort_wk)""".stripMargin))

  /** Robust outlier detection via MAD (median absolute deviation) — the
    * heavy-tail-safe complement to `q_winsorize`'s percentile clipping:
    * per group, median and MAD (two exact medians — each one shuffle on
    * the group key), then the count of |x − med| > 3 × 1.4826 × MAD.
    * Mean/stddev z-scores break down when outliers inflate the stddev;
    * MAD has a 50% breakdown point. At 100 TB both medians swap in the
    * KLL sketch with the same downstream rule.
    */
  val madOutliers = Q("q_mad_outliers",
    (s, dir) => {
      val ev = Queries.events(s, dir)
      val med = ev.groupBy(col("event_type"))
        .agg(median(col("value")).as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(first(col("med")).as("med"),
          median(abs(col("value") - col("med"))).as("mad"))
      ev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          round(first(col("med")), 6).as("med"),
          round(first(col("mad")), 6).as("mad"),
          sum(when(abs(col("value") - col("med")) > col("mad") * 3 * 1.4826, 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n"))
    },
    Some("""WITH med AS (
           |  SELECT event_type, median(value) AS med FROM events GROUP BY 1),
           |mad AS (
           |  SELECT e.event_type, any_value(m.med) AS med,
           |         median(abs(e.value - m.med)) AS mad
           |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
           |SELECT e.event_type, round(any_value(m.med), 6) AS med,
           |  round(any_value(m.mad), 6) AS mad,
           |  CAST(sum(CASE WHEN abs(e.value - m.med) > m.mad * 3 * 1.4826
           |       THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           |  count(*) AS n
           |FROM events e JOIN mad m USING (event_type)
           |GROUP BY e.event_type""".stripMargin))

  def all: Seq[Q] = Seq(
    rollupAgg, cubeAgg, groupingSetsAgg, leadLag, movingAvg, ntileRanks,
    pivotCounts, fullOuterJoin, intervalJoin, bandJoin, intersectKeys,
    exceptKeys, argmaxBy, monthAgg, scalarSubquery, conditionalAgg,
    hashSample, approxDistinctBound,
    approxQuantilesBound, sessionWindow, jsonExtract,
    statsCorr, dateParts, stringFuncs, rangeFrame, correlatedSubquery,
    firstLastValue, stringAgg, medianMode, boolBitAgg, starJoin, orderByLimit,
    gapFill, prioritySample, weightedSample, incrementalStats, zorderLayout,
    scd2Intervals, winsorize, kAnonymity, dataExpectations,
    funnel, funnelStrict, cohortRetention, madOutliers, rollingMedian)
}
