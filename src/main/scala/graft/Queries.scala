package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.operators.SummaryAggregator
import graft.sources.Tables

/** The engine's operator inventory (SURVEY.md §2), each entry exercising
  * one operator family on the driver's testdata and paired with an ANSI
  * SQL oracle for DuckDB where the semantics are SQL-expressible.
  *
  * Conventions for oracle parity:
  *  - every computed/aggregate column is aliased identically on both
  *    sides (the driver sorts columns by name before hashing);
  *  - money (fixed 2-decimal) sums use exact integer cents ([[sumMoney]])
  *    so the total is summation-order-free; other floating-point
  *    aggregates are `round`ed on both sides;
  *  - float vectors are cast to double BEFORE arithmetic on both sides;
  *  - timestamps are rendered as 'yyyy-MM-dd HH:mm:ss' strings.
  */
object Queries {

  /** One registered operator query.
    *
    * `oracle` is the self-contained DuckDB SQL over the base parquet
    * tables (the driver's sf0.01 gate and the sf1 gate run it as-is).
    *
    * `scaleOracle` is an OPTIONAL cheaper twin for the scaled gates
    * (CHECK_ORACLE_SCALE=1): it may additionally reference views named
    * `dump_q_<name>` — the engine's OWN dumped result of another
    * registered query that the SAME gate run has already oracle-verified
    * (e.g. the groups oracle consumes the verified near-dup pair dump
    * instead of re-deriving the ~1e9-row band self-join inside DuckDB,
    * which OOM'd the 44.7 GiB oracle sessions at sf10 in r13). The
    * composition is sound exactly because the referenced dump is itself
    * hash-verified against ITS base oracle in the same artifact: a pass
    * certifies the downstream step GIVEN certified inputs. The gate
    * records which queries used a composed oracle.
    */
  final case class Q(
      name: String,
      fn: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      scaleOracle: Option[String] = None)

  /** Spread a narrow scan across the session's cores before a CPU-heavy
    * map kernel (opt §2.5/§2.6: stragglers and idle capacity).
    *
    * The driver testdata ships every table as ONE parquet row group, so a
    * scan — and every map-side kernel Catalyst fuses into the scan stage
    * (codec decodes, shingle/MinHash passes, per-doc native expressions) —
    * runs as a SINGLE task no matter the core count: the sf0.1 image tier
    * burned ~5 s/query on one of 32 cores. Hash-repartitioning the
    * projected key column moves a few hundred KB once and buys full-width
    * parallelism for the kernel.
    *
    * Scale posture: the width is `defaultParallelism` (tracks
    * SPARK_GRAFT_CPUS locally, total executor cores on a cluster), never
    * a constant; and when the input already carries at least that many
    * partitions — any real multi-row-group table at 100 TB — the
    * repartition is SKIPPED, so production plans keep their native scan
    * parallelism with zero added exchange. Hash partitioning on the
    * deterministic key (never round-robin over `rand()`) keeps the
    * row→partition map reproducible under task retries (SPARK-38388).
    */
  private[graft] def fanOut(df: DataFrame, key: String): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val have =
      try df.queryExecution.toRdd.getNumPartitions
      catch { case _: Throwable => 0 }
    if (have >= want) df else df.repartition(want, col(key))
  }

  /** The driver testdata has shipped `events.ts` as both TIMESTAMP(NANOS)
    * parquet (rounds ≤7 — Spark's vectorized reader rejects it, so nanos
    * are read as long and integer-DIV'd to micros) and plain
    * timestamp[us] (round-8 regen — read as TIMESTAMP_NTZ). Normalize
    * either encoding to a session-TZ TIMESTAMP so every downstream plan
    * and oracle sees one type.
    */
  private[graft] def events(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.read(s, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case _ => raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** embeddings with the float vector cast to array<double>. NOT fanned
    * out ([[fanOut]]): the 2k-vector kernels are latency-bound, not
    * CPU-bound — measured +0.2-5 s per consumer from the extra exchange
    * and task count, no compute win.
    */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "embeddings")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("e"), col("label"))

  // ---------------------------------------------------------------------
  // Summation-order-proof money aggregation.
  //
  // `round(sum(double), 2)` is ORDER-DEPENDENT: at sf10 (6×10⁷ lineitem
  // rows) the engine's and the oracle's partial-sum orders drift the
  // total past a cent boundary and the round() flips (the six sf10
  // hash-reds of round 12) — and on a real cluster two RUNS of the same
  // query would differ the same way. TPC-H money columns are exact
  // 2-decimal values, so the fix is exact integer units: per row,
  // round(x·100) recovers the integer cents exactly (the true product is
  // an integer and the double error is ≤ ~1e-9 ≪ 0.5), the long sum is
  // associative/commutative (order-free), and the final /100.0 maps the
  // identical long to the identical double in every engine. Headroom:
  // sf1000 lineitem revenue ≈ 5×10^15 cents ≪ 2^63.
  // ---------------------------------------------------------------------

  /** Exact integer cents of a 2-decimal money double (per-row). */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  /** Order-free money sum rendered back as the 2-decimal double. */
  private[graft] def sumMoney(c: Column): Column =
    sum(cents(c)).cast("double") / 100.0

  /** DuckDB twin of [[sumMoney]] (sum(BIGINT) is HUGEINT → cast). */
  private[graft] def sqlSumMoney(e: String): String =
    s"CAST(sum(CAST(round(($e) * 100) AS BIGINT)) AS DOUBLE) / 100.0"

  /** Exact long sum of an integer-valued double (TPC-H quantity). */
  private[graft] def sumIntUnits(c: Column): Column =
    sum(round(c).cast("long")).cast("double")

  /** DuckDB twin of [[sumIntUnits]]. */
  private[graft] def sqlSumIntUnits(e: String): String =
    s"CAST(sum(CAST(round($e) AS BIGINT)) AS DOUBLE)"

  private val D = 64 // embedding dimensionality (driver testdata)

  // ---------------------------------------------------------------------
  // Scans / projections / filters (S2, P1, P5, F3-F7)
  // ---------------------------------------------------------------------

  val scanProject = Q("q_scan_project",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf("1995-06-01 00:00:00")))
      .select(col("l_orderkey"), col("l_linenumber"),
        // prices/discounts are 2-decimal: the product has exactly 4
        // decimals, so rounding at 4 never lands on a half-way boundary
        // (Spark HALF_UP vs DuckDB's scaled-rint would disagree there)
        round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4).as("net_price")),
    Some("""SELECT l_orderkey, l_linenumber,
           | round(l_extendedprice * (1.0 - l_discount), 4) AS net_price
           |FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01 00:00:00'""".stripMargin))

  val prefixLimit = Q("q_prefix_limit",
    (s, dir) => Tables.read(s, dir, "orders")
      .orderBy(col("o_orderkey")).limit(100)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price")),
    Some("SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders ORDER BY o_orderkey LIMIT 100"))

  // ---------------------------------------------------------------------
  // Aggregations (A1, A2, A7, A8)
  // ---------------------------------------------------------------------

  val aggSum = Q("q_agg_sum",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumIntUnits(col("l_quantity")).as("sum_qty"),
        sumMoney(col("l_extendedprice")).as("sum_price"),
        // avg from the exact cents sum: identical longs → identical
        // doubles → round() sees the same input in both engines
        round(sum(cents(col("l_discount"))).cast("double")
          / (count(lit(1)) * lit(100.0)), 6).as("avg_disc"),
        count(lit(1)).as("cnt")),
    Some(s"""SELECT l_returnflag, l_linestatus,
           | ${sqlSumIntUnits("l_quantity")} AS sum_qty,
           | ${sqlSumMoney("l_extendedprice")} AS sum_price,
           | round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
           |       / (count(*) * 100.0), 6) AS avg_disc,
           | count(*) AS cnt
           |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin))

  val labelHistogram = Q("q_label_histogram",
    (s, dir) => events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("cnt")),
    Some("SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type"))

  val singletons = Q("q_singletons",
    (s, dir) => Tables.read(s, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === 1),
    Some("SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey HAVING count(*) = 1"))

  val topkByCount = Q("q_topk_by_count",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .groupBy(col("l_partkey")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("l_partkey")).limit(5),
    Some("""SELECT l_partkey, count(*) AS cnt FROM lineitem
           |GROUP BY l_partkey ORDER BY cnt DESC, l_partkey LIMIT 5""".stripMargin))

  // ---------------------------------------------------------------------
  // Joins (J1, J3), semi/anti (P3, U2), set ops (U1), distinct
  // ---------------------------------------------------------------------

  val joinBroadcast = Q("q_join_broadcast",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .join(broadcast(Tables.read(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(sumMoney(col("l_extendedprice")).as("revenue"), count(lit(1)).as("cnt")),
    Some(s"""SELECT p_brand, ${sqlSumMoney("l_extendedprice")} AS revenue, count(*) AS cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin))

  val joinMulti = Q("q_join_multi",
    (s, dir) => Tables.read(s, dir, "orders")
      .join(Tables.read(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.read(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.read(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(sumMoney(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders")),
    Some(s"""SELECT r_name, ${sqlSumMoney("o_totalprice")} AS revenue, count(*) AS n_orders
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY r_name""".stripMargin))

  val semiJoin = Q("q_semi_join",
    (s, dir) => Tables.read(s, dir, "customer")
      .join(Tables.read(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name")),
    Some("SELECT c_custkey, c_name FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)"))

  val antiJoin = Q("q_anti_join",
    (s, dir) => Tables.read(s, dir, "customer")
      .join(Tables.read(s, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_acctbal")),
    Some("""SELECT c_custkey, c_acctbal FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin))

  val unionAll = Q("q_union",
    (s, dir) => Tables.read(s, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("key"), round(col("c_acctbal"), 2).as("bal"))
      .union(Tables.read(s, dir, "supplier")
        .filter(col("s_acctbal") > 9000)
        .select(col("s_suppkey").as("key"), round(col("s_acctbal"), 2).as("bal"))),
    Some("""SELECT c_custkey AS key, round(c_acctbal, 2) AS bal FROM customer WHERE c_acctbal > 9000
           |UNION ALL
           |SELECT s_suppkey AS key, round(s_acctbal, 2) AS bal FROM supplier WHERE s_acctbal > 9000""".stripMargin))

  val distinctPairs = Q("q_distinct",
    (s, dir) => Tables.read(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus")).distinct(),
    Some("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"))

  val crossJoinSmall = Q("q_cross_join",
    (s, dir) => Tables.read(s, dir, "nation")
      .crossJoin(broadcast(Tables.read(s, dir, "region").select(col("r_name")))),
    Some("SELECT n_nationkey, n_name, n_regionkey, r_name FROM nation CROSS JOIN (SELECT r_name FROM region) r"))

  // ---------------------------------------------------------------------
  // Argmin / windows (O4, §2.5)
  // ---------------------------------------------------------------------

  val argminPerGroup = Q("q_argmin",
    (s, dir) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice"), col("l_linenumber"))
      Tables.read(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), 2).as("min_price"))
    },
    Some("""SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS min_price
           |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
           |        row_number() OVER (PARTITION BY l_orderkey
           |                           ORDER BY l_extendedprice, l_linenumber) AS rn
           |      FROM lineitem) t
           |WHERE rn = 1""".stripMargin))

  val windowRank = Q("q_window_rank",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.read(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long")) // BIGINT like the oracle's row_number
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
    },
    Some("""SELECT o_custkey, o_orderkey, rn
           |FROM (SELECT o_custkey, o_orderkey,
           |        row_number() OVER (PARTITION BY o_custkey
           |                           ORDER BY o_orderdate, o_orderkey) AS rn
           |      FROM orders) t
           |WHERE rn <= 3""".stripMargin))

  // ---------------------------------------------------------------------
  // Vector math over embeddings (F1, A1, A2, A3, A6)
  // ---------------------------------------------------------------------

  /** DuckDB-side: cross join embeddings × generate_series(1..64). */
  private val gs = s"generate_series(1, $D) AS t(i)"
  private val ei = "CAST(embedding[i] AS DOUBLE)"

  val l2Norm = Q("q_l2_norm",
    (s, dir) => emb(s, dir)
      .select(col("vec_id"), round(norm2(col("e")), 4).as("l2norm")),
    Some(s"""SELECT vec_id, round(sqrt(sum($ei * $ei)), 4) AS l2norm
            |FROM embeddings, $gs GROUP BY vec_id""".stripMargin))

  val vectorSumByLabel = Q("q_vector_sum_by_label",
    (s, dir) => emb(s, dir)
      .select(col("label"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(round(sum(col("v")), 4).as("s")),
    Some(s"""SELECT label, i - 1 AS pos, round(sum($ei), 4) AS s
            |FROM embeddings, $gs GROUP BY label, i""".stripMargin))

  val centroids = Q("q_centroids",
    (s, dir) => emb(s, dir)
      .select(col("label"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos").cast("long").as("pos"))
      .agg(round(avg(col("v")), 6).as("c")),
    Some(s"""SELECT label, i - 1 AS pos, round(avg($ei), 6) AS c
            |FROM embeddings, $gs GROUP BY label, i""".stripMargin))

  /** A3/A6 through the engine's SummaryAggregator: per-label N and per-dim
    * std derived from the N/SUM/SUMSQ triple — the BFR core, oracle-checked
    * against closed-form SQL.
    */
  val summaryStd = Q("q_summary_std",
    (s, dir) => emb(s, dir)
      .groupBy(col("label"))
      .agg(SummaryAggregator.summarize(col("e")).as("s"))
      .select(col("label"), col("s.n").as("n"),
        posexplode(zip_with(col("s.sum"), col("s.sumsq"),
          (su, sq) => struct(su.as("su"), sq.as("sq")))).as(Seq("pos", "z")))
      .select(col("label"), col("n"), col("pos").cast("long").as("pos"),
        round(sqrt(greatest(col("z.sq") / col("n") - pow(col("z.su") / col("n"), 2), lit(0.0))), 6).as("sd")),
    Some(s"""SELECT label, count(*) AS n, i - 1 AS pos,
            | round(sqrt(greatest(sum($ei * $ei) / count(*)
            |   - pow(sum($ei) / count(*), 2), 0.0)), 6) AS sd
            |FROM embeddings, $gs GROUP BY label, i""".stripMargin))

  /** F2/J2-shape oracle-checked: Mahalanobis distance of every point to
    * its own label's (center, diagonal-σ) summary — the BFR threshold
    * test's distance kernel, with summaries built by SummaryAggregator
    * and broadcast-joined back onto the fact side.
    */
  val mahalanobisToLabel = Q("q_mahalanobis",
    (s, dir) => {
      val e = emb(s, dir)
      val summ = e.groupBy(col("label"))
        .agg(SummaryAggregator.summarize(col("e")).as("s"))
        .select(col("label"),
          transform(col("s.sum"), x => x / col("s.n")).as("ctr"),
          zip_with(col("s.sumsq"), col("s.sum"), (sq, su) =>
            sqrt(greatest(sq / col("s.n") - (su / col("s.n")) * (su / col("s.n")), lit(0.0)))).as("sd"))
      e.join(broadcast(summ), Seq("label"))
        .select(col("vec_id"), col("label"),
          round(mahalanobis(col("e"), col("ctr"), col("sd")), 6).as("mdist"))
    },
    Some(s"""WITH st AS (
            |  SELECT label, t.i AS i, avg($ei) AS m,
            |    sqrt(greatest(avg($ei * $ei) - avg($ei) * avg($ei), 0.0)) AS sd
            |  FROM embeddings, $gs GROUP BY label, t.i)
            |SELECT e.vec_id, e.label,
            |  round(sqrt(sum(CASE WHEN st.sd = 0 THEN 0.0
            |    ELSE pow((CAST(e.embedding[st.i] AS DOUBLE) - st.m) / st.sd, 2) END)), 6) AS mdist
            |FROM embeddings e JOIN st ON st.label = e.label
            |GROUP BY e.vec_id, e.label""".stripMargin))

  /** A9 (inertia/SSE) shape oracle-checked: Σ‖p − centroid(label)‖² per
    * label, centroids derived from the same summary aggregation.
    */
  val ssePerLabel = Q("q_sse_per_label",
    (s, dir) => {
      val e = emb(s, dir)
      val ctr = e.groupBy(col("label"))
        .agg(SummaryAggregator.summarize(col("e")).as("s"))
        .select(col("label"), transform(col("s.sum"), x => x / col("s.n")).as("ctr"))
      e.join(broadcast(ctr), Seq("label"))
        .groupBy(col("label"))
        .agg(round(sum(sqDist(col("e"), col("ctr"))), 4).as("sse"))
    },
    Some(s"""WITH c AS (
            |  SELECT label, t.i AS i, avg($ei) AS m FROM embeddings, $gs GROUP BY label, t.i)
            |SELECT e.label,
            |  round(sum(pow(CAST(e.embedding[c.i] AS DOUBLE) - c.m, 2)), 4) AS sse
            |FROM embeddings e JOIN c ON c.label = e.label
            |GROUP BY e.label""".stripMargin))

  // ---------------------------------------------------------------------
  // Events: tumbling-window aggregation (§2.9 batch equivalent)
  // ---------------------------------------------------------------------

  val eventsWindow = Q("q_events_window",
    (s, dir) => events(s, dir)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("cnt"), col("sum_value")),
    Some("""SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
           | event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
           |FROM events GROUP BY 1, 2""".stripMargin))

  /** Exact distinct-count per group (A7-adjacent); the approximate (HLL)
    * form is the scale alternative but has engine-specific sketches, so
    * the oracle pins the exact semantics.
    */
  val countDistinct_ = Q("q_count_distinct",
    (s, dir) => events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events")),
    Some("""SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events
           |FROM events GROUP BY event_type""".stripMargin))

  /** Sliding windows: each event lands in two 10-minute windows sliding
    * by 5 — the overlap union replicated in SQL via two bucket offsets.
    */
  val eventsSlidingWindow = Q("q_events_sliding",
    (s, dir) => events(s, dir)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("cnt")),
    Some("""WITH b AS (
           |  SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS w_start,
           |         event_type FROM events
           |  UNION ALL
           |  SELECT strftime(time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes',
           |                  '%Y-%m-%d %H:%M:%S') AS w_start,
           |         event_type FROM events)
           |SELECT w_start, event_type, count(*) AS cnt FROM b GROUP BY w_start, event_type""".stripMargin))

  /** Skew-resilient salted join: the dim side replicates over `salts`
    * buckets, the fact side salts deterministically, and the join keys
    * become (key, salt) — same result set as the plain join (the oracle),
    * but a skewed key's rows spread over `salts` reducers instead of one.
    */
  val saltedJoin = Q("q_salted_join",
    (s, dir) => {
      val salts = 8
      val fact = Tables.read(s, dir, "lineitem")
        .withColumn("__salt", pmod(crc32(col("l_orderkey").cast("string")), lit(salts)).cast("int"))
      val dim = Tables.read(s, dir, "supplier")
        .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      fact.join(dim, fact("l_suppkey") === dim("s_suppkey") && fact("__salt") === dim("__salt"))
        .groupBy(col("s_name"))
        .agg(sumMoney(col("l_extendedprice")).as("revenue"), count(lit(1)).as("cnt"))
    },
    Some(s"""SELECT s_name, ${sqlSumMoney("l_extendedprice")} AS revenue, count(*) AS cnt
           |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey GROUP BY s_name""".stripMargin))

  /** As-of join — for each event, the latest order (o_orderdate ≤ ts) of
    * the same customer. Spark lacks the operator; composed scalably as a
    * tagged union + one running-last window: ONE shuffle on the key, no
    * per-row subqueries, no range crossJoin. Orders sort before events at
    * equal timestamps (≤ semantics).
    */
  val asofJoin = Q("q_asof_join",
    (s, dir) => {
      val orders = Tables.read(s, dir, "orders").select(
        col("o_custkey").as("key"), col("o_orderdate").as("t"),
        lit(1).as("is_order"), col("o_orderdate").as("od"),
        lit(null).cast("long").as("event_id"))
      val ev = events(s, dir).select(
        col("user_id").as("key"), col("ts").as("t"),
        lit(0).as("is_order"), lit(null).cast("timestamp").as("od"),
        col("event_id"))
      val w = Window.partitionBy(col("key"))
        .orderBy(col("t"), col("is_order").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      orders.union(ev)
        .withColumn("last_od", last(col("od"), ignoreNulls = true).over(w))
        .filter(col("is_order") === 0)
        .select(col("event_id"), col("key").as("user_id"),
          date_format(col("last_od"), "yyyy-MM-dd").as("last_order_date"))
    },
    Some("""SELECT e.event_id, e.user_id,
           | strftime((SELECT max(o.o_orderdate) FROM orders o
           |           WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts),
           |          '%Y-%m-%d') AS last_order_date
           |FROM events e""".stripMargin))

  /** Fixed-width value bucketing (histogram) — floor buckets, portable
    * across engines.
    */
  val valueHistogram = Q("q_value_histogram",
    (s, dir) => events(s, dir)
      .groupBy(floor(col("value") / 10.0).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt")),
    Some("""SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket, count(*) AS cnt
           |FROM events GROUP BY 1""".stripMargin))

  /** Exact interpolated quantiles per group (Spark `percentile` ≡ DuckDB
    * `quantile_cont`, both linear interpolation). The approximate sketch
    * (`percentile_approx`) is the 100 TB alternative; the oracle pins the
    * exact form.
    */
  val quantiles = Q("q_quantiles",
    (s, dir) => events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.9)"), 6).as("p90"),
        round(min(col("value")), 6).as("vmin"),
        round(max(col("value")), 6).as("vmax")),
    Some("""SELECT event_type,
           | round(quantile_cont(value, 0.5), 6) AS p50,
           | round(quantile_cont(value, 0.9), 6) AS p90,
           | round(min(value), 6) AS vmin,
           | round(max(value), 6) AS vmax
           |FROM events GROUP BY event_type""".stripMargin))

  /** Gap-based sessionization over the events stream (30-min inactivity
    * boundary): lag → new-session marker → running sum → per-session
    * aggregate. One shuffle on user_id; the window and the session
    * aggregation share that partitioning.
    */
  val sessionize = Q("q_sessionize",
    (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val withPrev = events(s, dir)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      val marked = withPrev.withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 1800000L, 1L)
          .otherwise(0L))
      marked
        .withColumn("session_id",
          sum(col("is_new")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("start_ts"),
          date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("end_ts"))
    },
    Some("""WITH x AS (
           |  SELECT user_id, event_id, ts,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
           |  FROM events),
           |y AS (
           |  SELECT user_id, event_id, ts,
           |    CASE WHEN prev_ts IS NULL
           |           OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000 THEN 1 ELSE 0 END AS is_new
           |  FROM x),
           |z AS (
           |  SELECT user_id, ts,
           |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |                      ROWS UNBOUNDED PRECEDING) AS sess
           |  FROM y)
           |SELECT user_id, CAST(sess AS BIGINT) AS session_id, count(*) AS n_events,
           |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS start_ts,
           |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS end_ts
           |FROM z GROUP BY user_id, sess""".stripMargin))

  // ---------------------------------------------------------------------
  // Assembly
  // ---------------------------------------------------------------------

  def relational: Seq[Q] = Seq(
    scanProject, prefixLimit, aggSum, labelHistogram, singletons, topkByCount,
    joinBroadcast, joinMulti, semiJoin, antiJoin, unionAll, distinctPairs,
    crossJoinSmall, argminPerGroup, windowRank,
    l2Norm, vectorSumByLabel, centroids, summaryStd,
    mahalanobisToLabel, ssePerLabel, eventsWindow, sessionize,
    countDistinct_, eventsSlidingWindow, saltedJoin, quantiles,
    asofJoin, valueHistogram)

  def all: Seq[Q] = relational ++ OlapQueries.all ++ TextQueries.all ++ MlQueries.all ++
    RetrievalQueries.all ++ ImageQueries.all ++ AudioQueries.all ++ VideoQueries.all
}
