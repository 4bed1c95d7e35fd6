package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TopK

/** SURVEY §2.2 — general analytics headliners (bench queries). Aggregate
  * doubles are rounded at >= their true decimal precision so hashes are
  * stable across engines and partial-agg orderings (SURVEY §6): quantities
  * and prices carry 2 decimals, discount products 4, so round(sum, 2|4) sits
  * far from any rounding boundary. No avg in oracle outputs (sum + count
  * instead — avg's division re-introduces boundary risk).
  */
object AnalyticsQueries {

  val defs: Seq[Q] = Seq(

    // TPC-H Q1 shape: scan-heavy grouped multi-aggregate, 2-col group key.
    Q("q1_pricing_agg",
      (s, d) => Tables.load(s, d, "lineitem")
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_disc_price, " +
        "count(*) AS count_order FROM lineitem " +
        "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus")),

    // TPC-H Q3 shape: dim⋈fact⋈fact with top-k. customer is broadcast-sized.
    Q("q3_top_orders",
      (s, d) => {
        val c = Tables.load(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.load(s, d, "orders")
        val l = Tables.load(s, d, "lineitem")
        broadcast(c)
          .join(o, col("c_custkey") === col("o_custkey"))
          .join(l, col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate, " +
        "round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' " +
        "GROUP BY o_orderkey, odate ORDER BY revenue DESC, o_orderkey LIMIT 10")),

    // TPC-H Q5 shape: 5-way star join, dims broadcast.
    Q("q5_region_flow",
      (s, d) => {
        val c = Tables.load(s, d, "customer")
        val o = Tables.load(s, d, "orders")
        val l = Tables.load(s, d, "lineitem")
        val su = Tables.load(s, d, "supplier")
        val n = Tables.load(s, d, "nation")
        val r = Tables.load(s, d, "region").filter(col("r_name") === "ASIA")
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(c, col("o_custkey") === col("c_custkey"))
          .join(su, col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("n_name"))
          .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 4)
            .as("revenue"))
          .orderBy("n_name")
      },
      Some("SELECT n_name, round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' GROUP BY n_name ORDER BY n_name")),

    // Per-group top-n. o_orderpriority has ~5 distinct values, so a single
    // window would funnel every row through 5 tasks at scale; TopK runs a
    // salted partial top-3 first (identical result, bounded partitions).
    Q("q_window_topn",
      (s, d) => TopK.perGroupTopK(Tables.load(s, d, "orders"),
          groupCols = Seq(col("o_orderpriority")),
          order = Seq(col("o_totalprice").desc, col("o_orderkey")),
          k = 3, salt = col("o_orderkey"))
        .select(col("o_orderpriority"), col("rn"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_orderpriority", "rn"),
      Some("SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (" +
        "SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) t WHERE rn <= 3 ORDER BY o_orderpriority, rn")),

    // Time-bucketed event aggregation (streaming-shaped, batch form).
    Q("q_events_bucket",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("bucket"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("bucket"),
      Some("SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket, " +
        "count(*) AS cnt, round(sum(value), 2) AS sum_value FROM events " +
        "GROUP BY bucket ORDER BY bucket")),

    // Exact per-group quantiles ((n-1)*p linear interpolation — the same
    // definition in Spark's percentile and DuckDB's quantile_cont).
    Q("q_quantiles",
      (s, d) => Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 6).as("q25"),
          round(expr("percentile(l_quantity, 0.5)"), 6).as("q50"),
          round(expr("percentile(l_quantity, 0.75)"), 6).as("q75"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity, 0.25), 6) AS q25, " +
        "round(quantile_cont(l_quantity, 0.5), 6) AS q50, " +
        "round(quantile_cont(l_quantity, 0.75), 6) AS q75, " +
        "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Semi join: orders having at least one high-quantity lineitem. Spark
    // plans EXISTS as LeftSemi — no row multiplication, early out per key.
    Q("q_semi_join",
      (s, d) => Tables.load(s, d, "orders")
        .join(Tables.load(s, d, "lineitem").filter(col("l_quantity") > 45)
            .select(col("l_orderkey")),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), to_date(col("o_orderdate")).as("odate"))
        .orderBy("o_orderkey"),
      Some("SELECT o_orderkey, CAST(o_orderdate AS DATE) AS odate FROM orders o " +
        "WHERE EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45) " +
        "ORDER BY o_orderkey")),

    // Anti join: customers with no URGENT order (LeftAnti — the NOT EXISTS
    // plan, also the job-resume primitive in Manifest.pendingOnly).
    Q("q_anti_join",
      (s, d) => Tables.load(s, d, "customer")
        .join(Tables.load(s, d, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_mktsegment"))
        .orderBy("c_custkey"),
      Some("SELECT c_custkey, c_mktsegment FROM customer c " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders o " +
        "WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT') " +
        "ORDER BY c_custkey")),

    // Point-in-interval range join via the custom PointIntervalJoin plan
    // (broadcast intervals, binary search + prefix-max walk instead of the
    // O(n*m) BroadcastNestedLoopJoin Spark would pick for BETWEEN).
    Q("q_range_join",
      (s, d) => {
        val points = Tables.load(s, d, "lineitem")
          .filter(col("l_linenumber") === 1)
          .select(col("l_orderkey").as("pk"), col("l_shipdate").as("ts"))
        val intervals = Tables.load(s, d, "orders")
          .filter(col("o_orderkey") % 100 === 0)
          .select(col("o_orderkey").as("ik"), col("o_orderdate").as("lo"),
            (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("hi"))
        graft.operators.RangeJoin.pointInInterval(points, intervals, "ts", "lo", "hi")
          .select(col("ik"), col("pk"), col("ts"))
          // ts tiebreak: the synthetic lineitem has duplicate
          // (orderkey, linenumber) pairs, so (ik, pk) alone is ambiguous
          .orderBy("ik", "pk", "ts")
      },
      Some("SELECT i.ik, p.pk, p.ts FROM " +
        "(SELECT l_orderkey AS pk, l_shipdate AS ts FROM lineitem WHERE l_linenumber = 1) p " +
        "JOIN (SELECT o_orderkey AS ik, o_orderdate AS lo, " +
        "o_orderdate + INTERVAL 30 DAY AS hi FROM orders WHERE o_orderkey % 100 = 0) i " +
        "ON p.ts BETWEEN i.lo AND i.hi ORDER BY ik, pk, ts")),

    // The key is coalesced to a sentinel on both sides: get_json_object
    // returns NULL for missing/non-numeric $.k, and Spark sorts NULLS FIRST
    // while DuckDB defaults NULLS LAST — a raw null group would order-mismatch.
    Q("q_events_json",
      (s, d) => Tables.load(s, d, "events")
        .groupBy(coalesce(get_json_object(col("props"), "$.k").cast("long") % 10, lit(-1L))
          .as("kmod"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("kmod"),
      Some("SELECT COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10, -1) AS kmod, " +
        "count(*) AS cnt, round(sum(value), 2) AS sum_value FROM events " +
        "GROUP BY kmod ORDER BY kmod")),

    // Same semantics via Spark 4's VARIANT type: parse each props string
    // ONCE into the binary variant encoding, then typed variant_get
    // extraction — the modern semi-structured path (at 100 TB, variant
    // columns persist the parsed binary form, so repeated extraction
    // stops re-parsing strings; with shredding the engine can even push
    // paths into the scan). Same oracle as q_events_json — the two
    // declared plans must agree with each other THROUGH the oracle.
    Q("q_json_variant",
      // try_ variants: the lenient path, matching get_json_object's
      // null-on-malformed behavior — strict parse_json would ERROR the
      // whole query on one bad props string where the companion query
      // routes the row to kmod=-1
      (s, d) => Tables.load(s, d, "events")
        .withColumn("v", try_parse_json(col("props")))
        .groupBy(coalesce(try_variant_get(col("v"), "$.k", "long") % 10, lit(-1L))
          .as("kmod"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy("kmod"),
      Some("SELECT COALESCE(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10, -1) AS kmod, " +
        "count(*) AS cnt, round(sum(value), 2) AS sum_value FROM events " +
        "GROUP BY kmod ORDER BY kmod")),

    // Per-group correlation/covariance/stddev — the co-moment aggregates
    // (one map-side-combined pass; Spark and DuckDB both merge Welford-
    // style partial moments, and the rounded results agree).
    Q("q_corr_stats",
      (s, d) => Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
          round(stddev_samp(col("l_quantity")), 6).as("sd_qty"))
        .orderBy("l_returnflag"),
      Some("SELECT l_returnflag, " +
        "round(corr(l_quantity, l_extendedprice), 6) AS corr_qp, " +
        "round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp, " +
        "round(stddev_samp(l_quantity), 6) AS sd_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // HyperLogLog++ distinct-count sketch per group — the constant-memory
    // way to count distinct at 100 TB (exact distinct shuffles every key;
    // the sketch shuffles a few KB per group). DuckDB runs a DIFFERENT HLL,
    // so the estimate itself can't hash-compare — instead the row carries
    // exact companions (hash-verified) plus a bound flag computed from the
    // Spark sketch, while the oracle emits literal TRUE: if the sketch ever
    // drifts past 5% the flag flips and the driver's hash goes red. The
    // exact countDistinct is the verification companion at oracle SF, not
    // the scale path. SketchSpec holds the tighter rsd-level bound.
    Q("q_hll_distinct",
      (s, d) => Tables.load(s, d, "events")
        // two-level distinct instead of countDistinct-with-other-aggs:
        // the latter plans an Expand (duplicates every input row per
        // distinct group — a scale smell); pre-aggregating on the pair
        // collapses the input map-side, then the second agg counts pairs.
        // The HLL merges over the distinct pairs — identical estimate
        // (HLL of a set == HLL of the multiset). NULL user_ids are
        // dropped up front: count(DISTINCT x) and approx_count_distinct
        // both skip NULLs, but a groupBy would count the NULL group as a
        // distinct user — so n_events is likewise "events with a user"
        // (count(user_id), not count(*)) to keep both sides aligned on
        // nullable data.
        .filter(col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.01).as("approx_users"),
          count(lit(1)).as("exact_users"),
          sum(col("n")).as("n_events"))
        .select(col("event_type"), col("exact_users"), col("n_events"),
          (abs(col("approx_users") - col("exact_users")) <=
            col("exact_users") * lit(0.05)).as("hll_within_5pct"))
        .orderBy("event_type"),
      // WHERE mirrors the Spark-side null filter: without it, a group
      // whose user_ids are ALL null exists in the oracle (exact_users=0)
      // but not in the filtered Spark plan — a row-set mismatch on
      // nullable data
      Some("SELECT event_type, count(DISTINCT user_id) AS exact_users, " +
        "count(user_id) AS n_events, TRUE AS hll_within_5pct " +
        "FROM events WHERE user_id IS NOT NULL " +
        "GROUP BY event_type ORDER BY event_type")),

    // HLL sketch RE-AGGREGATION (DataSketches): per-day sketches built
    // once, unioned per group later — the pre-aggregate-then-merge shape
    // that makes distinct-counting cheap at 100 TB (daily sketch tables
    // replace re-scanning history). Exact companions hash-verify; the
    // union's 5% bound is the oracle-pinned flag.
    Q("q_hll_union",
      (s, d) => {
        // NULL user_ids out up front, for BOTH branches: the two-level
        // distinct would count the NULL group as a user (diverging from
        // count(DISTINCT)/hll_sketch_agg, which skip NULLs), and a
        // (type, day) group with only-null users would count toward
        // n_days on one side only.
        val ev = Tables.load(s, d, "events").filter(col("user_id").isNotNull)
        val daily = ev
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(expr("hll_sketch_agg(user_id)").as("sk"))
        val unioned = daily.groupBy("event_type")
          .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
            count(lit(1)).as("n_days"))
        val exact = ev
          .groupBy(col("event_type"), col("user_id"))
          .agg(count(lit(1)).as("n"))
          .groupBy("event_type").agg(count(lit(1)).as("exact_users"))
        unioned.join(exact, "event_type")
          .select(col("event_type"), col("exact_users"), col("n_days"),
            (abs(col("approx_users") - col("exact_users")) <=
              col("exact_users") * lit(0.05)).as("hll_union_ok"))
          .orderBy("event_type")
      },
      Some("WITH e AS (SELECT event_type, count(DISTINCT user_id) AS exact_users " +
        "FROM events WHERE user_id IS NOT NULL GROUP BY event_type), " +
        "d AS (SELECT event_type, count(DISTINCT CAST(ts AS DATE)) AS n_days " +
        "FROM events WHERE user_id IS NOT NULL GROUP BY event_type) " +
        "SELECT event_type, exact_users, n_days, TRUE AS hll_union_ok " +
        "FROM e JOIN d USING (event_type) ORDER BY event_type")),

    // Register-LEVEL HyperLogLog (p = 9, 512 buckets) over the
    // (user_id, props) composite — unlike hll_sketch_agg's opaque binary,
    // the registers are a first-class frame (persistable, unionable,
    // <= m rows forever) and the estimator is our own Flajolet 2007
    // arithmetic; stream_hll folds the same registers over an unbounded
    // stream. Oracle pattern of q_hll_distinct: the exact distinct
    // hash-verifies and the estimate's 15%-bound flag (true rsd ~4.6%)
    // checks against a literal TRUE.
    Q("q_hll_registers",
      (s, d) => {
        val keyed = Tables.load(s, d, "events")
          .select(concat(col("user_id").cast("string"), lit("\t"),
            col("props")).as("k"))
        val est = graft.operators.StatsOps.hllEstimate(
          graft.operators.StatsOps.hllRegisters(keyed, "k", p = 9), p = 9)
        val exact = keyed.groupBy(col("k")).agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_exact"))
        exact.crossJoin(est)
          .select(col("n_exact"), col("m").cast("int").as("m"),
            (col("n_buckets") <= col("m")).as("registers_bounded"),
            (abs(col("est") - col("n_exact").cast("double")) <=
              lit(0.15) * col("n_exact").cast("double")).as("within_bound"))
      },
      Some("SELECT CAST(count(*) AS BIGINT) AS n_exact, 512 AS m, " +
        "TRUE AS registers_bounded, TRUE AS within_bound FROM " +
        "(SELECT DISTINCT CAST(user_id AS VARCHAR) || chr(9) || props " +
        "FROM events)")),

    // KMV (bottom-k) distinct sketch per event type over the same
    // (user_id, props) composite as q_hll_registers — the fully
    // hash-VERIFIABLE member of the sketch family: built on the portable
    // polynomial hash, so the oracle rebuilds the identical k smallest
    // hashes (HLL's xxhash64 registers can only be flag-checked). One
    // map-side-combined distinct of 8-byte (grp, hv) pairs + the salted
    // two-stage bottom-k; <= 64 rows per group forever, unionable across
    // days/sources (merge law proven in SketchSpec).
    Q("q_kmv_sketch",
      (s, d) => graft.operators.StatsOps.kmvSketch(
        Tables.load(s, d, "events")
          .select(col("event_type").as("grp"),
            concat(col("user_id").cast("string"), lit("\t"), col("props"))
              .as("k")),
        "grp", "k", k = 64)
        .orderBy("grp", "rn"),
      Some(graft.operators.StatsOps.kmvSketchSql("events", "event_type",
        "(CAST(user_id AS VARCHAR) || chr(9) || props)", k = 64) +
        " ORDER BY grp, rn")),

    // The KMV estimator over that sketch, exact-companion checked: when a
    // group's sketch is unsaturated the count is exact; otherwise
    // (k-1)*P/h_k in one fixed double tree — so unlike the HLL estimate,
    // the ESTIMATE ITSELF hash-verifies, and the 50% accuracy flag is
    // computed (not a literal) on both engines.
    Q("q_kmv_estimate",
      (s, d) => {
        val keyed = Tables.load(s, d, "events")
          .select(col("event_type").as("grp"),
            concat(col("user_id").cast("string"), lit("\t"), col("props"))
              .as("k"))
        val est = graft.operators.StatsOps.kmvEstimate(
          graft.operators.StatsOps.kmvSketch(keyed, "grp", "k", k = 64),
          "grp", k = 64)
        val exact = keyed.filter(col("k").isNotNull)
          .groupBy(col("grp"), col("k")).agg(lit(1))
          .groupBy("grp").agg(count(lit(1)).as("n_exact"))
        est.join(exact, "grp")
          .select(col("grp"), col("k_eff"), col("h_k"), col("est"),
            col("n_exact"),
            (abs(col("est") - col("n_exact").cast("double")) <=
              lit(0.5) * col("n_exact").cast("double")).as("within_bound"))
          .orderBy("grp")
      },
      Some {
        val keyExpr = "(CAST(user_id AS VARCHAR) || chr(9) || props)"
        val sk = graft.operators.StatsOps.kmvSketchSql(
          "events", "event_type", keyExpr, k = 64)
        val est = graft.operators.StatsOps.kmvEstimateSql(sk, k = 64)
        s"WITH est AS ($est), " +
          "exact AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_exact FROM " +
          s"(SELECT DISTINCT event_type AS grp, $keyExpr AS k2 FROM events " +
          s"WHERE $keyExpr IS NOT NULL) dk GROUP BY grp) " +
          "SELECT grp, k_eff, h_k, est, n_exact, " +
          "(abs(est - CAST(n_exact AS DOUBLE)) <= " +
          "0.5 * CAST(n_exact AS DOUBLE)) AS within_bound " +
          "FROM est JOIN exact USING (grp) ORDER BY grp"
      }),

    // Approximate per-group quantiles (Greenwald-Khanna sketch, rank error
    // <= 1/accuracy) — the streaming/mergeable sibling of q_quantiles'
    // exact percentile, whose sort-all-values-per-group cost is the known
    // exact-quantile bottleneck at scale. Same oracle pattern as
    // q_hll_distinct: exact quantiles hash-verify, and a rank-bound flag
    // (each GK estimate must land between the exact quantiles at p±0.01 —
    // 100x the sketch's guaranteed 1e-4 rank error) is checked against the
    // oracle's literal TRUE.
    Q("q_quantiles_approx",
      (s, d) => {
        def within(a: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
                   hi: org.apache.spark.sql.Column) = a >= lo && a <= hi
        Tables.load(s, d, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            expr("approx_percentile(l_quantity, array(0.25, 0.5, 0.75), 10000)")
              .as("qarr"),
            expr("percentile(l_quantity, array(0.24, 0.26, 0.49, 0.51, 0.74, 0.76))")
              .as("earr"),
            round(expr("percentile(l_quantity, 0.25)"), 6).as("q25_exact"),
            round(expr("percentile(l_quantity, 0.5)"), 6).as("q50_exact"),
            round(expr("percentile(l_quantity, 0.75)"), 6).as("q75_exact"))
          .select(col("l_returnflag"),
            col("q25_exact"), col("q50_exact"), col("q75_exact"),
            (within(element_at(col("qarr"), 1), element_at(col("earr"), 1), element_at(col("earr"), 2)) &&
             within(element_at(col("qarr"), 2), element_at(col("earr"), 3), element_at(col("earr"), 4)) &&
             within(element_at(col("qarr"), 3), element_at(col("earr"), 5), element_at(col("earr"), 6)))
              .as("gk_rank_ok"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity, 0.25), 6) AS q25_exact, " +
        "round(quantile_cont(l_quantity, 0.5), 6) AS q50_exact, " +
        "round(quantile_cont(l_quantity, 0.75), 6) AS q75_exact, " +
        "TRUE AS gk_rank_ok " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Bloom-pruned semi-join (the explicit form of Spark's runtime row
    // filtering): a bloom over the urgent-order keys prunes the lineitem
    // scan BEFORE the join shuffle; the exact semi-join on the survivors
    // removes the bloom's false positives, so the result — and the
    // oracle — is the plain semi-join. At 100 TB the bloom turns a full
    // fact shuffle into a selectivity-sized one for one broadcast bitmap.
    Q("q_bloom_prune",
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
        val urgent = Tables.load(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        graft.operators.BloomOps
          .bloomSemiJoin(li, urgent, "l_orderkey", "o_orderkey",
            expectedItems = 100000, fpp = 0.03)
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_quantity")), 2).as("sum_qty"))
          .orderBy("l_returnflag")
      },
      Some("SELECT l_returnflag, count(*) AS n_items, " +
        "round(sum(l_quantity), 2) AS sum_qty FROM lineitem " +
        "WHERE l_orderkey IN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderpriority = '1-URGENT') " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")),

    // Salted large⋈large equi-join: the deterministic hot-key spreading
    // pattern (probe side salted on a row-unique column, build side
    // replicated salts×). Salting only changes partitioning, never the
    // result — so the oracle is the PLAIN join, which is the point: the
    // hash compare proves the technique is invisible to semantics.
    // Join-key skew diagnostics: one row of concentration measures over
    // the lineitem join key (exact integer moments, IEEE ratios) — the
    // decide-before-salting gate for q_salted_join.
    Q("q_skew_stats",
      (s, d) => graft.operators.SkewOps.keySkew(
        Tables.load(s, d, "lineitem"), "l_orderkey"),
      Some(graft.operators.SkewOps.keySkewSql("lineitem", "l_orderkey"))),

    Q("q_salted_join",
      (s, d) => {
        val li = Tables.load(s, d, "lineitem")
        val o = Tables.load(s, d, "orders")
        graft.operators.SkewOps.saltedEquiJoin(li, o,
            "l_orderkey", "o_orderkey",
            saltOn = col("l_linenumber"), salts = 8)
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")), 2).as("sum_price"))
          .orderBy("o_orderpriority")
      },
      Some("SELECT o_orderpriority, count(*) AS n_items, " +
        "round(sum(l_extendedprice), 2) AS sum_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY o_orderpriority ORDER BY o_orderpriority")),

    // Winsorized outlier clamping: per-group exact p05/p95 cut points
    // (tiny aggregate, BROADCAST back — no second shuffle of the fact
    // rows on the cuts key) then a narrow clamp + re-aggregate. The
    // robust-statistics cleaning pass for metric pipelines; the thresholds
    // and clamped averages hash-verify against the oracle's identical
    // interpolation.
    Q("q_winsorize",
      (s, d) => {
        val e = Tables.load(s, d, "events")
        val cuts = e.groupBy(col("event_type")).agg(
          expr("percentile(value, 0.05)").as("p_lo"),
          expr("percentile(value, 0.95)").as("p_hi"))
        e.join(broadcast(cuts), "event_type")
          .withColumn("w", least(greatest(col("value"), col("p_lo")), col("p_hi")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(when(col("value") < col("p_lo"), 1L).otherwise(0L)).as("n_clamped_lo"),
            sum(when(col("value") > col("p_hi"), 1L).otherwise(0L)).as("n_clamped_hi"),
            round(min(col("p_lo")), 6).as("p_lo"),
            round(max(col("p_hi")), 6).as("p_hi"),
            round(avg(col("value")), 4).as("avg_raw"),
            round(avg(col("w")), 4).as("avg_winsorized"))
          .orderBy("event_type")
      },
      Some("WITH cuts AS (SELECT event_type, " +
        "quantile_cont(value, 0.05) AS p_lo, " +
        "quantile_cont(value, 0.95) AS p_hi FROM events GROUP BY event_type) " +
        "SELECT e.event_type, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(CASE WHEN e.value < c.p_lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_lo, " +
        "CAST(sum(CASE WHEN e.value > c.p_hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped_hi, " +
        "round(min(c.p_lo), 6) AS p_lo, round(max(c.p_hi), 6) AS p_hi, " +
        "round(avg(e.value), 4) AS avg_raw, " +
        "round(avg(least(greatest(e.value, c.p_lo), c.p_hi)), 4) AS avg_winsorized " +
        "FROM events e JOIN cuts c ON e.event_type = c.event_type " +
        "GROUP BY e.event_type ORDER BY e.event_type")),

    // Fixed-width histogram of value per event type (20 buckets of 10,
    // clamped ends): the profiling/monitoring sketch in its exact form.
    // Bucketing is a narrow floor expression in the scan stage; the only
    // shuffle carries (type, bucket) cells, not rows.
    Q("q_histogram",
      (s, d) => Tables.load(s, d, "events")
        .withColumn("bucket",
          least(greatest(floor(col("value") / 10.0), lit(0.0)), lit(19.0))
            .cast("long"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 2).as("min_v"),
          round(max(col("value")), 2).as("max_v"))
        .orderBy("event_type", "bucket"),
      Some("SELECT event_type, " +
        "CAST(least(greatest(floor(value / 10.0), 0.0), 19.0) AS BIGINT) AS bucket, " +
        "count(*) AS n, round(min(value), 2) AS min_v, round(max(value), 2) AS max_v " +
        "FROM events GROUP BY event_type, bucket ORDER BY event_type, bucket")),

    // Robust outlier profile: per-type exact median + MAD and the count
    // beyond 3*MAD — the data-driven quality gate a single corrupt feed
    // can't drag (unlike mean/stddev). Nested exact medians are two tiny
    // percentile aggregates broadcast back onto narrow scans; the fact
    // table never shuffles on the group key. Threshold compares run on
    // bit-identical doubles (sub/abs/mult are single IEEE ops).
    Q("q_mad_outliers",
      (s, d) => graft.operators.StatsOps
        .madOutliers(Tables.load(s, d, "events"), "event_type", "value", k = 3.0)
        .orderBy("event_type"),
      Some("WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med " +
        "FROM events GROUP BY event_type), " +
        "dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS dev " +
        "FROM events e JOIN med m USING (event_type)), " +
        "mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad " +
        "FROM dev GROUP BY event_type) " +
        "SELECT d.event_type, CAST(count(*) AS BIGINT) AS n, " +
        "round(min(d.med), 6) AS med, round(min(m.mad), 6) AS mad, " +
        "CAST(sum(CASE WHEN d.dev > 3.0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers " +
        "FROM dev d JOIN mad m USING (event_type) " +
        "GROUP BY d.event_type ORDER BY d.event_type")),

    // 2-D Pareto skyline over part (minimize price, maximize size): the
    // not-dominated shortlist. The oracle IS the quadratic NOT EXISTS
    // definition; the Spark plan is the linear two-stage frontier
    // (per-price max -> range-partitioned running max + broadcast prefix
    // max over partition maxima) — SkylineOps proves they agree row for
    // row, which is the point: the distributed rewrite is semantically
    // invisible.
    Q("q_skyline",
      (s, d) => graft.operators.SkylineOps
        .skyline2D(Tables.load(s, d, "part"), "p_retailprice", "p_size")
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .orderBy("p_partkey"),
      // p_retailprice/p_size IS NOT NULL mirrors the operator's
      // null-key exclusion (a null row can never survive the operator's
      // equality semi-join, but NOT EXISTS would keep it — latent
      // divergence the moment a null appears)
      Some("SELECT p_partkey, p_retailprice, p_size FROM part p " +
        "WHERE p.p_retailprice IS NOT NULL AND p.p_size IS NOT NULL " +
        "AND NOT EXISTS (SELECT 1 FROM part q WHERE " +
        "(q.p_retailprice <= p.p_retailprice AND q.p_size > p.p_size) OR " +
        "(q.p_retailprice < p.p_retailprice AND q.p_size >= p.p_size)) " +
        "ORDER BY p_partkey"))
,

    // Exact two-sample KS distance (click vs view value distributions):
    // the drift monitor between feeds / mix sources. The CDF compare
    // stays in exact integer cross products; the distributed prefix scan
    // is the two-stage range-partition + broadcast-offsets pattern — no
    // global single-task window. The oracle runs the same arithmetic on
    // a single window: equal by prefix-sum algebra, which is the point.
    Q("q_ks_drift",
      (s, d) => graft.operators.StatsOps.ksDistance(
        Tables.load(s, d, "events"), "value", "event_type", "click", "view"),
      Some("WITH f AS (SELECT value AS v, " +
        "CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS ia, " +
        "CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS ib " +
        // value IS NOT NULL mirrors ksDistance's null exclusion — without
        // it the two engines diverge the day a null value appears
        "FROM events WHERE event_type IN ('click', 'view') " +
        "AND value IS NOT NULL), " +
        "byv AS (SELECT v, CAST(sum(ia) AS BIGINT) AS ca, " +
        "CAST(sum(ib) AS BIGINT) AS cb FROM f GROUP BY v), " +
        "cum AS (SELECT " +
        "sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa, " +
        "sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb " +
        "FROM byv), " +
        "tot AS (SELECT CAST(sum(ia) AS BIGINT) AS na, CAST(sum(ib) AS BIGINT) AS nb FROM f) " +
        "SELECT na, nb, CAST(max(abs(fa * nb - fb * na)) AS BIGINT) AS d_num, " +
        "round(CAST(max(abs(fa * nb - fb * na)) AS DOUBLE) / " +
        "(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)), 6) AS ks_stat " +
        "FROM cum, tot GROUP BY na, nb")),

    // Equi-depth histogram (quantile binning): per-type exact quartile
    // cuts broadcast back onto a narrow CASE bucketing — the data-driven
    // binning q_histogram's fixed widths can't give. NOT a global ntile
    // (one-task funnel): the cut aggregate is group-sized and the bucket
    // assignment scales like a filter; per-bin min/max/count hash-verify
    // against the oracle's identical interpolation and CASE tree.
    Q("q_equidepth",
      (s, d) => {
        val e = Tables.load(s, d, "events")
        val cuts = e.groupBy(col("event_type")).agg(
          expr("percentile(value, 0.25)").as("q1"),
          expr("percentile(value, 0.5)").as("q2"),
          expr("percentile(value, 0.75)").as("q3"))
        e.join(broadcast(cuts), "event_type")
          .withColumn("bin",
            when(col("value") <= col("q1"), 0L)
              .when(col("value") <= col("q2"), 1L)
              .when(col("value") <= col("q3"), 2L)
              .otherwise(3L))
          .groupBy(col("event_type"), col("bin"))
          .agg(count(lit(1)).as("n"),
            round(min(col("value")), 2).as("bin_min"),
            round(max(col("value")), 2).as("bin_max"))
          .orderBy("event_type", "bin")
      },
      Some("WITH cuts AS (SELECT event_type, " +
        "quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.5) AS q2, " +
        "quantile_cont(value, 0.75) AS q3 FROM events GROUP BY event_type) " +
        "SELECT e.event_type, " +
        "CASE WHEN value <= q1 THEN 0 WHEN value <= q2 THEN 1 " +
        "WHEN value <= q3 THEN 2 ELSE 3 END AS bin, " +
        "count(*) AS n, round(min(value), 2) AS bin_min, " +
        "round(max(value), 2) AS bin_max " +
        "FROM events e JOIN cuts c ON e.event_type = c.event_type " +
        "GROUP BY e.event_type, bin ORDER BY e.event_type, bin")),

    // Incremental view maintenance (the aggregate analogue of
    // q_incr_merge): yesterday's materialized per-type aggregate merged
    // with today's delta aggregate must equal the full recompute — and
    // the oracle IS the full recompute, so the equivalence itself is
    // hash-verified. Measures are exact integers (count + floor-cents;
    // bigint addition is associative) so two-level merge == one-level
    // aggregation EXACTLY, not approximately — at 100 TB the view never
    // re-reads history, only the delta partition (cost ∝ delta).
    Q("q_incr_agg",
      (s, d) => {
        val e = Tables.load(s, d, "events")
        val cents = floor(col("value") * 100.0).cast("long")
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n"), sum(cents).as("sum_cents"))
        val cut = lit("2024-01-25").cast("date")
        val base = partial(e.filter(to_date(col("ts")) < cut))
        val delta = partial(e.filter(to_date(col("ts")) >= cut))
        base.unionByName(delta)
          .groupBy(col("event_type"))
          .agg(sum(col("n")).as("n"), sum(col("sum_cents")).as("sum_cents"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) AS BIGINT) AS sum_cents " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    // One-scan column profiler over events (the ingest-gate `describe`):
    // per column, non-null / exact-distinct counts and stringified
    // min/max, plus the row count — a single multi-distinct aggregate
    // (one Expand over one scan; no per-column re-scan), stack-pivoted
    // into the per-column report. The oracle pays one UNION ALL branch
    // per column — the distributed plan must agree with six independent
    // recomputes.
    Q("q_profile",
      (s, d) => graft.operators.StatsOps.profile(Tables.load(s, d, "events"))
        .orderBy("col_name"),
      Some {
        val branch = (c: String) =>
          "SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
            s"'$c' AS col_name, CAST(count($c) AS BIGINT) AS n_non_null, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
            s"CAST(min($c) AS VARCHAR) AS min_str, " +
            s"CAST(max($c) AS VARCHAR) AS max_str FROM events"
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")
          .map(branch).mkString("", " UNION ALL ", " ORDER BY col_name")
      }),

    // Approximate profiler — the 100 TB INGEST-GATE DEFAULT (q_profile is
    // the exact audit form): HLL distinct estimates make the aggregate a
    // plain single-pass partial/final (zero Expand; the exact
    // multi-distinct shuffles rows × (columns+1)). HLL estimates can't
    // hash-compare, so the q_hll_distinct pattern applies: the declared
    // row carries the exact-profile columns (hash-verified against the
    // oracle's independent recompute) plus a 5%-bound flag computed from
    // the Spark sketch; the oracle pins the flag at literal TRUE — if the
    // estimate ever drifts past 5% the driver's hash goes red. The
    // sketch runs at rsd = 0.01, so the 5% gate sits at ~5 sigma — a
    // PROBABILISTIC gate at the sketch's own rsd would be a coin flip
    // (rsd 0.05 + 5% bound ≈ 1 sigma: it failed the sf0.001 scale probe
    // in r8 on the ts column, ~32% expected miss rate per column). The
    // exact-vs-approx join is 6 rows — broadcast, costless; at 100 TB a
    // user runs profileApprox ALONE.
    Q("q_profile_approx",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val exact = graft.operators.StatsOps.profile(ev)
        // (r18 negative result: an HLL-only distinct face measured 3.8 s
        // vs 2.0 s for this fused form at sf0.1 — the keyless
        // SortAggregate fold beats the HashAggregate path for the
        // imperative HLL buffers; the "wasted" min/max/count companions
        // are cheaper than the plan-class change)
        val approx = graft.operators.StatsOps.profileApprox(ev, rsd = 0.01)
          .select(col("col_name"), col("n_distinct_approx"))
        exact.join(broadcast(approx), "col_name")
          .select(col("n_rows"), col("col_name"), col("n_non_null"),
            col("n_distinct"), col("min_str"), col("max_str"),
            (abs(col("n_distinct_approx") - col("n_distinct")) <=
              col("n_distinct") * lit(0.05)).as("approx_within_5pct"))
          .orderBy("col_name")
      },
      Some {
        val branch = (c: String) =>
          "SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
            s"'$c' AS col_name, CAST(count($c) AS BIGINT) AS n_non_null, " +
            s"CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct, " +
            s"CAST(min($c) AS VARCHAR) AS min_str, " +
            s"CAST(max($c) AS VARCHAR) AS max_str, " +
            "TRUE AS approx_within_5pct FROM events"
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")
          .map(branch).mkString("", " UNION ALL ", " ORDER BY col_name")
      }),

    // Market-basket pair mining over order line items (item = coarse part
    // family so co-occurrence counts are non-trivial at small SF): exact
    // co-occurrence + lift, top-30 by co-count. The basket self-join fans
    // out per-BASKET-quadratically (TPC-H baskets ≤ 7 items; maxBasket
    // caps pathological ones); pair counts map-side-combined; top-k is
    // TakeOrdered.
    Q("q_market_basket",
      (s, d) => graft.operators.StatsOps.marketBasket(
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey").as("bk"), (col("l_partkey") % 200).as("it")),
        "bk", "it", minCo = 3, maxBasket = 100, k = 30),
      Some(graft.operators.StatsOps.marketBasketSql(
        "(SELECT l_orderkey AS bk, l_partkey % 200 AS it FROM lineitem)",
        minCo = 3, maxBasket = 100, k = 30)))
  )
}
