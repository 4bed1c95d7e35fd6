package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{MergeOps, Temporal}

/** SURVEY §2.2 additions — temporal/OLAP operators: as-of join,
  * sessionization (batch form), rollup subtotals, pivot. Each with a full
  * DuckDB oracle (ASOF JOIN / identical window trees / GROUP BY ROLLUP /
  * CASE-sum pivot).
  */
object TemporalQueries {

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "events")

  /** Event types are a closed set (constants.py-style plan-time list) so
    * the pivot never needs a distinct-values scan job. */
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  val defs: Seq[Q] = Seq(

    // Backward as-of join: each purchase picks up the latest click (value)
    // by the same user at or before the purchase time — the attribution
    // query every event pipeline runs. Right side pre-aggregated per
    // (user, ts) so as-of ties cannot exist.
    Q("q_asof_join",
      (s, d) => {
        val e = ev(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = e.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts"))
          .agg(round(sum(col("value")), 4).as("click_value"))
        Temporal.asofJoin(purchases, clicks, "user_id", "ts", Seq("click_value"))
          .select(col("event_id"), col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("pts"),
            col("asof_click_value"))
          .orderBy("event_id")
      },
      Some("WITH p AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, round(sum(value), 4) AS click_value " +
        "FROM events WHERE event_type = 'click' GROUP BY user_id, ts) " +
        "SELECT p.event_id, p.user_id, " +
        "strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS pts, " +
        "c.click_value AS asof_click_value " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts " +
        "ORDER BY event_id")),

    // Gap-based sessionization (30-min gap), batch form of the streaming
    // flatMapGroupsWithState operator — identical window trees both sides.
    Q("q_sessionize",
      (s, d) => Temporal.sessionize(ev(s, d), "user_id", "ts", "event_id",
          "value", gapSec = 1800)
        .orderBy("user_id", "session_id"),
      Some("WITH o AS (SELECT user_id, ts, event_id, value, " +
        "epoch_us(ts) AS us, lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS pus FROM events), " +
        "f AS (SELECT *, CASE WHEN pus IS NULL OR us - pus > 1800000000 " +
        "THEN 1 ELSE 0 END AS brk FROM o), " +
        "g AS (SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS session_id FROM f) " +
        "SELECT user_id, session_id, count(*) AS n_events, " +
        "strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start, " +
        "strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end, " +
        "round(sum(value), 2) AS sum_value " +
        "FROM g GROUP BY user_id, session_id ORDER BY user_id, session_id")),

    // Rollup subtotals over (priority, status) — grouping-set aggregation
    // with the null markers coalesced to 'ALL' on both sides (Spark sorts
    // NULLS FIRST, DuckDB NULLS LAST — sentinels sidestep it).
    Q("q_rollup",
      (s, d) => Tables.load(s, d, "orders")
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status"),
      Some("SELECT COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "COALESCE(o_orderstatus, 'ALL') AS status, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS total FROM orders " +
        "GROUP BY ROLLUP(o_orderpriority, o_orderstatus) " +
        "ORDER BY priority, status")),

    // Full cube over (priority, status) — all four grouping sets (rollup's
    // superset); same sentinel-coalesce rule for the null markers.
    Q("q_cube",
      (s, d) => Tables.load(s, d, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status"),
      Some("SELECT COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "COALESCE(o_orderstatus, 'ALL') AS status, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS total FROM orders " +
        "GROUP BY CUBE(o_orderpriority, o_orderstatus) " +
        "ORDER BY priority, status")),

    // Cumulative distribution of quantity per return flag, computed on the
    // DISTINCT value level — cume_dist over distinct values is tie-free by
    // construction (ntile over raw rows would let equal sort keys land in
    // different buckets per engine).
    Q("q_cume_dist",
      (s, d) => Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("cum_frac",
          round(cume_dist().over(
            org.apache.spark.sql.expressions.Window
              .partitionBy(col("l_returnflag")).orderBy(col("l_quantity"))), 6))
        .orderBy("l_returnflag", "l_quantity"),
      Some("SELECT l_returnflag, l_quantity, count(*) AS n_rows, " +
        "round(cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity), 6) AS cum_frac " +
        "FROM lineitem GROUP BY l_returnflag, l_quantity " +
        "ORDER BY l_returnflag, l_quantity")),

    // Pivot events wide by type: per-user per-type value sums as columns.
    // The closed type list keeps Spark's pivot to one pass (no values
    // scan); DuckDB mirrors with CASE-filtered sums.
    Q("q_pivot",
      (s, d) => ev(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", eventTypes)
        .agg(round(sum(col("value")), 2))
        .select(col("user_id") +:
          eventTypes.map(t => coalesce(col(t), lit(0.0)).as(s"v_$t")): _*)
        .orderBy("user_id"),
      Some("SELECT user_id, " +
        eventTypes.map(t =>
          s"COALESCE(round(sum(CASE WHEN event_type = '$t' THEN value END), 2), 0.0) AS v_$t")
          .mkString(", ") +
        " FROM events GROUP BY user_id ORDER BY user_id"))
,

    // Incremental latest-wins merge (lakehouse MERGE INTO / SCD-1): the
    // per-(user, type) state through Jan 20 upserted with the Jan 21+
    // batch must equal the full recompute — which is exactly what the
    // oracle computes over the unsplit table. Version order is total
    // ((ts, event_id) — event_id unique), so "latest" is deterministic.
    Q("q_incr_merge",
      (s, d) => {
        val all = ev(s, d)
        val cut = to_timestamp(lit("2024-01-21"))
        // coalesce makes the split TOTAL: a NULL ts fails both ts < cut
        // and ts >= cut, so without it such rows would vanish from the
        // merge while the oracle's full recompute keeps them
        val state = graft.operators.MergeOps.latestWinsMerge(
          all.filter(coalesce(col("ts") < cut, lit(false))),
          all.filter(coalesce(col("ts") >= cut, lit(true))),
          keys = Seq("user_id", "event_type"),
          version = Seq("ts", "event_id"))
        state.select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"), round(col("value"), 2).as("value"))
          .orderBy("user_id", "event_type")
      },
      Some("SELECT user_id, event_type, ts, event_id, " +
        "round(value, 2) AS value FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY user_id, event_type " +
        "ORDER BY ts DESC, event_id DESC) AS rn FROM events) t " +
        "WHERE rn = 1 ORDER BY user_id, event_type")),

    // Gaps-and-islands: each event opens a 10-minute activity interval;
    // overlapping/touching intervals per user merge into islands via a
    // running-max-end window (NOT lag(end): a long interval must swallow
    // later-starting shorter ones). One key shuffle, exact integer
    // microsecond arithmetic on both engines.
    Q("q_interval_merge",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("start_us"),
          (unix_micros(col("ts")) + lit(600000000L)).as("end_us"))
        graft.operators.Temporal
          .mergeIntervals(e, "user_id", "start_us", "end_us", "event_id")
          .orderBy("user_id", "island_id")
      },
      Some("WITH i AS (SELECT user_id, event_id, epoch_us(ts) AS start_us, " +
        "epoch_us(ts) + 600000000 AS end_us FROM events), " +
        "m AS (SELECT user_id, event_id, start_us, end_us, " +
        "max(end_us) OVER (PARTITION BY user_id ORDER BY start_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme FROM i), " +
        "b AS (SELECT user_id, event_id, start_us, end_us, " +
        "CASE WHEN pme IS NULL OR start_us > pme THEN 1 ELSE 0 END AS brk FROM m), " +
        "g AS (SELECT user_id, start_us, end_us, " +
        "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY start_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island_id FROM b) " +
        "SELECT user_id, island_id, min(start_us) AS island_start_us, " +
        "max(end_us) AS island_end_us, CAST(count(*) AS BIGINT) AS n_intervals " +
        "FROM g GROUP BY user_id, island_id ORDER BY user_id, island_id")),

    // Per-user inter-arrival profile: lag-gap, count/avg/max/min per
    // user — the cadence/feed-health query. All stats in EXACT integer
    // microseconds (floor-division average): seconds-as-double output
    // hit a literal .5 round-half boundary at sf0.1 where Spark
    // (decimal HALF_UP) and DuckDB (binary rounding) disagree.
    Q("q_event_gaps",
      (s, d) => graft.operators.Temporal
        .interArrival(ev(s, d), "user_id", "ts", "event_id")
        .orderBy("user_id"),
      Some("WITH g AS (SELECT user_id, epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events) " +
        "SELECT user_id, CAST(count(*) AS BIGINT) AS n_events, " +
        "CAST(count(gap_us) AS BIGINT) AS n_gaps, " +
        "CAST(sum(gap_us) // count(gap_us) AS BIGINT) AS avg_gap_us, " +
        "max(gap_us) AS max_gap_us, " +
        "min(gap_us) AS min_gap_us " +
        "FROM g GROUP BY user_id ORDER BY user_id")),

    // GROUPING SETS — the two one-dimension marginals plus the grand
    // total in ONE scan (a single Expand, no self-union re-scan); the
    // grouping-set family member rollup/cube can't express.
    Q("q_grouping_sets",
      (s, d) => {
        val o = Tables.load(s, d, "orders")
        o.createOrReplaceTempView("orders_gsets")
        s.sql("SELECT coalesce(o_orderpriority, 'ALL') AS priority, " +
          "coalesce(o_orderstatus, 'ALL') AS status, " +
          "count(*) AS n, round(sum(o_totalprice), 2) AS total " +
          "FROM orders_gsets " +
          "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ()) " +
          "ORDER BY priority, status")
      },
      Some("SELECT COALESCE(o_orderpriority, 'ALL') AS priority, " +
        "COALESCE(o_orderstatus, 'ALL') AS status, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS total FROM orders " +
        "GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ()) " +
        "ORDER BY priority, status")),

    // Ordered funnel: view → later click → later purchase per user, one
    // stage-count row per step. Each stage is a user-keyed min-aggregate
    // joined to the previous stage's frontier; every join is
    // user-partitioned (co-located after the first shuffle) and each
    // stage frame is user-count sized, not event-count sized — the
    // sequential-pattern query event warehouses run daily.
    Q("q_funnel",
      (s, d) => {
        val e = ev(s, d).select(col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("us")).as("v_us"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("us") > col("v_us"))
          .groupBy("user_id").agg(min(col("us")).as("c_us"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("us") > col("c_us"))
          .groupBy("user_id").agg(min(col("us")).as("p_us"))
        v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
          .unionByName(c.agg(count(lit(1)).as("n_users"))
            .withColumn("stage", lit("2_click")))
          .unionByName(p.agg(count(lit(1)).as("n_users"))
            .withColumn("stage", lit("3_purchase")))
          .select(col("stage"), col("n_users"))
          .orderBy("stage")
      },
      Some("WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events), " +
        "v AS (SELECT user_id, min(us) AS v_us FROM e " +
        "WHERE event_type = 'view' GROUP BY user_id), " +
        "c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v ON e.user_id = v.user_id " +
        "WHERE event_type = 'click' AND us > v_us GROUP BY e.user_id), " +
        "p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c ON e.user_id = c.user_id " +
        "WHERE event_type = 'purchase' AND us > c_us GROUP BY e.user_id) " +
        "SELECT stage, n_users FROM (" +
        "SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM v " +
        "UNION ALL SELECT '2_click', CAST(count(*) AS BIGINT) FROM c " +
        "UNION ALL SELECT '3_purchase', CAST(count(*) AS BIGINT) FROM p) t " +
        "ORDER BY stage")),

    // Cohort retention: users grouped by first-seen day, distinct actives
    // per (cohort, day offset) — the engagement matrix. Two shuffles
    // (user frontier, then cohort cell distinct), both key-balanced.
    Q("q_retention",
      (s, d) => Temporal.retentionMatrix(
          ev(s, d).select(col("user_id"), to_date(col("ts")).as("day")))
        .orderBy("cohort", "offset_days"),
      Some("WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events), " +
        "co AS (SELECT user_id, min(day) AS cohort FROM e GROUP BY user_id) " +
        "SELECT strftime(cohort, '%Y-%m-%d') AS cohort, " +
        "CAST(date_diff('day', cohort, day) AS BIGINT) AS offset_days, " +
        "CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users " +
        "FROM e JOIN co ON e.user_id = co.user_id " +
        "GROUP BY cohort, date_diff('day', cohort, day) " +
        "ORDER BY cohort, offset_days")),

    // Event-type transition counts (first-order Markov edges): lag the
    // type per user in (ts, event_id) order, count (prev → cur) pairs.
    // One key shuffle + a 25-cell aggregate.
    Q("q_transitions",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("ts", "event_id")
        ev(s, d)
          .withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .filter(col("prev_type").isNotNull)
          .groupBy(col("prev_type"), col("event_type").as("cur_type"))
          .agg(count(lit(1)).as("n"))
          .orderBy("prev_type", "cur_type")
      },
      Some("WITH t AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type " +
        "FROM events) " +
        "SELECT prev_type, event_type AS cur_type, count(*) AS n " +
        "FROM t WHERE prev_type IS NOT NULL " +
        "GROUP BY prev_type, cur_type ORDER BY prev_type, cur_type")),

    // Sliding-frame rolling cadence (moving average in engine-proof
    // form): per event, the gap to the previous event and the rolling
    // sum/count/floor-div average over the last 4 gaps. Exact integer
    // micros ONLY — integer frame sums are associative, so the sliding
    // optimizations engines apply (subtract-on-slide, segment trees)
    // can't change the answer the way they do for float frames. One key
    // shuffle; -1 sentinels for each key's empty first frame.
    Q("q_moving_avg",
      (s, d) => graft.operators.Temporal
        .rollingGaps(ev(s, d), "user_id", "ts", "event_id", frameRows = 4)
        .orderBy("user_id", "event_id"),
      Some("WITH g AS (SELECT user_id, event_id, ts, " +
        "epoch_us(ts) - lag(epoch_us(ts)) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events), " +
        "r AS (SELECT user_id, event_id, gap_us, " +
        "count(gap_us) OVER w AS roll_n, sum(gap_us) OVER w AS roll_sum_us " +
        "FROM g WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) " +
        "SELECT user_id, event_id, coalesce(gap_us, -1) AS gap_us, " +
        "CAST(roll_n AS BIGINT) AS roll_n, " +
        "CAST(coalesce(roll_sum_us, -1) AS BIGINT) AS roll_sum_us, " +
        "CAST(CASE WHEN roll_n > 0 THEN roll_sum_us // roll_n ELSE -1 END AS BIGINT) AS roll_avg_us " +
        "FROM r ORDER BY user_id, event_id")),

    // Period-over-period change: daily per-type counts with the percent
    // delta vs the previous day — the metrics-dashboard primitive. The
    // lag window runs on the (type, day)-sized aggregate (never event
    // rows); the ratio is one subtraction + one division on exact
    // integer counts, so even the deltas hash-verify.
    Q("q_pct_change",
      (s, d) => {
        val daily = ev(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("event_type").orderBy("day")
        daily.withColumn("prev_n", lag(col("n"), 1).over(w))
          .filter(col("prev_n").isNotNull)
          .select(col("event_type"),
            date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("prev_n"),
            round((col("n").cast("double") - col("prev_n").cast("double")) /
              col("prev_n").cast("double"), 6).as("pct_change"))
          .orderBy("event_type", "day")
      },
      Some("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
        "CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, day, n, " +
        "lag(n) OVER (PARTITION BY event_type ORDER BY day) AS prev_n FROM daily) " +
        "SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n, prev_n, " +
        "round((CAST(n AS DOUBLE) - CAST(prev_n AS DOUBLE)) / CAST(prev_n AS DOUBLE), 6) AS pct_change " +
        "FROM l WHERE prev_n IS NOT NULL ORDER BY event_type, day")),

    // Per-type lag-1..3 autocorrelation of the daily count series: the
    // seasonality/burstiness gate. Five exact integer moments per
    // (group, lag) — partitioning-invariant, no ordered folds; the
    // correlation is single IEEE ops on exact ints.
    Q("q_autocorr",
      (s, d) => graft.operators.StatsOps.autocorr(
        ev(s, d), "event_type", "ts", maxLag = 3),
      Some(graft.operators.StatsOps.autocorrSql(
        "events", "event_type", "ts", maxLag = 3))),

    // Field-level survivorship (golden record): per key each attribute
    // independently keeps its most recent NON-NULL value — a fresher
    // record with a null field must not erase an older value (the
    // master-data complement of whole-row-wins cdcApply). Nullable
    // attributes synthesized identically on both engines.
    Q("q_golden_record",
      (s, d) => MergeOps.goldenRecord(
        ev(s, d).select((col("user_id") % 200).as("k"),
          col("event_id").as("ver"),
          when(col("event_type") =!= "error", col("event_type")).as("etype"),
          when(col("event_id") % 3 =!= 0, col("value")).as("val")),
        "k", "ver", Seq("etype", "val")),
      Some(MergeOps.goldenRecordSql(
        "(SELECT user_id % 200 AS k, event_id AS ver, " +
          "CASE WHEN event_type <> 'error' THEN event_type END AS etype, " +
          "CASE WHEN event_id % 3 <> 0 THEN value END AS val FROM events)",
        "k", "ver", Seq("etype", "val")))),

    // First/last-touch conversion attribution matrix: one user-keyed
    // window pass (no join against touch history); ties pinned
    // touch-before-conversion; no-touch conversions land in 'none'.
    Q("q_attribution",
      (s, d) => graft.operators.Temporal.touchAttribution(
        ev(s, d), "user_id", "ts", "event_type", "event_id",
        touchTypes = Seq("view", "click", "signup"), convType = "purchase"),
      Some(graft.operators.Temporal.touchAttributionSql(
        "events", "user_id", "ts", "event_type", "event_id",
        touchTypes = Seq("view", "click", "signup"), convType = "purchase"))),

    // Rolling z-score volume-anomaly gate on the daily count series:
    // each day scored against the trailing 7 observed days' integer
    // moments (self-excluded); |z| > 3 flags. Zero-variance history or
    // a short tail pins z = NULL / not-anomalous on both engines.
    Q("q_rolling_zscore",
      (s, d) => graft.operators.StatsOps.rollingZScore(
        ev(s, d), "event_type", "ts", window = 7, minObs = 4, zThresh = 3.0),
      Some(graft.operators.StatsOps.rollingZScoreSql(
        "events", "event_type", "ts", window = 7, minObs = 4, zThresh = 3.0))),

    // CDC apply: base snapshot upserted with each key's LATEST log op
    // (I/U/D by version order; latest-D keys dropped, later-I
    // resurrects). One key shuffle; base tie-sorts after log rows.
    Q("q_cdc_apply",
      (s, d) => {
        val e = ev(s, d)
        val k = (col("user_id") % 100).as("k")
        val base = e.filter(col("event_id") % 5 === 0)
          .select(k, col("event_id").as("ver"), col("value"))
        val log = e.filter(col("event_id") % 5 =!= 0)
          .select(k, col("event_id").as("ver"), col("value"),
            when(col("event_id") % 7 === 0, "D")
              .when(col("event_id") % 3 === 0, "I")
              .otherwise("U").as("op"))
        MergeOps.cdcApply(base, log, Seq("k"), Seq("ver"), "op")
          .orderBy("k")
      },
      Some("WITH base AS (SELECT user_id % 100 AS k, event_id AS ver, value, " +
        "'I' AS op, 1 AS isb FROM events WHERE event_id % 5 = 0), " +
        "log AS (SELECT user_id % 100 AS k, event_id AS ver, value, " +
        "CASE WHEN event_id % 7 = 0 THEN 'D' WHEN event_id % 3 = 0 THEN 'I' " +
        "ELSE 'U' END AS op, 0 AS isb FROM events WHERE event_id % 5 <> 0), " +
        "u AS (SELECT k, ver, value, op, isb FROM base " +
        "UNION ALL SELECT k, ver, value, op, isb FROM log), " +
        "r AS (SELECT k, ver, value, op, row_number() OVER " +
        "(PARTITION BY k ORDER BY ver DESC, isb ASC) AS rn FROM u) " +
        "SELECT k, ver, value FROM r WHERE rn = 1 AND op <> 'D' ORDER BY k")),

    // SCD type-2 dimension build: change log → validity intervals
    // (valid_from/valid_to/is_current via per-key lead) — the
    // point-in-time dimension the as-of/range joins consume.
    Q("q_scd2",
      (s, d) => MergeOps.scd2(
          ev(s, d).select((col("user_id") % 50).as("k"), col("ts"),
            col("event_type")),
          Seq("k"), "ts")
        .select(col("k"), col("event_type"), col("valid_from"),
          col("valid_to"), col("is_current"))
        .orderBy("k", "valid_from"),
      Some("SELECT user_id % 50 AS k, event_type, ts AS valid_from, " +
        "lead(ts) OVER (PARTITION BY user_id % 50 ORDER BY ts) AS valid_to, " +
        "(lead(ts) OVER (PARTITION BY user_id % 50 ORDER BY ts) IS NULL) AS is_current " +
        "FROM events ORDER BY k, valid_from")),

    // Point-in-time join over the SCD2 dimension: each fact (ts shifted
    // +30 min so it lands inside intervals) picks the segment version
    // valid at its timestamp — via [[Temporal.pitJoin]]'s LINEAR
    // union+window carry. The r9 form was the equi-key join + interval
    // filter, which is QUADRATIC per key (facts_k x versions_k both grow
    // with data: 218x on the 10x sf1 board, the worst scaling entry of
    // the r10 audit); the oracle keeps that filter form, hash-proving
    // the carry rewrite emits the identical pair set.
    Q("q_pit_join",
      (s, d) => {
        val e = ev(s, d)
        val dim = MergeOps.scd2(
          e.select((col("user_id") % 50).as("k"), col("ts"),
            col("event_type")),
          Seq("k"), "ts")
          .select(col("k"), col("event_type").as("segment"),
            col("valid_from"), col("valid_to"))
        val facts = e.select(col("event_id"),
          (col("user_id") % 50).as("k"),
          (col("ts") + expr("interval 30 minutes")).as("fts"))
        Temporal.pitJoin(facts, dim, "k", "fts",
            "valid_from", "valid_to", Seq("segment"))
          .select(col("event_id"), col("k"), col("segment"))
          .orderBy("event_id")
      },
      Some("WITH dim AS (SELECT user_id % 50 AS k, event_type AS segment, " +
        "ts AS valid_from, " +
        "lead(ts) OVER (PARTITION BY user_id % 50 ORDER BY ts) AS valid_to " +
        "FROM events), " +
        "facts AS (SELECT event_id, user_id % 50 AS k, " +
        "ts + INTERVAL 30 MINUTE AS fts FROM events) " +
        "SELECT event_id, facts.k, segment FROM facts JOIN dim " +
        "ON facts.k = dim.k AND fts >= valid_from " +
        "AND (valid_to IS NULL OR fts < valid_to) ORDER BY event_id")),

    // Regular-grid hourly resample with forward fill: empty bins
    // materialized (n = 0), last observed value carried across gaps.
    // Bin frame = ONE map-side-combined shuffle; grid explodes off the
    // per-key span frame (domain-bounded); fill window bounded by bin
    // count, not rows.
    Q("q_ts_resample",
      (s, d) => Temporal.resample(ev(s, d), "event_type", "ts", "value",
          unit = "hour")
        .orderBy("event_type", "bin"),
      Some(Temporal.resampleSql("events", "event_type", "ts", "value",
        unit = "hour"))),

    // Linear-interpolation gap fill on the same hourly grid as
    // q_ts_resample: empty bins get prev + (next - prev) * index-ratio
    // (exact integer bin indices -> identical doubles on both engines);
    // grid spans [min, max] per key so every gap is interior.
    Q("q_interp_fill",
      (s, d) => Temporal.interpFill(ev(s, d), "event_type", "ts", "value",
          unit = "hour")
        .orderBy("event_type", "bin"),
      Some(Temporal.interpFillSql("events", "event_type", "ts", "value",
        unit = "hour"))),

    // k-anonymity suppression (k = 10) over the (event_type, user bucket)
    // quasi-identifier grid: classes under k collapse into one '*'
    // residual row that still reports how many rows were withheld.
    Q("q_kanon",
      (s, d) => graft.operators.PrivacyOps.kAnonymize(
        ev(s, d).select(col("event_type"), (col("user_id") % 97).as("ubucket")),
        Seq("event_type", "ubucket"), k = 10),
      Some(graft.operators.PrivacyOps.kAnonymizeSql(
        "events", Seq("event_type" -> "event_type",
          "(user_id % 97)" -> "ubucket"), k = 10))),

    // Distinct l-diversity (l = 5) over the same quasi grid with a
    // 7-valued event-level sensitive bucket — closes q_kanon's
    // homogeneity hole: a
    // class of >= k rows all sharing one sensitive value still discloses
    // it. Two map-side-combined groupBys (no count-distinct Expand); the
    // residual's diversity is deliberately unreported.
    Q("q_ldiversity",
      (s, d) => graft.operators.PrivacyOps.lDiversify(
        ev(s, d).select(col("event_type"), (col("user_id") % 97).as("ubucket"),
          (col("event_id") % 7).as("sens")),
        Seq("event_type", "ubucket"), "sens", l = 5),
      Some(graft.operators.PrivacyOps.lDiversifySql(
        "events", Seq("event_type" -> "event_type",
          "(user_id % 97)" -> "ubucket"), "(event_id % 7)", l = 5))),

    // t-closeness audit (the third privacy gate after q_kanon and
    // q_ldiversity): per equivalence class, the EMD between its ordered
    // sensitive-category distribution and the global one — catches the
    // class whose l distinct values are all semantically adjacent (the
    // skew l-diversity cannot see). Integer DECIMAL(38,0) cumulative
    // moments + one fixed double tree ⇒ hash-verified; all the post-cell
    // work runs on the bounded class×category grid, never the corpus.
    Q("q_tcloseness",
      (s, d) => graft.operators.PrivacyOps.tCloseness(
        ev(s, d).select(col("event_type"), (col("user_id") % 31).as("ubucket"),
          (col("event_id") % 5).as("sev")),
        Seq("event_type", "ubucket"), col("sev"), t = 0.15),
      Some(graft.operators.PrivacyOps.tClosenessSql(
        "events", Seq("event_type" -> "event_type",
          "(user_id % 31)" -> "ubucket"), "(event_id % 5)", t = 0.15))),

    // Geometric-mechanism noisy counts (the release face after the
    // k-anon/l-div/t-close gates): count + (G₁ − G₂) two-sided
    // geometric noise — the ε = ln 2 discrete Laplace, derandomized
    // through salted group-name hashes so the oracle hash-verifies the
    // release (production swaps in a per-release secret seed; trailing
    // zeros of a uniform word are Geometric(1/2)). One map-side-combined
    // groupBy; noise is scan-stage arithmetic.
    Q("q_dp_counts",
      (s, d) => graft.operators.PrivacyOps.dpCounts(
        ev(s, d).select((concat(col("event_type"), lit("#"),
          (col("user_id") % 13).cast("string"))).as("cell")), "cell")
        .orderBy("cell"),
      Some(graft.operators.PrivacyOps.dpCountsSql(
        "(SELECT (event_type || '#' || CAST(user_id % 13 AS VARCHAR)) AS cell " +
          "FROM events) ev", "cell", "cell") + " ORDER BY cell")),

    // Exponential half-life decay score per type (freshness prior for
    // mix weights): each day's count weighs 1/2^(age/7) vs the newest
    // day — the decay base is a POWER OF TWO (exact IEEE, no libm pow),
    // folded with the ordered-cumsum portability pattern.
    Q("q_decay_score",
      (s, d) => graft.operators.StatsOps.decayScore(
        ev(s, d), "event_type", "ts", halfLifeDays = 7),
      Some(graft.operators.StatsOps.decayScoreSql(
        "events", "event_type", "ts", halfLifeDays = 7))),

    // Interval-OVERLAP join: per-(user, day) activity spans × error-hour
    // incident windows — "which users were active during an incident",
    // the interval-interval sibling of q_range_join's point-in-interval
    // strategy. Spark side runs the BINNED equi-join (hour bins,
    // emit-once in max(start-bin) — never quadratic); the oracle is the
    // plain quadratic overlap join, so losslessness itself is
    // hash-proven (the q_setsim_join convention). All-integer
    // microsecond bounds.
    Q("q_interval_join",
      (s, d) => {
        val e = ev(s, d)
        val act = e.groupBy(col("user_id"), to_date(col("ts")).as("day"))
          .agg(min(unix_micros(col("ts"))).as("a_start"),
            max(unix_micros(col("ts"))).as("a_end"))
        val inc = e.filter(col("event_type") === "error")
          .select((expr("unix_micros(ts) div 3600000000") * lit(3600000000L))
            .as("b_start"))
          .distinct()
          .withColumn("b_end", col("b_start") + lit(3599999999L))
        Temporal.intervalJoin(act, inc, "a_start", "a_end",
            "b_start", "b_end", binUs = 3600000000L)
          .select(col("user_id"), col("day"), col("b_start"), col("overlap_us"))
          .orderBy("user_id", "day", "b_start")
      },
      Some("WITH a AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "min(epoch_us(ts)) AS a_start, max(epoch_us(ts)) AS a_end " +
        "FROM events GROUP BY user_id, day), " +
        "b AS (SELECT DISTINCT (epoch_us(ts) // 3600000000) * 3600000000 " +
        "AS b_start FROM events WHERE event_type = 'error'), " +
        "b2 AS (SELECT b_start, b_start + 3599999999 AS b_end FROM b) " +
        "SELECT user_id, day, b_start, " +
        "least(a_end, b_end) - greatest(a_start, b_start) AS overlap_us " +
        "FROM a JOIN b2 ON a_start <= b_end AND b_start <= a_end " +
        "ORDER BY user_id, day, b_start")),

    // Per-type OLS value-over-time trend: exact integer moments (seconds
    // since a fixed origin × floor-cents) summed as DECIMAL(38,0), then
    // one closed-form double tree for slope/intercept/R² — drift
    // detection as a single map-side-combined pass.
    Q("q_ols_trend",
      (s, d) => graft.operators.StatsOps.olsTrend(
        ev(s, d), "event_type", "ts", "value"),
      Some(graft.operators.StatsOps.olsTrendSql(
        "events", "event_type", "ts", "value"))),

    // CUSUM rate changepoint per type: scaled-integer cumulative
    // deviation of the daily count series from a flat rate; the argmax
    // |s_t| day (earliest on ties) is the changepoint.
    Q("q_cusum",
      (s, d) => graft.operators.StatsOps.cusumChangepoint(
        ev(s, d), "event_type", "ts"),
      Some(graft.operators.StatsOps.cusumChangepointSql(
        "events", "event_type", "ts"))),

    // Theil–Sen robust daily-count trend per type: the median of all
    // pairwise slopes — up to ~29% corrupted days can't move it, where
    // q_ols_trend breaks at one wild outlier (run both; divergence
    // flags contamination). One exact-integer IEEE division per pair,
    // day-pair tie-break, fixed midpoint tree ⇒ hash-verified; pair set
    // is calendar-bounded (n_days² per group), never corpus-scaled.
    Q("q_theil_sen",
      (s, d) => graft.operators.StatsOps.theilSen(
        ev(s, d), "event_type", "ts"),
      Some(graft.operators.StatsOps.theilSenSql(
        "events", "event_type", "ts"))),

    // SAX symbolization (Lin 2003): daily series → z-norm → 4-day PAA →
    // 4-letter word at the published N(0,1) quartile breakpoints — time
    // series become short strings the dedup/similarity machinery can
    // chew on. Exact integer moments, ordered segment folds.
    Q("q_sax",
      (s, d) => graft.operators.StatsOps.saxWords(
        ev(s, d), "event_type", "ts", segDays = 4),
      Some(graft.operators.StatsOps.saxWordsSql(
        "events", "event_type", "ts", segDays = 4))),

    // Burstiness (Fano factor): var/mean of daily counts — 1 ≈ Poisson,
    // ≫1 bursty. The one-number steadiness audit per source/type.
    Q("q_burstiness",
      (s, d) => graft.operators.StatsOps.burstiness(
        ev(s, d), "event_type", "ts"),
      Some(graft.operators.StatsOps.burstinessSql(
        "events", "event_type", "ts"))),

    // Hill tail-index over the top-50 values per type: the quantitative
    // heavy-tail gauge behind q_zipf_fit's picture — α ≈ 1-2 means
    // plan for extreme skew. Salted two-stage top-k extraction (no
    // global window), rank-ordered fold on (k+1)·|groups| rows.
    Q("q_hill_tail",
      (s, d) => graft.operators.StatsOps.hillTail(
        ev(s, d), "event_type", "value", k = 50),
      Some(graft.operators.StatsOps.hillTailSql(
        "events", "event_type", "value", k = 50))),

    // HBOS multivariate outlier score (Goldstein 2012): Σ ln(n/c) over
    // independent per-feature histograms (value decade, hour, weekday)
    // — the linear-time detector beside q_mad_outliers' single-column
    // z. Three domain-bounded histograms broadcast back onto the narrow
    // scan; scoring costs a filter; fixed 3-term ln tree.
    Q("q_hbos",
      (s, d) => graft.operators.StatsOps.hbosOutliers(
        ev(s, d), "event_id", "ts", "value").orderBy("event_id"),
      Some(graft.operators.StatsOps.hbosOutliersSql(
        "events", "event_id", "ts", "value") + " ORDER BY event_id")),

    // Fellegi–Sunter record linkage (1969) with 2-round EM-fitted m/u
    // (Winkler): blocked candidate pairs reduce to boolean agreement
    // PATTERNS (one map-side-combined groupBy — the only pair-sized
    // step), then the whole EM runs on the ≤2^3-row pattern frame via
    // ordered folds + fixed double trees ⇒ posterior match weights
    // hash-verify. The probabilistic scorer between blocking and
    // q_golden_record survivorship.
    Q("q_record_linkage",
      (s, d) => {
        val e = ev(s, d).select(col("event_id"), col("user_id"),
          to_date(col("ts")).as("day"), col("event_type"),
          floor(col("value") / 10.0).cast("long").as("vdec"),
          hour(col("ts")).cast("long").as("hr"))
        val a = e.columns.foldLeft(e)((d0, c) => d0.withColumnRenamed(c, "a_" + c))
        val b = e.columns.foldLeft(e)((d0, c) => d0.withColumnRenamed(c, "b_" + c))
        val pairs = a.join(b,
          col("a_user_id") === col("b_user_id") &&
            col("a_day") === col("b_day") &&
            col("a_event_id") < col("b_event_id"))
          .select((col("a_event_type") === col("b_event_type")).as("f_type"),
            (col("a_vdec") === col("b_vdec")).as("f_val"),
            (col("a_hr") === col("b_hr")).as("f_hour"))
        val feats = Seq("f_type", "f_val", "f_hour")
        MergeOps.fellegiSunter(pairs, feats, rounds = 2)
          .orderBy(MergeOps.patternId(feats))
      },
      Some(MergeOps.fellegiSunterSql(
        "SELECT (a.event_type = b.event_type) AS f_type, " +
          "(floor(a.value / 10.0) = floor(b.value / 10.0)) AS f_val, " +
          "(hour(a.ts) = hour(b.ts)) AS f_hour " +
          "FROM events a JOIN events b ON a.user_id = b.user_id " +
          "AND CAST(a.ts AS DATE) = CAST(b.ts AS DATE) " +
          "AND a.event_id < b.event_id",
        Seq("f_type", "f_val", "f_hour"), rounds = 2))),

    // EWMA-smoothed daily mean value per type (α = 0.25): the recursion
    // runs as an identical ordered prefix fold on both engines, so every
    // smoothed point hash-verifies.
    Q("q_ewma",
      (s, d) => graft.operators.StatsOps.ewmaDaily(
        ev(s, d), "event_type", "ts", "value", alpha = 0.25),
      Some(graft.operators.StatsOps.ewmaDailySql(
        "events", "event_type", "ts", "value", alpha = 0.25))),

    // Holt double exponential smoothing (level + trend, dyadic gains
    // α=1/2 β=1/4) of the per-type daily count series — the
    // changing-trend forecaster beside q_ewma's level smooth and
    // q_ols_trend's global line. One sorted per-group fold; exact
    // binary arithmetic ⇒ hash-verified.
    Q("q_holt_smooth",
      (s, d) => graft.operators.StatsOps.holtSmooth(
        ev(s, d), "event_type", "ts"),
      Some(graft.operators.StatsOps.holtSmoothSql(
        "events", "event_type", "ts"))),

    // Bradley–Terry strengths from pairwise per-user preferences (the
    // LLM-judge / arena aggregation shape): two unrolled MM rounds on
    // the type-pair frame, ordered float folds, round 6.
    Q("q_bradley_terry",
      (s, d) => graft.operators.StatsOps.bradleyTerry(
        ev(s, d), "user_id", "event_type", "ts", iters = 2),
      Some(graft.operators.StatsOps.bradleyTerrySql(
        "events", "user_id", "event_type", iters = 2))),

    // Day-of-week seasonal baseline + multiplicative anomaly flags: each
    // daily count vs its group's same-weekday mean — the profile that
    // stops every Saturday from looking like an incident (q_cusum finds
    // level shifts; this finds seasonal outliers). All-integer epoch-day
    // weekday route (neither engine's dayofweek builtin — they disagree
    // on Sunday's index), exact-integer profile, fixed double trees.
    Q("q_seasonal",
      (s, d) => graft.operators.StatsOps.seasonalDow(
        ev(s, d), "event_type", "ts"),
      Some(graft.operators.StatsOps.seasonalDowSql(
        "events", "event_type", "ts"))),

    // Sequence pattern matching (the ClickHouse sequenceMatch shape):
    // each user's history reduces to ONE ordered code string, then any
    // number of behavioral regexes run on it — vcp = the view→click→
    // purchase funnel with arbitrary noise between stages, ee = two
    // CONSECUTIVE errors (adjacency, which q_funnel's per-stage semi-join
    // chain cannot express without a join per stage). One key shuffle,
    // per-user-bounded state, user-count-sized output.
    Q("q_seq_match",
      (s, d) => graft.operators.SequenceOps.seqMatch(
        graft.operators.SequenceOps.codeSequences(
          ev(s, d), "user_id", "ts", "event_id",
          substring(col("event_type"), 1, 1)),
        Seq("m_funnel" -> "v.*c.*p", "m_err_pair" -> "ee"))
        .orderBy("user_id"),
      Some(graft.operators.SequenceOps.seqMatchSql(
        graft.operators.SequenceOps.codeSequencesSql(
          "events", "user_id", "ts", "event_id",
          "substring(event_type, 1, 1)"),
        Seq("m_funnel" -> "v.*c.*p", "m_err_pair" -> "ee")) +
        " ORDER BY user_id")),

    // Common-path mining: the first 5 events of every user as a path
    // string, counted across users — "how do journeys start" without
    // fixing funnel stages in advance. The prefix is cut BEFORE the
    // collect (row_number ≤ 5 per key), so aggregation state is 5-bounded
    // regardless of history length; output is path-domain-sized.
    Q("q_event_paths",
      (s, d) => graft.operators.SequenceOps.eventPaths(
          ev(s, d), "user_id", "ts", "event_id",
          substring(col("event_type"), 1, 1), n = 5)
        .orderBy(desc("n_users"), col("path")),
      Some(graft.operators.SequenceOps.eventPathsSql(
        "events", "user_id", "ts", "event_id",
        "substring(event_type, 1, 1)", n = 5) +
        " ORDER BY n_users DESC, path"))
  )
}
