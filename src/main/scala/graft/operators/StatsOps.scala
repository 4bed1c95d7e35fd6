package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** Robust / order-statistics operators (SURVEY §2.2).
  *
  * The reference pipeline's quality gates are plain threshold filters
  * (gedixr extract.py:303-339); production metric pipelines additionally
  * need data-driven thresholds that survive outliers. These operators keep
  * every per-group statistic EXACT (nested medians, not approximations) and
  * keep the fact table out of every shuffle: the group-level statistics
  * frames are tiny and broadcast back onto narrow scans.
  */
object StatsOps {

  /** Per-group median/MAD outlier profile: for each group, the exact
    * median of `valueCol`, the exact median absolute deviation, and the
    * count of rows with |x - median| > k * MAD (the robust z-score gate —
    * ~3 sigma for normal data at k = 4.45, but MAD-based so a single
    * corrupt feed can't drag the threshold the way mean/stddev gates do).
    *
    * Exact nested medians are inherently two passes (the deviation
    * distribution doesn't exist until the first median is known); each
    * pass is one map-side-combined percentile aggregate whose output is
    * group-count sized, broadcast back onto a narrow scan — the fact rows
    * never shuffle on the group key a second time. All arithmetic on the
    * threshold compare is single-op IEEE (sub/abs/mult), so the boundary
    * rows agree bit-for-bit with the DuckDB oracle.
    */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("med"))
    val dev = df.join(broadcast(med), groupCol)
      .withColumn("_dev", abs(col(valueCol) - col("med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(_dev, 0.5)").as("mad"))
    dev.join(broadcast(mad), groupCol)
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("med")), 6).as("med"),
        round(min(col("mad")), 6).as("mad"),
        sum(when(col("_dev") > lit(k) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
  }

  /** Mutual information (in nats) between two categorical columns — the
    * feature-selection / association measure: MI = Σ_cells p(x,y) ·
    * ln(p(x,y)/(p(x)p(y))), estimated from exact counts. Output: one row
    * (n, n_cells, mi_nats).
    *
    * The fact table is touched ONCE (the contingency groupBy, map-side
    * combined); marginals derive from the cell frame, which is
    * |X|·|Y|-sized — bounded by the attribute domains, not the data. The
    * float sum over cells runs as an ordered cumsum on (x, y): the cell
    * frame is tiny by construction, so the single-task window is bounded
    * by the domain product, and the fold order is total — MI doubles are
    * bit-identical across engines. */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    // Null categories are EXCLUDED — from n too. Without this filter a
    // null-x/y cell never matches the marginal equi-joins (null keys
    // don't join) yet its count still lands in n, so the statistic would
    // be computed over an incomplete, mis-normalized distribution — and
    // both engines would agree, so the hash gate could never catch it.
    // the contingency frame feeds four consumers (cells, both marginals,
    // the total); materialized once so the fact table is scanned once,
    // not re-aggregated per consumer
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c_xy"))
      .transform(PB.localCheckpoint)
    val xm = cells.groupBy(col("x")).agg(sum(col("c_xy")).as("c_x"))
    val ym = cells.groupBy(col("y")).agg(sum(col("c_xy")).as("c_y"))
    val n = cells.agg(sum(col("c_xy")).as("n"))
    val term = (col("c_xy").cast("double") / col("n").cast("double")) *
      log((col("c_xy").cast("double") * col("n").cast("double")) /
        (col("c_x").cast("double") * col("c_y").cast("double")))
    val ord = W.orderBy("x", "y")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    cells.join(broadcast(xm), "x").join(broadcast(ym), "y")
      .crossJoin(broadcast(n))
      .withColumn("_term", term)
      .withColumn("_cum", sum(col("_term")).over(cum))
      .withColumn("_rn", row_number().over(ord))
      .withColumn("_nc", count(lit(1)).over())
      .filter(col("_rn") === col("_nc"))
      .select(col("n"), col("_nc").as("n_cells"),
        round(col("_cum"), 6).as("mi_nats"))
  }

  /** Pearson chi-squared statistic of independence between two
    * categorical columns — the categorical drift test completing the
    * family (KS = continuous drift, MI = association strength, chi² =
    * significance-testable independence). Output: one row (n, n_cells,
    * dof, chi2).
    *
    * Unlike MI, chi² sums over the FULL marginal grid — a zero-observed
    * cell with positive expectation contributes its expected count — so
    * the cell frame is the cross join of the marginals (domain-bounded,
    * |X|·|Y| rows) left-joined with the observed counts. One fact scan
    * (the contingency groupBy, checkpointed); every term is single-op
    * IEEE arithmetic on exact integer counts; the grid sum runs as an
    * ordered cumsum, so the statistic is bit-identical across engines. */
  def chiSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    // null categories excluded, n included — same rationale as mutualInfo
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("c_xy"))
      .transform(PB.localCheckpoint)
    val xm = cells.groupBy(col("x")).agg(sum(col("c_xy")).as("c_x"))
    val ym = cells.groupBy(col("y")).agg(sum(col("c_xy")).as("c_y"))
    val n = cells.agg(sum(col("c_xy")).as("n"))
    val grid = broadcast(xm).crossJoin(broadcast(ym))
      .join(cells, Seq("x", "y"), "left_outer")
      .withColumn("o", coalesce(col("c_xy"), lit(0L)))
      .crossJoin(broadcast(n))
    val e = (col("c_x").cast("double") * col("c_y").cast("double")) /
      col("n").cast("double")
    val d = col("o").cast("double") - e
    val ord = W.orderBy("x", "y")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    grid
      .withColumn("_term", (d * d) / e)
      .withColumn("_cum", sum(col("_term")).over(cum))
      .withColumn("_rn", row_number().over(ord))
      .withColumn("_nc", count(lit(1)).over())
      .filter(col("_rn") === col("_nc"))
      .crossJoin(broadcast(
        xm.agg(count(lit(1)).as("nx")).crossJoin(ym.agg(count(lit(1)).as("ny")))))
      .select(col("n"), col("_nc").as("n_cells"),
        ((col("nx") - 1L) * (col("ny") - 1L)).as("dof"),
        round(col("_cum"), 6).as("chi2"))
  }

  /** Data-quality column profiler (the `describe` of an ingest gate):
    * for EVERY column, non-null count, exact distinct count, and min/max
    * (stringified so heterogeneous column types stack into one frame),
    * plus the table row count. No per-column re-scan, no driver loop
    * over columns.
    *
    * Plan shape (r18 optimization): the profile runs as TWO aggregates
    * crossJoined at one row each, not one fused multi-distinct
    * aggregate. The fused form planned the whole chain as
    * SortAggregates — string min/max buffers are var-length, which
    * HashAggregateExec cannot hold, and the multi-distinct rewrite drags
    * those buffers through the Expand-grouped stage — so every input row
    * was SORTED ×(columns+1) on all column values (measured 2.7 s of
    * single-thread task time at sf0.1; the sort keys include full
    * `props` strings). Split, the distinct counts are a pure hash plan
    * (Expand ×columns → HashAggregate dedup on the value keys — keys may
    * be var-length, only BUFFERS may not — → filtered counts) and the
    * count/min/max pass is a global keyless aggregate (SortAggregate
    * with no grouping inserts NO sort — one streaming fold per
    * partition). Cost at 100 TB: two scans instead of one, but the sort
    * of rows×(columns+1) wide tuples the fused plan paid dwarfs a second
    * columnar scan; [[profileApprox]] stays the single-pass scale
    * default. Results are bit-identical (same aggregates, same stack).
    * Rows come unsorted. */
  def profile(df: DataFrame): DataFrame = {
    val cols = df.columns
    val basicAggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      count(col(c)).as(s"_nn_$i"),
      min(col(c)).cast("string").as(s"_mn_$i"),
      max(col(c)).cast("string").as(s"_mx_$i")) }
    val basic = df.agg(count(lit(1)).as("n_rows"), basicAggs.toIndexedSeq: _*)
    val ndAggs = cols.zipWithIndex.map { case (c, i) =>
      countDistinct(col(c)).as(s"_nd_$i") }
    val nd = df.agg(ndAggs.head, ndAggs.tail.toIndexedSeq: _*)
    // the column NAME rides into the stack() expression as a string
    // literal — Spark string literals escape with BACKSLASH (doubling a
    // quote is two adjacent literals that silently concatenate)
    val stacked = cols.zipWithIndex
      .map { case (c, i) =>
        val lit = c.replace("\\", "\\\\").replace("'", "\\'")
        s"'$lit', _nn_$i, _nd_$i, _mn_$i, _mx_$i" }
      .mkString(", ")
    basic.crossJoin(nd) // 1 row × 1 row — the scalar-aggregate pattern
      .select(col("n_rows"),
        expr(s"stack(${cols.length}, $stacked)")
          .as(Seq("col_name", "n_non_null", "n_distinct", "min_str", "max_str")))
  }

  /** Approximate one-scan column profiler — the 100 TB INGEST-GATE
    * DEFAULT ([[profile]] stays as the exact audit form). Same report
    * shape (per column: non-null count, distinct count, stringified
    * min/max, plus the row count) but the distinct counts are
    * HyperLogLog++ estimates (`approx_count_distinct`, relative std dev
    * `rsd`), which changes the PLAN CLASS: the exact multi-distinct
    * plans one Expand that shuffles rows × (columns + 1) — the wrong
    * default for a wide 100 TB table — while every HLL sketch is an
    * ordinary mergeable aggregate, so this whole profile is a plain
    * partial/final single-pass aggregate: zero Expand, shuffle = one
    * sketch row per partition, cost independent of distinct cardinality.
    * The declared q_profile_approx hash-verifies every exact column of
    * this report and pins the estimate with a 5%-bound flag (the
    * q_hll_distinct pattern). Rows come unsorted. */
  def profileApprox(df: DataFrame, rsd: Double = 0.05): DataFrame = {
    val cols = df.columns
    val aggs = cols.zipWithIndex.flatMap { case (c, i) => Seq(
      count(col(c)).as(s"_nn_$i"),
      approx_count_distinct(col(c), rsd).as(s"_nd_$i"),
      min(col(c)).cast("string").as(s"_mn_$i"),
      max(col(c)).cast("string").as(s"_mx_$i")) }
    val stacked = cols.zipWithIndex
      .map { case (c, i) =>
        val lit = c.replace("\\", "\\\\").replace("'", "\\'")
        s"'$lit', _nn_$i, _nd_$i, _mn_$i, _mx_$i" }
      .mkString(", ")
    df.agg(count(lit(1)).as("n_rows"), aggs.toIndexedSeq: _*)
      .select(col("n_rows"),
        expr(s"stack(${cols.length}, $stacked)")
          .as(Seq("col_name", "n_non_null", "n_distinct_approx",
            "min_str", "max_str")))
  }

  /** Exact two-sample Kolmogorov–Smirnov distance between the `valueCol`
    * distributions of two groups — the drift monitor between feeds /
    * training-mix sources. D = max over values of |F_A(v) − F_B(v)|, kept
    * EXACT by comparing the integer cross products |cumA·nB − cumB·nA|
    * (the division happens once, at the end, on the winning numerator) —
    * no accumulated float CDFs, so the statistic is engine-proof.
    *
    * The distributed CDF is the interesting part at scale: rows collapse
    * to per-distinct-value counts (one map-side-combined shuffle; ties
    * collapse with them, so no tie-order sensitivity exists), then the
    * running sums run as a TWO-STAGE prefix scan — range-partition by
    * value, per-partition window cumsum, and a partitions-sized totals
    * frame whose own prefix sums broadcast back as offsets. No global
    * single-task window anywhere; the only single-task step is the
    * ≤ numPartitions-row offsets window. Result is partitioning-invariant
    * (offsets + local sums = the global prefix regardless of boundary
    * placement). Cross products stay in int64 — exact up to ~3·10^9 rows
    * per side; beyond that, pre-stratify or lift the products to decimal.
    * A group with no rows yields ks_stat = NaN (0/0) rather than a silent
    * zero — absence of a sample is not evidence of no drift.
    */
  def ksDistance(df: DataFrame, valueCol: String, groupCol: String,
                 groupA: String, groupB: String,
                 numPartitions: Int = 8): DataFrame = PB.scoped {
    require(groupA != groupB,
      s"ksDistance compares two DIFFERENT groups; both sides are '$groupA'")
    val W = org.apache.spark.sql.expressions.Window
    // null values carry no distribution information, and engines disagree
    // on null ordering (Spark windows sort them first, DuckDB last) —
    // excluded by definition
    val f = df.filter(col(groupCol).isin(groupA, groupB) &&
        col(valueCol).isNotNull)
      .select(col(valueCol).as("v"),
        when(col(groupCol) === groupA, 1L).otherwise(0L).as("ia"),
        when(col(groupCol) === groupB, 1L).otherwise(0L).as("ib"))
    // the range-partitioned distinct-value frame is the CDF base every
    // downstream piece reads (local cumsums, partition offsets, totals) —
    // materialize it ONCE so the fact table is scanned and the value
    // shuffle paid exactly once (reliable-storage checkpoint on a
    // cluster), instead of Spark re-deriving the subtree per consumer
    val ranged = f.groupBy(col("v"))
      .agg(sum(col("ia")).as("ca"), sum(col("ib")).as("cb"))
      .repartitionByRange(numPartitions, col("v"))
      .withColumn("_pid", spark_partition_id())
      .transform(PB.localCheckpoint)
    val wLoc = W.partitionBy(col("_pid")).orderBy(col("v"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val local = ranged
      .withColumn("la", sum(col("ca")).over(wLoc))
      .withColumn("lb", sum(col("cb")).over(wLoc))
    val wPre = W.orderBy(col("_pid")).rowsBetween(W.unboundedPreceding, -1)
    val prefix = ranged.groupBy(col("_pid"))
      .agg(sum(col("ca")).as("pa"), sum(col("cb")).as("pb"))
      .withColumn("offa", coalesce(sum(col("pa")).over(wPre), lit(0L)))
      .withColumn("offb", coalesce(sum(col("pb")).over(wPre), lit(0L)))
      .select(col("_pid"), col("offa"), col("offb"))
    val tot = ranged.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    local.join(broadcast(prefix), "_pid")
      .select((col("la") + col("offa")).as("fa"), (col("lb") + col("offb")).as("fb"))
      .crossJoin(broadcast(tot))
      .groupBy(col("na"), col("nb"))
      .agg(max(abs(col("fa") * col("nb") - col("fb") * col("na"))).as("d_num"))
      .select(col("na"), col("nb"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("na").cast("double") * col("nb").cast("double")), 6).as("ks_stat"))
  }

  /** Per-group lag-k autocorrelation of a daily count series (the
    * seasonality/burstiness gate on an ingest feed: ACF₇ ≈ weekly cycle,
    * ACF₁ ≈ clumping). The series is the per-(group, day) COUNT — exact
    * integers — and each lag's Pearson correlation is computed from the
    * five integer moments of the overlapping window (Σx, Σy, Σx², Σy²,
    * Σxy over pairs (day, day+lag)), so every sum is partitioning-
    * invariant with no ordered fold; the correlation itself is single
    * IEEE ops on exact integers and hash-verifies.
    *
    * Scale shape: events collapse to the (group, day) frame in one
    * map-side-combined shuffle (rows = groups × days — calendar-bounded,
    * data-independent); the lag self-join and moment aggregates run on
    * that small frame. Missing days are treated as absent rows, not
    * zeros (document the convention; resample first for zero-filled
    * semantics). */
  def autocorr(df: DataFrame, groupCol: String, tsCol: String,
               maxLag: Int = 3): DataFrame = PB.scoped {
    require(maxLag >= 1, "maxLag must be >= 1")
    val daily = df.groupBy(col(groupCol).as("g"),
        to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
      .transform(PB.localCheckpoint)
    val lags = (1 to maxLag).map { k =>
      val joined = daily.as("x").join(daily.as("y"),
        col("x.g") === col("y.g") &&
          date_add(col("x.day"), k) === col("y.day"))
      joined.groupBy(col("x.g").as(groupCol))
        .agg(count(lit(1)).as("n"),
          sum(col("x.c")).as("sx"), sum(col("y.c")).as("sy"),
          sum(col("x.c") * col("x.c")).as("sxx"),
          sum(col("y.c") * col("y.c")).as("syy"),
          sum(col("x.c") * col("y.c")).as("sxy"))
        .withColumn("lag", lit(k))
    }.reduce(_ unionByName _)
    val n = col("n").cast("double")
    val num = n * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denx = n * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val deny = n * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    // zero-variance windows (constant series) have no defined
    // correlation: NULL on both engines (ANSI Spark would error on the
    // 0/0, DuckDB would emit NaN — pin one behavior)
    lags.select(col(groupCol), col("lag"), col("n"),
        when(denx > 0 && deny > 0, round(num / sqrt(denx * deny), 6))
          .otherwise(lit(null).cast("double")).as("acf"))
      .orderBy(groupCol, "lag")
  }

  /** DuckDB oracle for [[autocorr]] — identical daily collapse, lag
    * joins and integer-moment correlation tree. */
  def autocorrSql(table: String, groupExpr: String, tsExpr: String,
                  maxLag: Int): String = {
    val lagSelects = (1 to maxLag).map { k =>
      s"SELECT x.g AS grp, $k AS lag, CAST(count(*) AS BIGINT) AS n, " +
        "CAST(sum(x.c) AS BIGINT) AS sx, CAST(sum(y.c) AS BIGINT) AS sy, " +
        "CAST(sum(x.c * x.c) AS BIGINT) AS sxx, " +
        "CAST(sum(y.c * y.c) AS BIGINT) AS syy, " +
        "CAST(sum(x.c * y.c) AS BIGINT) AS sxy " +
        s"FROM daily x JOIN daily y ON x.g = y.g AND x.day + $k = y.day " +
        "GROUP BY x.g"
    }.mkString(" UNION ALL ")
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      s"lags AS ($lagSelects), " +
      "casted AS (SELECT grp, lag, n, " +
      "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num, " +
      "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS denx, " +
      "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny " +
      "FROM lags) " +
      s"SELECT grp AS $groupExpr, lag, n, " +
      "CASE WHEN denx > 0 AND deny > 0 THEN round(num / sqrt(denx * deny), 6) " +
      "ELSE NULL END AS acf " +
      s"FROM casted ORDER BY $groupExpr, lag"
  }

  /** Cumulative Poisson(1) thresholds for the bootstrap draw: u below
    * threshold i ⇒ weight i, else capped at 7. Shared plan-time literals
    * on both engines (what matters is that they are IDENTICAL constants,
    * bit-for-bit, not their provenance). */
  val poissonCdf1: Seq[Double] = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119)

  /** Poisson bootstrap confidence interval for a corpus mean (error bars
    * on an ingest-gate statistic WITHOUT a second pass over history —
    * the standard trick for resampling an unsplittable stream: each row
    * draws an independent Poisson(1) replication count per resample, ≈
    * multinomial resampling at corpus n). Deterministic: the draw is the
    * portable hash of (resample, id) — reproducible run-to-run and
    * engine-to-engine, stable under retries.
    *
    * Scale shape: the resample explode is a plan-time ×B narrow
    * projection; per-resample sums are INTEGER (weight × long value) so
    * they are partitioning-invariant without ordered folds — one
    * map-side-combined shuffle whose payload is B rows total. Rank-based
    * CI bounds (loRank/hiRank over the B resample means) avoid
    * percentile interpolation; every fold past the shuffle runs over B
    * rows. Output: one row (n_resamples, mean_of_means, ci_lo, ci_hi).
    */
  def bootstrapCi(df: DataFrame, idCol: String, valueCol: String,
                  b: Int = 32, loRank: Int = 2, hiRank: Int = 31): DataFrame = {
    require(b >= 4 && loRank >= 1 && hiRank <= b,
      "need a sane resample count and in-range CI ranks")
    val W = org.apache.spark.sql.expressions.Window
    val P = graft.functions.TextFunctions.P
    val rep = df.select(col(idCol).cast("string").as("id"),
        col(valueCol).cast("long").as("v"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
    val u = (graft.functions.TextFunctions.charHash(
      concat(lit("bs:"), col("b").cast("string"), lit(":"), col("id")))
      .cast("double") + lit(1.0)) / lit((P + 1).toDouble)
    val w = poissonCdf1.zipWithIndex.foldRight(lit(poissonCdf1.size.toLong)) {
      case ((t, i), fb) => when(u < t, i.toLong).otherwise(fb)
    }
    val means = rep.withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("v")).as("tot"))
      .select(col("b"), (col("tot").cast("double") /
        greatest(col("n_eff"), lit(1L)).cast("double")).as("m"))
    val ordb = W.orderBy("b")
    val cumb = ordb.rowsBetween(W.unboundedPreceding, W.currentRow)
    means
      .withColumn("mr", row_number().over(W.orderBy(col("m"), col("b"))))
      .withColumn("cum", sum(col("m")).over(cumb))
      .withColumn("rn", row_number().over(ordb))
      .withColumn("nc", count(lit(1)).over())
      .agg(max(col("nc")).as("n_resamples"),
        round(max(when(col("rn") === col("nc"), col("cum"))) /
          max(col("nc")).cast("double"), 6).as("mean_of_means"),
        round(max(when(col("mr") === loRank, col("m"))), 6).as("ci_lo"),
        round(max(when(col("mr") === hiRank, col("m"))), 6).as("ci_hi"))
  }

  /** Rolling z-score anomaly gate over a per-group daily count series:
    * each observed day is scored against the sample mean/std of the
    * PREVIOUS `window` observed days (the day itself excluded — a spike
    * must not defend itself), and |z| > `zThresh` flags it. This is the
    * volume-anomaly tripwire on an ingest feed (autocorr's alerting
    * sibling: autocorr characterizes the series, this flags the day).
    *
    * Exactness: the trailing moments (n, Σx, Σx²) are INTEGER window
    * sums over integer daily counts, so mean and sample variance are
    * single IEEE expressions over exact integers — z hash-verifies
    * bit-for-bit. Pinned edges: fewer than `minObs` trailing days or a
    * zero-variance history (constant series — a spike there is real but
    * z is undefined) yield z = NULL and is_anomaly = false on BOTH
    * engines; resample first (tsResample) for zero-filled calendar
    * semantics, since the ROWS frame walks OBSERVED days, not calendar
    * days (the autocorr convention).
    *
    * Scale shape: events collapse to the (group, day) frame in one
    * map-side-combined shuffle (rows = groups × days, calendar-bounded);
    * the window runs per-group over that small frame. */
  def rollingZScore(df: DataFrame, groupCol: String, tsCol: String,
                    window: Int = 7, minObs: Int = 4,
                    zThresh: Double = 3.0): DataFrame = {
    require(window >= 2 && minObs >= 2 && minObs <= window,
      "need window >= 2 and 2 <= minObs <= window")
    val W = org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    val trail = W.partitionBy(col("g")).orderBy(col("day"))
      .rowsBetween(-window, -1)
    val scored = daily
      .withColumn("n", count(col("c")).over(trail))
      .withColumn("sx", sum(col("c")).over(trail))
      .withColumn("sxx", sum(col("c") * col("c")).over(trail))
    val n = col("n").cast("double")
    val mean = col("sx").cast("double") / n
    // sample variance from integer moments: (n*Σx² - (Σx)²) / (n*(n-1))
    val varNum = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val variance = varNum / (n * (n - lit(1.0)))
    val z = (col("c").cast("double") - mean) / sqrt(variance)
    val zCol = when(col("n") >= minObs && varNum > 0, z)
      .otherwise(lit(null).cast("double"))
    scored.select(col("g").as(groupCol), col("day"), col("c"),
        when(col("n") >= minObs, round(mean, 6)).otherwise(lit(null).cast("double"))
          .as("trail_mean"),
        round(zCol, 6).as("z"),
        coalesce(abs(zCol) > zThresh, lit(false)).as("is_anomaly"))
      .orderBy(groupCol, "day")
  }

  /** Per-group OLS trend (slope/intercept/R²) of a value over event time —
    * "is this source's quality drifting?" as a closed-form regression, no
    * iteration. Every sum is EXACT: x = whole seconds since a fixed origin
    * (integer), y = floor-cents (the established exact measure), and the
    * five moments accumulate as DECIMAL(38,0) — partitioning-invariant
    * with no ordered folds, safe far past the long overflow point of
    * Σx² at large SF. The slope/intercept/R² doubles are then one fixed
    * expression tree over those exact moments, so both engines agree
    * bit-for-bit. One map-side-combined shuffle, group-count rows out. */
  def olsTrend(df: DataFrame, groupCol: String, tsCol: String,
               valueCol: String): DataFrame = {
    val x = ((unix_micros(col(tsCol)) - lit(OlsOriginUs)) / lit(1000000))
      .cast("long")
    val y = floor(col(valueCol) * 100.0).cast("long")
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val m = df
      .select(col(groupCol).as("g"), x.as("x"), y.as("y"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("y") * col("y"))).as("syy"),
        sum(dec(col("x") * col("y"))).as("sxy"))
    val nD = col("n").cast("double")
    val sxD = col("sx").cast("double"); val syD = col("sy").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * syD
    val den = nD * col("sxx").cast("double") - sxD * sxD
    val deny = nD * col("syy").cast("double") - syD * syD
    val nullD = lit(null).cast("double")
    m.select(col("g").as(groupCol), col("n"),
        when(den > 0, round((num / den) * 86400.0, 6)).otherwise(nullD)
          .as("slope_cents_per_day"),
        when(den > 0, round((syD - (num / den) * sxD) / nD, 4)).otherwise(nullD)
          .as("intercept_cents"),
        when(den > 0 && deny > 0, round((num * num) / (den * deny), 6))
          .otherwise(nullD).as("r2"))
      .orderBy(groupCol)
  }

  /** Micros since epoch of 2024-01-01T00:00:00Z — the fixed x origin that
    * keeps x small enough for exact long products (the testdata's event
    * stream starts there; any fixed constant works). */
  val OlsOriginUs: Long = 1704067200000000L

  /** DuckDB oracle for [[olsTrend]] — identical integer measures, exact
    * (HUGEINT) moment sums, and the same closed-form double tree. */
  def olsTrendSql(table: String, groupExpr: String, tsExpr: String,
                  valueExpr: String): String =
    s"WITH pts AS (SELECT $groupExpr AS g, " +
      s"(epoch_us($tsExpr) - $OlsOriginUs) // 1000000 AS x, " +
      s"CAST(floor($valueExpr * 100.0) AS BIGINT) AS y FROM $table), " +
      "m AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, " +
      "sum(y) AS sy, sum(x * x) AS sxx, sum(y * y) AS syy, " +
      "sum(x * y) AS sxy FROM pts GROUP BY g), " +
      "c AS (SELECT g, n, " +
      "CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num, " +
      "CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - " +
      "CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den, " +
      "CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - " +
      "CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS deny, " +
      "CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd FROM m) " +
      s"SELECT g AS $groupExpr, n, " +
      "CASE WHEN den > 0 THEN round((num / den) * 86400.0, 6) END " +
      "AS slope_cents_per_day, " +
      "CASE WHEN den > 0 THEN round((syd - (num / den) * sxd) / " +
      "CAST(n AS DOUBLE), 4) END AS intercept_cents, " +
      "CASE WHEN den > 0 AND deny > 0 THEN " +
      "round((num * num) / (den * deny), 6) END AS r2 " +
      s"FROM c ORDER BY $groupExpr"

  /** CUSUM changepoint over per-group daily counts: s_t = Σ up to day t of
    * (n_days·c_i − total) — the scaled-integer cumulative deviation from a
    * flat rate (scaling by n_days keeps every term EXACT integer; no
    * mean-as-double enters the fold). The reported changepoint is the day
    * of max |s_t| (ties → earliest day), with the deviation both raw
    * (exact BIGINT) and as the scale-free fraction |s|/(n_days·total).
    *
    * Scale shape: the daily collapse is the only data-sized shuffle; the
    * cumsum window is partitioned by group and bounded by CALENDAR DAYS
    * (domain-bounded, like the other declared folds), and integer window
    * sums are association-order-free — no ordered-float hazard. */
  def cusumChangepoint(df: DataFrame, groupCol: String,
                       tsCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    val per = W.partitionBy(col("g"))
    val cum = per.orderBy(col("day")).rowsBetween(W.unboundedPreceding, W.currentRow)
    val s = daily
      .withColumn("nd", count(lit(1)).over(per))
      .withColumn("t", sum(col("c")).over(per))
      .withColumn("s_t", sum(col("nd") * col("c") - col("t")).over(cum))
    val ranked = s.withColumn("rn", row_number().over(
      per.orderBy(abs(col("s_t")).desc, col("day"))))
    ranked.filter(col("rn") === 1)
      .select(col("g").as(groupCol), col("nd").as("n_days"),
        col("t").as("total"), col("day").as("cp_day"),
        abs(col("s_t")).as("cusum_abs"),
        round(abs(col("s_t")).cast("double") /
          (col("nd").cast("double") * col("t").cast("double")), 6)
          .as("cusum_frac"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[cusumChangepoint]] — identical daily collapse,
    * integer deviation cumsum, and argmax tie-break. */
  def cusumChangepointSql(table: String, groupExpr: String,
                          tsExpr: String): String =
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      "s AS (SELECT g, day, " +
      "CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS nd, " +
      "CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS t, " +
      "CAST(sum(nd0 * c - t0) OVER (PARTITION BY g ORDER BY day " +
      "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_t FROM " +
      "(SELECT g, day, c, " +
      "CAST(count(*) OVER (PARTITION BY g) AS BIGINT) AS nd0, " +
      "CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS t0 FROM daily)), " +
      "ranked AS (SELECT g, nd, t, day, s_t, row_number() OVER (" +
      "PARTITION BY g ORDER BY abs(s_t) DESC, day) AS rn FROM s) " +
      s"SELECT g AS $groupExpr, nd AS n_days, t AS total, " +
      "strftime(day, '%Y-%m-%d') AS cp_day, abs(s_t) AS cusum_abs, " +
      "round(CAST(abs(s_t) AS DOUBLE) / " +
      "(CAST(nd AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS cusum_frac " +
      s"FROM ranked WHERE rn = 1 ORDER BY $groupExpr"

  /** Per-group EWMA smoothing of the daily mean value (α = 0.25): the
    * standard "smoothed metric" companion to rollingZScore's band alarm.
    * The recursion e_t = α·x_t + (1−α)·e_{t−1} (e_1 = x_1) is an ORDERED
    * left fold over the day-ordered prefix of daily means, run with the
    * identical lambda tree on both engines (Spark `aggregate` HOF with a
    * null-init first-element seed, DuckDB `list_reduce` over a
    * NULL-prepended list) — so every smoothed point is bit-identical.
    *
    * Scale shape: daily means come from exact integer (count, floor-cents)
    * aggregates; the per-row prefix fold is O(days²) per group but bounded
    * by CALENDAR DAYS (domain-bounded, documented); the unbounded-stream
    * sibling is the stream_rolling cadence state op. */
  def ewmaDaily(df: DataFrame, groupCol: String, tsCol: String,
                valueCol: String, alpha: Double = 0.25): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col(valueCol) * 100.0).cast("long")).as("syc"))
      .withColumn("x", col("syc").cast("double") / col("n").cast("double"))
    val cum = W.partitionBy(col("g")).orderBy(col("day"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val ew = daily
      .withColumn("xs", collect_list(col("x")).over(cum))
      .withColumn("ewma", aggregate(col("xs"), lit(null).cast("double"),
        (e, v) => when(e.isNull, v)
          .otherwise(lit(alpha) * v + lit(1.0 - alpha) * e)))
    ew.select(col("g").as(groupCol), col("day"), col("n"),
        round(col("x"), 4).as("day_mean"),
        round(col("ewma"), 4).as("ewma"))
      .orderBy(groupCol, "day")
  }

  /** DuckDB oracle for [[ewmaDaily]] — identical daily means, prefix
    * lists, and fold lambda. */
  def ewmaDailySql(table: String, groupExpr: String, tsExpr: String,
                   valueExpr: String, alpha: Double): String = {
    val beta = 1.0 - alpha
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      "CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CAST(floor($valueExpr * 100.0) AS BIGINT)) AS BIGINT) AS syc " +
      s"FROM $table GROUP BY g, day), " +
      "d2 AS (SELECT g, day, n, " +
      "CAST(syc AS DOUBLE) / CAST(n AS DOUBLE) AS x FROM daily), " +
      "pre AS (SELECT g, day, n, x, list(x) OVER (PARTITION BY g " +
      "ORDER BY day ROWS UNBOUNDED PRECEDING) AS xs FROM d2) " +
      s"SELECT g AS $groupExpr, strftime(day, '%Y-%m-%d') AS day, n, " +
      "round(x, 4) AS day_mean, " +
      "round(list_reduce(list_prepend(CAST(NULL AS DOUBLE), xs), " +
      s"(e, v) -> CASE WHEN e IS NULL THEN v ELSE ($alpha * v) + ($beta * e) END" +
      "), 4) AS ewma " +
      s"FROM pre ORDER BY $groupExpr, day"
  }

  /** DuckDB oracle for [[rollingZScore]] — identical daily collapse,
    * trailing ROWS frame and integer-moment z tree. */
  def rollingZScoreSql(table: String, groupExpr: String, tsExpr: String,
                       window: Int, minObs: Int, zThresh: Double): String = {
    val frame = s"ROWS BETWEEN $window PRECEDING AND 1 PRECEDING"
    val over = s"OVER (PARTITION BY g ORDER BY day $frame)"
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      s"m AS (SELECT g, day, c, count(c) $over AS n, " +
      s"sum(c) $over AS sx, sum(c * c) $over AS sxx FROM daily), " +
      "scored AS (SELECT g, day, c, n, " +
      "CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean, " +
      "CAST(n * sxx - sx * sx AS DOUBLE) AS var_num, " +
      "(CAST(c AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) / " +
      "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) / " +
      "(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) AS z FROM m) " +
      s"SELECT g AS $groupExpr, strftime(day, '%Y-%m-%d') AS day, c, " +
      s"CASE WHEN n >= $minObs THEN round(mean, 6) END AS trail_mean, " +
      s"CASE WHEN n >= $minObs AND var_num > 0 THEN round(z, 6) END AS z, " +
      s"coalesce(CASE WHEN n >= $minObs AND var_num > 0 THEN abs(z) > $zThresh END, " +
      s"false) AS is_anomaly " +
      s"FROM scored ORDER BY $groupExpr, day"
  }

  /** DuckDB oracle for [[bootstrapCi]] — identical hash draw, threshold
    * table, integer resample sums and rank-based bounds. */
  def bootstrapCiSql(table: String, idExpr: String, valueExpr: String,
                     b: Int, loRank: Int, hiRank: Int): String = {
    val P = graft.functions.TextFunctions.P
    val h = graft.functions.TextFunctions.charHashSql(
      s"('bs:' || CAST(r.b AS VARCHAR) || ':' || CAST($idExpr AS VARCHAR))")
    val u = s"((CAST($h AS DOUBLE) + 1.0) / ${(P + 1).toDouble})"
    val cases = poissonCdf1.zipWithIndex
      .map { case (t, i) => s"WHEN $u < $t THEN $i" }.mkString(" ")
    s"WITH r AS (SELECT unnest(range(0, $b)) AS b), " +
      s"rep AS (SELECT r.b, CAST($valueExpr AS BIGINT) AS v, " +
      s"CAST(CASE $cases ELSE ${poissonCdf1.size} END AS BIGINT) AS w " +
      s"FROM $table CROSS JOIN r), " +
      "means AS (SELECT b, CAST(sum(w * v) AS DOUBLE) / " +
      "CAST(greatest(sum(w), 1) AS DOUBLE) AS m FROM rep GROUP BY b), " +
      "ranked AS (SELECT b, m, " +
      "row_number() OVER (ORDER BY m, b) AS mr, " +
      "sum(m) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (ORDER BY b) AS rn, count(*) OVER () AS nc FROM means) " +
      "SELECT max(nc) AS n_resamples, " +
      "round(max(CASE WHEN rn = nc THEN cum END) / CAST(max(nc) AS DOUBLE), 6) AS mean_of_means, " +
      s"round(max(CASE WHEN mr = $loRank THEN m END), 6) AS ci_lo, " +
      s"round(max(CASE WHEN mr = $hiRank THEN m END), 6) AS ci_hi " +
      "FROM ranked"
  }

  /** Market-basket pair mining: for every unordered item pair co-occurring
    * in ≥ `minCo` baskets, exact co-occurrence count and lift
    * (`n·co / (n_a·n_b)` — how much more often the pair appears together
    * than independence predicts), top `k` by co-count. The association
    * signal behind "frequently bought together" and, in curation, behind
    * "these two tags/sources always co-fire" redundancy checks.
    *
    * Scale shape: the basket self-join fans out quadratically in BASKET
    * size, not corpus size — `maxBasket` drops oversize baskets first
    * (bot sessions / catch-all groups; a deliberate, documented exclusion
    * mirrored in the oracle, like the LSH bucket cap). Baskets dedup once
    * (one (basket, item) shuffle, reused co-partitioned by the size join
    * and both sides of the pair join); pair counts are map-side-combined
    * on the pair key; item marginals join on item keys; top-k is
    * TakeOrdered, never a full sort. All counts integer; lift's division
    * happens once per surviving pair, identically on both engines.
    *
    * Output: (item_a, item_b, n_co, n_a, n_b, lift), item_a < item_b. */
  def marketBasket(df: DataFrame, basketCol: String, itemCol: String,
                   minCo: Long = 2, maxBasket: Int = 100,
                   k: Int = 50): DataFrame = PB.scoped {
    require(maxBasket >= 2, "maxBasket must be >= 2")
    val items = df
      .select(col(basketCol).as("bk"), col(itemCol).cast("long").as("it"))
      .filter(col("bk").isNotNull && col("it").isNotNull).distinct()
      .transform(PB.localCheckpoint)
    val kept = items
      .join(items.groupBy("bk").agg(count(lit(1)).as("bs"))
        .filter(col("bs") <= maxBasket), Seq("bk"))
      .select(col("bk"), col("it"))
      .transform(PB.localCheckpoint)
    val nB = kept.select(col("bk")).distinct().agg(count(lit(1)).as("n_baskets"))
    val marg = kept.groupBy(col("it")).agg(count(lit(1)).as("n_it"))
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.bk") === col("y.bk") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("item_a"), col("y.it").as("item_b"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCo)
    pairs
      .join(marg.select(col("it").as("item_a"), col("n_it").as("n_a")), Seq("item_a"))
      .join(marg.select(col("it").as("item_b"), col("n_it").as("n_b")), Seq("item_b"))
      .crossJoin(broadcast(nB))
      .select(col("item_a"), col("item_b"), col("n_co"), col("n_a"), col("n_b"),
        round((col("n_baskets").cast("double") * col("n_co").cast("double")) /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6).as("lift"))
      .orderBy(col("n_co").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** DuckDB oracle for [[marketBasket]] — identical dedup, size cap,
    * pair/marginal counts and lift expression tree. `baskets` is a
    * `(SELECT … bk, … it FROM …)` subquery. */
  def marketBasketSql(baskets: String, minCo: Long, maxBasket: Int,
                      k: Int): String =
    s"WITH items AS (SELECT DISTINCT bk, CAST(it AS BIGINT) AS it FROM $baskets " +
      "WHERE bk IS NOT NULL AND it IS NOT NULL), " +
      "kept AS (SELECT items.bk, it FROM items JOIN " +
      "(SELECT bk, count(*) AS bs FROM items GROUP BY bk) s " +
      s"ON items.bk = s.bk WHERE s.bs <= $maxBasket), " +
      "nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_baskets FROM kept), " +
      "marg AS (SELECT it, CAST(count(*) AS BIGINT) AS n_it FROM kept GROUP BY it), " +
      "pairs AS (SELECT x.it AS item_a, y.it AS item_b, " +
      "CAST(count(*) AS BIGINT) AS n_co FROM kept x JOIN kept y " +
      "ON x.bk = y.bk AND x.it < y.it GROUP BY x.it, y.it " +
      s"HAVING count(*) >= $minCo) " +
      "SELECT item_a, item_b, n_co, a.n_it AS n_a, b.n_it AS n_b, " +
      "round((CAST(n_baskets AS DOUBLE) * CAST(n_co AS DOUBLE)) / " +
      "(CAST(a.n_it AS DOUBLE) * CAST(b.n_it AS DOUBLE)), 6) AS lift " +
      "FROM pairs JOIN marg a ON item_a = a.it JOIN marg b ON item_b = b.it " +
      "CROSS JOIN nb " +
      s"ORDER BY n_co DESC, item_a, item_b LIMIT $k"

  /** Welch's unequal-variance t statistic between two groups of an
    * INTEGER-valued metric — the parametric drift gate next to
    * [[ksDistance]]: KS asks "are the distributions different anywhere",
    * Welch asks the cheaper, more sensitive "did the MEAN move", without
    * KS's equal-variance assumption (sources legitimately differ in
    * spread). Integer-valued input is the hash-verification contract
    * (same stance as the z-score/skew gates): n, Σx, Σx² accumulate as
    * exact integers — partitioning-invariant — and the statistic is then
    * a fixed tree of IEEE ops on those exact inputs, so t and the
    * Welch–Satterthwaite df are bit-identical on both engines.
    *
    * Scale shape: ONE conditional aggregate over a single scan (map-side
    * partial, 1-row output) — no per-group shuffle at all. The integer
    * cross terms are exact to ~3·10⁹ rows per group at 6-digit values
    * (the documented decimal lift beyond, as with the skew gate).
    *
    * Output: one row (n_a, n_b, mean_a, mean_b, t_stat, df), rounded 6. */
  def welchT(df: DataFrame, groupCol: String, valueCol: String,
             groupA: String, groupB: String): DataFrame = {
    def side(g: String, tag: String) = {
      val v = when(col(groupCol) === g && col(valueCol).isNotNull,
        col(valueCol).cast("long"))
      Seq(count(v).as(s"n_$tag"), coalesce(sum(v), lit(0L)).as(s"s1_$tag"),
        coalesce(sum(v * v), lit(0L)).as(s"s2_$tag"))
    }
    val agg = side(groupA, "a") ++ side(groupB, "b")
    df.agg(agg.head, agg.tail: _*)
      .select(col("n_a"), col("n_b"),
        (col("s1_a").cast("double") / col("n_a").cast("double")).as("m_a"),
        (col("s1_b").cast("double") / col("n_b").cast("double")).as("m_b"),
        ((col("s2_a").cast("double") - col("s1_a").cast("double") *
          col("s1_a").cast("double") / col("n_a").cast("double")) /
          (col("n_a") - 1).cast("double")).as("v_a"),
        ((col("s2_b").cast("double") - col("s1_b").cast("double") *
          col("s1_b").cast("double") / col("n_b").cast("double")) /
          (col("n_b") - 1).cast("double")).as("v_b"))
      .select(col("n_a"), col("n_b"), col("m_a"), col("m_b"),
        (col("v_a") / col("n_a").cast("double")).as("se_a"),
        (col("v_b") / col("n_b").cast("double")).as("se_b"))
      .select(col("n_a"), col("n_b"),
        round(col("m_a"), 6).as("mean_a"), round(col("m_b"), 6).as("mean_b"),
        round((col("m_a") - col("m_b")) / sqrt(col("se_a") + col("se_b")), 6)
          .as("t_stat"),
        round((col("se_a") + col("se_b")) * (col("se_a") + col("se_b")) /
          (col("se_a") * col("se_a") / (col("n_a") - 1).cast("double") +
            col("se_b") * col("se_b") / (col("n_b") - 1).cast("double")), 6)
          .as("df"))
  }

  /** DuckDB oracle for [[welchT]] — identical conditional integer
    * moments and IEEE expression tree. */
  def welchTSql(table: String, groupExpr: String, valueExpr: String,
                groupA: String, groupB: String): String = {
    def side(g: String, tag: String) = {
      val v = s"CASE WHEN $groupExpr = '$g' AND $valueExpr IS NOT NULL " +
        s"THEN CAST($valueExpr AS BIGINT) END"
      s"CAST(count($v) AS BIGINT) AS n_$tag, " +
        s"coalesce(CAST(sum($v) AS BIGINT), 0) AS s1_$tag, " +
        s"coalesce(CAST(sum(($v) * ($v)) AS BIGINT), 0) AS s2_$tag"
    }
    s"WITH m AS (SELECT ${side(groupA, "a")}, ${side(groupB, "b")} FROM $table), " +
      "t1 AS (SELECT n_a, n_b, " +
      "CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS m_a, " +
      "CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS m_b, " +
      "(CAST(s2_a AS DOUBLE) - CAST(s1_a AS DOUBLE) * CAST(s1_a AS DOUBLE) / CAST(n_a AS DOUBLE)) / CAST(n_a - 1 AS DOUBLE) AS v_a, " +
      "(CAST(s2_b AS DOUBLE) - CAST(s1_b AS DOUBLE) * CAST(s1_b AS DOUBLE) / CAST(n_b AS DOUBLE)) / CAST(n_b - 1 AS DOUBLE) AS v_b " +
      "FROM m), " +
      "t2 AS (SELECT n_a, n_b, m_a, m_b, " +
      "v_a / CAST(n_a AS DOUBLE) AS se_a, v_b / CAST(n_b AS DOUBLE) AS se_b FROM t1) " +
      "SELECT n_a, n_b, round(m_a, 6) AS mean_a, round(m_b, 6) AS mean_b, " +
      "round((m_a - m_b) / sqrt(se_a + se_b), 6) AS t_stat, " +
      "round((se_a + se_b) * (se_a + se_b) / " +
      "(se_a * se_a / CAST(n_a - 1 AS DOUBLE) + se_b * se_b / CAST(n_b - 1 AS DOUBLE)), 6) AS df " +
      "FROM t2"
  }

  /** Gini coefficient of an integer mass across groups — the
    * concentration gate for corpus mix monitoring ("is 90% of the
    * training mass coming from 3 sources?"), the scalar summary next to
    * [[graft.queries.TextQueries]]'s q_mix_weights table. Uses the exact
    * rank formula `G = 2·Σ i·wᵢ / (n·Σw) − (n+1)/n` over weights sorted
    * ascending; equal weights make the rank assignment ambiguous but the
    * SUM invariant (swapping ranks of equal weights changes nothing), so
    * the result is deterministic without a tie-break contract.
    *
    * Scale shape: one map-side-combined groupBy on the group key (the
    * only corpus-sized shuffle); the rank window and final fold run on
    * the GROUP frame (domain-bounded — the equidepth-cuts stance on
    * single-task windows). All accumulation integer; one float division
    * tree at the end.
    *
    * Output: one row (n_groups, total_mass, gini), gini rounded 6. */
  def giniConcentration(df: DataFrame, groupCol: String,
                        weightCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val g = df.filter(col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g"))
      .agg(sum(col(weightCol).cast("long")).as("w"))
    g.withColumn("i", row_number().over(W.orderBy(col("w"), col("g"))))
      .agg(count(lit(1)).as("n_groups"), sum(col("w")).as("total_mass"),
        sum(col("i") * col("w")).as("iw"))
      .select(col("n_groups"), col("total_mass"),
        round(lit(2.0) * col("iw").cast("double") /
          (col("n_groups").cast("double") * col("total_mass").cast("double")) -
          (col("n_groups") + 1).cast("double") / col("n_groups").cast("double"),
          6).as("gini"))
  }

  /** DuckDB oracle for [[giniConcentration]] — identical group masses,
    * rank window and division tree. */
  def giniConcentrationSql(table: String, groupExpr: String,
                           weightExpr: String): String =
    s"WITH g AS (SELECT $groupExpr AS g, CAST(sum(CAST($weightExpr AS BIGINT)) AS BIGINT) AS w " +
      s"FROM $table WHERE $groupExpr IS NOT NULL GROUP BY g), " +
      "r AS (SELECT w, row_number() OVER (ORDER BY w, g) AS i FROM g), " +
      "s AS (SELECT CAST(count(*) AS BIGINT) AS n_groups, " +
      "CAST(sum(w) AS BIGINT) AS total_mass, CAST(sum(i * w) AS BIGINT) AS iw FROM r) " +
      "SELECT n_groups, total_mass, " +
      "round(2.0 * CAST(iw AS DOUBLE) / (CAST(n_groups AS DOUBLE) * CAST(total_mass AS DOUBLE)) " +
      "- CAST(n_groups + 1 AS DOUBLE) / CAST(n_groups AS DOUBLE), 6) AS gini " +
      "FROM s"

  /** UniMax mixing allocation (Chung et al. 2023): spread a token budget
    * of `budgetX` × the corpus UNIFORMLY across keys (languages/sources),
    * capped at `epochCap` epochs of each key's own mass — the
    * closed-form waterfill. Temperature sampling over-weights head
    * languages and over-epochs tail ones; UniMax's cap bounds repetition
    * per key and hands the freed budget back to keys that can absorb it.
    *
    * Waterfill: sort caps ascending; θ_r = (B − P_{r−1})/(S − r + 1) is
    * the uniform share if every key before r takes its full cap; the
    * FIRST r whose cap clears its θ_r fixes the water level θ (min_by on
    * r — later θ_r values are meaningless once the level is fixed), and
    * alloc = min(cap, θ). No candidate ⇔ B ≥ Σcap ⇔ every key caps out
    * (θ = +∞). All shares stay exact integers until the one double
    * division per row, so both engines walk the identical lattice.
    *
    * Scale shape: ONE map-side-combined corpus groupBy; every window
    * runs on the key frame (domain-bounded — the BoundedWindowSpec
    * contract); the 1-row water level broadcasts back. */
  def unimaxAllocation(df: DataFrame, keyCol: String, textCol: String,
                       epochCap: Int = 2, budgetX: Int = 2): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val g = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol).as("k"))
      .agg(sum(size(split(col(textCol), " ")).cast("long")).as("toks"))
      .withColumn("cap", col("toks") * lit(epochCap.toLong))
    val all = W.partitionBy(lit(1))
      .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    val w = W.orderBy("cap", "k")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    val ranked = g
      .withColumn("budget", sum(col("toks")).over(all) * lit(budgetX.toLong))
      .withColumn("s", count(lit(1)).over(all))
      .withColumn("r", row_number().over(w))
      .withColumn("pfx", sum(col("cap")).over(cum))
      .withColumn("theta_r",
        (col("budget") - (col("pfx") - col("cap"))).cast("double") /
          (col("s") - col("r") + lit(1L)).cast("double"))
    val pick = ranked.filter(col("cap").cast("double") >= col("theta_r"))
      .agg(min_by(col("theta_r"), col("r")).as("theta"))
    val alloc = least(col("cap").cast("double"), col("theta"))
    ranked.crossJoin(broadcast(pick))
      .withColumn("theta",
        coalesce(col("theta"), lit(Double.PositiveInfinity)))
      .select(col("k").as(keyCol), col("toks").as("n_tokens"),
        col("cap").as("cap_tokens"),
        round(alloc, 6).as("alloc_tokens"),
        round(alloc / col("toks").cast("double"), 6).as("epochs"))
      .orderBy(keyCol)
  }

  /** DuckDB oracle for [[unimaxAllocation]] — identical token counts,
    * cap lattice, θ_r tree, first-candidate pick, and divisions. */
  def unimaxAllocationSql(table: String, keyCol: String, textCol: String,
                          epochCap: Int, budgetX: Int): String =
    s"WITH g AS (SELECT $keyCol AS k, " +
      s"CAST(sum(len(string_split($textCol, ' '))) AS BIGINT) AS toks " +
      s"FROM $table WHERE $keyCol IS NOT NULL GROUP BY k), " +
      s"c AS (SELECT k, toks, toks * $epochCap AS cap FROM g), " +
      "r AS (SELECT k, toks, cap, " +
      s"CAST(sum(toks) OVER () AS BIGINT) * $budgetX AS budget, " +
      "CAST(count(*) OVER () AS BIGINT) AS s, " +
      "row_number() OVER (ORDER BY cap, k) AS r, " +
      "CAST(sum(cap) OVER (ORDER BY cap, k " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pfx " +
      "FROM c), " +
      "t AS (SELECT *, CAST(budget - (pfx - cap) AS DOUBLE) / " +
      "CAST(s - r + 1 AS DOUBLE) AS theta_r FROM r), " +
      "pick AS (SELECT coalesce(min_by(theta_r, r), " +
      "CAST('infinity' AS DOUBLE)) AS theta FROM t " +
      "WHERE CAST(cap AS DOUBLE) >= theta_r) " +
      s"SELECT k AS $keyCol, toks AS n_tokens, cap AS cap_tokens, " +
      "round(least(CAST(cap AS DOUBLE), theta), 6) AS alloc_tokens, " +
      "round(least(CAST(cap AS DOUBLE), theta) / CAST(toks AS DOUBLE), 6) AS epochs " +
      s"FROM t CROSS JOIN pick ORDER BY $keyCol"

  /** Benford first-digit audit (Newcomb 1881 / Benford 1938) — the
    * data-quality gate for measure columns: natural multi-scale
    * magnitudes follow P(d) = log10(1 + 1/d); fabricated, clipped or
    * unit-mixed feeds don't, and the chi² against that law per group
    * flags them without any labeled reference. The digit is extracted
    * EXACTLY: values quantize to integer cents (floor(v·100), one IEEE
    * multiply both engines) and the first digit reads off the decimal
    * string — no libm log in the hot path; the nine P(d) constants are
    * computed once in Scala and inlined as literals into BOTH plans, so
    * no engine's log10 enters the compare.
    *
    * Scale shape: one scan and one map-side-combined `groupBy(grp)`
    * holding nine conditional digit counts o1..o9 — the only shuffle, one
    * row per group. chi² is the left fold t1 + t2 + … + t9 of the terms
    * (o_d − n·p_d)² / (n·p_d) in digit order, the oracle's ordered window
    * fold (its running sum starts at 0.0 + t1 = t1, every term being
    * ≥ 0); an absent digit counts 0, as the oracle's dense grid does.
    *
    * Output: (grp, n_vals, chi2, d1_share) per group, chi2/d1_share
    * rounded 6, in no particular order. */
  def benfordAudit(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val digits = df.filter(col(valueCol) > 0 && col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        floor(col(valueCol) * 100.0).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .select(col("grp"),
        substring(col("cents").cast("string"), 1, 1).cast("long").as("d"))
    val ds = 1 to 9
    val obs = ds.map(d => count(when(col("d") === d.toLong, 1)).as(s"o$d"))
    val terms = ds.map { d =>
      val o = col(s"o$d").cast("double")
      val e = col("n_vals").cast("double") * lit(math.log10(1.0 + 1.0 / d))
      (o - e) * (o - e) / e
    }
    digits.groupBy("grp").agg(obs.head, obs.tail: _*)
      .withColumn("n_vals", ds.map(d => col(s"o$d")).reduce(_ + _))
      .select(col("grp"), col("n_vals"), round(terms.reduce(_ + _), 6).as("chi2"),
        round(col("o1").cast("double") / col("n_vals").cast("double"), 6)
          .as("d1_share"))
  }

  /** DuckDB oracle for [[benfordAudit]] — identical cent quantization,
    * string digit, inlined P(d) literals and ordered fold. */
  def benfordAuditSql(table: String, groupExpr: String,
                      valueExpr: String): String = {
    val pRows = (1 to 9).map(d =>
      s"(${d}, ${math.log10(1.0 + 1.0 / d)})").mkString(", ")
    s"WITH pgrid AS (SELECT * FROM (VALUES $pRows) AS t(d, p)), " +
      s"digits AS (SELECT $groupExpr AS grp, " +
      s"CAST(substr(CAST(CAST(floor($valueExpr * 100.0) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS d " +
      s"FROM $table WHERE $valueExpr > 0 AND $groupExpr IS NOT NULL " +
      s"AND CAST(floor($valueExpr * 100.0) AS BIGINT) > 0), " +
      "cells AS (SELECT grp, d, CAST(count(*) AS BIGINT) AS obs " +
      "FROM digits GROUP BY grp, d), " +
      "tot AS (SELECT grp, CAST(sum(obs) AS BIGINT) AS n_vals FROM cells GROUP BY grp), " +
      "grid AS (SELECT tot.grp, tot.n_vals, CAST(pgrid.d AS BIGINT) AS d, pgrid.p, " +
      "coalesce(cells.obs, 0) AS obs0 FROM tot CROSS JOIN pgrid " +
      "LEFT JOIN cells ON cells.grp = tot.grp AND cells.d = pgrid.d), " +
      "f AS (SELECT grp, n_vals, " +
      "sum((CAST(obs0 AS DOUBLE) - CAST(n_vals AS DOUBLE) * p) * " +
      "(CAST(obs0 AS DOUBLE) - CAST(n_vals AS DOUBLE) * p) / (CAST(n_vals AS DOUBLE) * p)) " +
      "OVER (PARTITION BY grp ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "max(CASE WHEN d = 1 THEN obs0 END) OVER (PARTITION BY grp) AS d1, " +
      "row_number() OVER (PARTITION BY grp ORDER BY d) AS rn FROM grid) " +
      "SELECT grp, n_vals, round(cum, 6) AS chi2, " +
      "round(CAST(d1 AS DOUBLE) / CAST(n_vals AS DOUBLE), 6) AS d1_share " +
      "FROM f WHERE rn = 9 ORDER BY grp"
  }

  /** Lorenz curve points per group — [[giniConcentration]]'s drill-down:
    * items sorted by weight ascending, the cumulative weight share at
    * each item-count decile boundary. This is the mix-design readout
    * behind "the top 10% of docs hold X% of the tokens": gini compresses
    * the whole curve to one number, these are the 10 points a capping
    * policy actually reads.
    *
    * Exactness: ranks and cumulative weights are integers; decile
    * boundaries are integer division ((r·10) div n — a row is a boundary
    * when its div value strictly exceeds the previous row's, so groups
    * with n < 10 emit the largest completed decile per row); ONE double
    * division per emitted point. Weights quantize by floor-then-cast on
    * BOTH engines (Spark's bare long cast truncates toward zero, DuckDB's
    * BIGINT cast rounds — floor first makes the integer w
    * engine-invariant for any non-negative weight).
    *
    * Scale shape (r12 — the r11 form ranked every item of a group in ONE
    * window task, ~corpus/|groups| rows on a low-cardinality key): items
    * collapse to the distinct-weight RUN frame (grp, w) → (count, mass)
    * in one map-side-combined shuffle — inside a run all items share w,
    * so the per-item cumulative weight at any rank is AFFINE in the rank
    * and the id tie-break of the per-item definition cancels exactly.
    * Run-frame cumulative counts/masses then run as the ksDistance
    * TWO-STAGE prefix scan (range-partition by (grp, w), per-partition
    * window cumsums, a (partition × group)-sized offsets frame whose own
    * per-group prefix window reads ≤ numPartitions rows, broadcast
    * back). Boundary ranks come from the group totals alone
    * (r_k = ceil(k·n/10), a 10-row broadcast grid), land in their
    * containing run by a broadcast range probe (cumn₀ < r ≤ cumn), and
    * read their cumulative weight off the run's affine form
    * (cumw₀ + (r − cumn₀)·w). No window anywhere reads more than a
    * partition-local slice of the run frame. Output ≤ 10 rows/group,
    * unsorted. */
  def lorenzCurve(df: DataFrame, groupCol: String, idCol: String,
                  weightCol: String, numPartitions: Int = 8): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val items = df.filter(col(groupCol).isNotNull && col(weightCol) >= 0)
      .select(col(groupCol).as("grp"),
        floor(col(weightCol).cast("double")).cast("long").as("w"))
    // run frame: one row per distinct (grp, w) — the only corpus-sized
    // shuffle, map-side combined
    val runs0 = items.groupBy("grp", "w")
      .agg(count(lit(1)).as("c"), sum(col("w")).as("ws"))
    // two-stage prefix scan over the run frame (the ksDistance pattern);
    // materialized once — local cumsums, offsets, and totals all read it
    val ranged = runs0.repartitionByRange(numPartitions, col("grp"), col("w"))
      .withColumn("_pid", spark_partition_id())
      .transform(PB.localCheckpoint)
    val wLoc = W.partitionBy(col("_pid"), col("grp")).orderBy(col("w"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val local = ranged
      .withColumn("ln", sum(col("c")).over(wLoc))
      .withColumn("lw", sum(col("ws")).over(wLoc))
    // per-(pid, grp) totals: ≤ numPartitions rows per group feed the
    // offset window — never the run frame itself
    val wPre = W.partitionBy(col("grp")).orderBy(col("_pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val prefix = ranged.groupBy(col("_pid"), col("grp"))
      .agg(sum(col("c")).as("pc"), sum(col("ws")).as("pw"))
      .withColumn("offn", coalesce(sum(col("pc")).over(wPre), lit(0L)))
      .withColumn("offw", coalesce(sum(col("pw")).over(wPre), lit(0L)))
      .select(col("_pid"), col("grp"), col("offn"), col("offw"))
    // no broadcast HINT on the cardinality-scaled frames (prefix is
    // numPartitions×|groups| rows, bounds 10×|groups|): a forced
    // broadcast caps the operator at Spark's 8 GB limit when groups are
    // high-cardinality — AQE converts to broadcast-hash at runtime
    // whenever the measured size is actually small
    val runs = local.join(prefix, Seq("_pid", "grp"))
      .select(col("grp"), col("w"), col("c"), col("ws"),
        (col("ln") + col("offn")).as("cumn"),
        (col("lw") + col("offw")).as("cumw"),
        (col("ln") + col("offn") - col("c")).as("cumn0"),
        (col("lw") + col("offw") - col("ws")).as("cumw0"))
    // boundary ranks from group totals × the 10-row decile grid:
    // r_k = ceil(k·n/10); n < 10 collapses several k onto one rank
    // (distinct), and the emitted decile is the largest completed one,
    // (r·10) div n — identical to the per-item jump-row definition
    val totals = items.groupBy("grp")
      .agg(count(lit(1)).as("n"), sum(col("w")).as("tot"))
    val kGrid = df.sparkSession.range(1, 11).select(col("id").as("kk"))
    val bounds = totals.crossJoin(broadcast(kGrid))
      .select(col("grp"), col("n"), col("tot"),
        expr("(kk * n + 9) div 10").as("r"))
      .distinct()
    runs.join(bounds, Seq("grp"))
      .filter(col("r") > col("cumn0") && col("r") <= col("cumn"))
      .select(col("grp"), expr("(r * 10) div n").cast("long").as("decile"),
        col("r").cast("long").as("cum_items"),
        round((col("cumw0") + (col("r") - col("cumn0")) * col("w"))
          .cast("double") / col("tot").cast("double"), 6).as("cum_share"))
  }

  /** DuckDB oracle for [[lorenzCurve]] — the single-window per-item
    * definition (rank every item, emit the jump rows), which the run-
    * frame derivation reproduces exactly: identical rank order, integer
    * boundary rule and division, floor-then-cast weight quantization. */
  def lorenzCurveSql(table: String, groupExpr: String, idExpr: String,
                     weightExpr: String): String =
    s"WITH rows0 AS (SELECT $groupExpr AS grp, $idExpr AS id, " +
      s"CAST(floor(CAST($weightExpr AS DOUBLE)) AS BIGINT) AS w FROM $table " +
      s"WHERE $groupExpr IS NOT NULL AND $weightExpr >= 0), " +
      "f AS (SELECT grp, " +
      "row_number() OVER (PARTITION BY grp ORDER BY w, id) AS r, " +
      "sum(w) OVER (PARTITION BY grp ORDER BY w, id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, " +
      "count(*) OVER (PARTITION BY grp) AS n, " +
      "sum(w) OVER (PARTITION BY grp) AS tot FROM rows0) " +
      "SELECT grp, (r * 10) // n AS decile, r AS cum_items, " +
      "round(CAST(cumw AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share " +
      "FROM f WHERE (r * 10) // n > ((r - 1) * 10) // n " +
      "ORDER BY grp, decile"

  /** Count-min sketch (Cormode & Muthukrishnan 2005) frequency estimates
    * with their exact companions: `depth` tagged rows of `width` counters,
    * estimate = min over rows of the landed counter — never an
    * underestimate, overestimates only on hash collisions. The
    * fixed-size-state answer to "how often does each key occur" when the
    * key domain is too large to count exactly; the exact join here is the
    * verification harness (the q_hll_distinct contract: approximate
    * operator + exact companion + pinned bound flag).
    *
    * Scale shape: keys aggregate ONCE (the only corpus-sized shuffle,
    * map-side combined); the sketch then builds FROM the vocab-sized count
    * frame — summing pre-aggregated counts into cells is algebraically
    * identical to streaming increments, and costs depth scans of VOCAB
    * rows, not corpus rows. The cell frame is depth×width rows regardless
    * of data volume (broadcast back for estimation); tagged [[
    * graft.functions.TextFunctions.charHash]] rows keep both engines on
    * the same buckets. All counts integer.
    *
    * Output: top `k` keys by exact count — (term, n_exact, n_cms,
    * exact_hit); `n_cms >= n_exact` always (spec-asserted). */
  /** ONE definition of the sketch geometry (tagged bucket hash + vocab
    * pre-aggregation) shared by the batch estimator and the streaming
    * cell fold — the two cannot drift. */
  private def cmBucket(d: Int, width: Int) =
    pmod(graft.functions.TextFunctions.charHash(
      concat(lit(s"cm$d:"), col("term"))), lit(width.toLong))

  private def cmExact(tokens: DataFrame, termCol: String): DataFrame =
    tokens.select(col(termCol).cast("string").as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("n_exact"))

  private def cmRows(exact: DataFrame, width: Int, depth: Int): DataFrame = {
    require(width >= 2, "width must be >= 2")
    require(depth >= 1 && depth <= 8, "depth must be in [1, 8]")
    (0 until depth).map(d =>
        exact.select(lit(d).as("d"), cmBucket(d, width).as("bucket"),
          col("term"), col("n_exact")))
      .reduce(_ unionByName _)
  }

  /** The (d, bucket, cnt) cell frame of [[countMin]]'s sketch — the
    * mergeable state object: sketches over disjoint corpora merge by
    * cell-wise ADDITION (what the streaming fold exploits). */
  def countMinCells(tokens: DataFrame, termCol: String, width: Int = 256,
                    depth: Int = 4): DataFrame =
    cmRows(cmExact(tokens, termCol), width, depth)
      .groupBy("d", "bucket").agg(sum("n_exact").as("cnt"))

  def countMin(tokens: DataFrame, termCol: String, width: Int = 256,
               depth: Int = 4, k: Int = 20): DataFrame = PB.scoped {
    val exact = cmExact(tokens, termCol)
      .transform(PB.localCheckpoint) // vocab-sized; feeds cells AND estimates
    val rows = cmRows(exact, width, depth)
    val cells = rows.groupBy("d", "bucket").agg(sum("n_exact").as("cnt"))
    rows.join(broadcast(cells), Seq("d", "bucket"))
      .groupBy("term", "n_exact").agg(min("cnt").as("n_cms"))
      .select(col("term"), col("n_exact"), col("n_cms"),
        (col("n_cms") === col("n_exact")).as("exact_hit"))
      .orderBy(col("n_exact").desc, col("term")).limit(k)
  }

  /** DuckDB oracle for [[countMin]] — identical tagged-hash cells built
    * from the same pre-aggregated vocab frame. `tokensSub` is a
    * `(SELECT … term FROM …)` subquery. */
  def countMinSql(tokensSub: String, width: Int, depth: Int, k: Int): String = {
    import graft.functions.TextFunctions.charHashSql
    def bucket(termExpr: String, dExpr: String) =
      s"(${charHashSql(s"('cm' || CAST($dExpr AS VARCHAR) || ':' || $termExpr)")} % $width)"
    s"WITH exact AS (SELECT term, CAST(count(*) AS BIGINT) AS n_exact " +
      s"FROM $tokensSub WHERE term IS NOT NULL GROUP BY term), " +
      s"ds AS (SELECT CAST(unnest(range(0, $depth)) AS BIGINT) AS d), " +
      "cells AS (SELECT d, " + bucket("term", "d") + " AS bucket, " +
      "CAST(sum(n_exact) AS BIGINT) AS cnt " +
      "FROM exact CROSS JOIN ds GROUP BY d, bucket) " +
      "SELECT term, n_exact, n_cms, (n_cms = n_exact) AS exact_hit FROM " +
      "(SELECT e.term, e.n_exact, min(c.cnt) AS n_cms " +
      "FROM exact e CROSS JOIN ds JOIN cells c ON c.d = ds.d " +
      "AND c.bucket = " + bucket("e.term", "ds.d") + " " +
      "GROUP BY e.term, e.n_exact) " +
      s"ORDER BY n_exact DESC, term LIMIT $k"
  }

  /** HyperLogLog REGISTERS at precision `p` (m = 2^p buckets): bucket =
    * top p bits of xxhash64(key), register = max over the bucket's keys
    * of ρ (1 + leading zeros of the remaining 64−p bits). ρ is computed
    * by the exact integer route `wBits + 1 − length(bin(w))` — no float
    * log anywhere — so registers are reproducible integers, and per-
    * bucket MAX is associative+commutative: registers over A∪B ==
    * register-wise max of the parts (the mergeable-sketch law the
    * streaming fold and any partial/shuffle plan rely on). Unlike
    * approx_count_distinct, the registers themselves are a first-class
    * frame: persistable, unionable across days/sources, and at most m
    * rows forever. Empty buckets are absent (estimator adds them back). */
  def hllRegisters(df: DataFrame, keyCol: String, p: Int = 9): DataFrame = {
    require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")
    val wBits = 64 - p
    val h = xxhash64(col(keyCol))
    val w = h.bitwiseAND(lit((1L << wBits) - 1L))
    val rho = when(w === 0L, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(w)))
    df.filter(col(keyCol).isNotNull)
      .select(shiftrightunsigned(h, wBits).as("bucket"), rho.cast("int").as("rho"))
      .groupBy("bucket").agg(max(col("rho")).as("r"))
  }

  /** One-row Flajolet et al. 2007 estimate from a register frame: raw =
    * α_m·m²/Σ2^(−r) (absent buckets contribute 2^0 each), linear counting
    * below 2.5m when empty buckets remain. */
  def hllEstimate(registers: DataFrame, p: Int): DataFrame = {
    val m = 1 << p
    val alpha =
      if (p == 4) 0.673 else if (p == 5) 0.697 else if (p == 6) 0.709
      else 0.7213 / (1.0 + 1.079 / m)
    registers
      .agg(count(lit(1)).as("n_buckets"),
        sum(pow(lit(2.0), -col("r"))).as("s"))
      .select(lit(m).as("m"), col("n_buckets"),
        (lit(m) - col("n_buckets")).as("zeros"),
        (lit(alpha * m.toDouble * m.toDouble) /
          (col("s") + (lit(m) - col("n_buckets")).cast("double"))).as("raw"))
      .select(col("m"), col("n_buckets"), col("zeros"),
        when(col("raw") <= 2.5 * m && col("zeros") > 0,
          lit(m.toDouble) * log(lit(m).cast("double") / col("zeros").cast("double")))
          .otherwise(col("raw")).as("est"))
  }

  /** KMV (k-minimum-values / bottom-k) distinct sketch per group: the k
    * smallest PORTABLE hash values of the key (Bar-Yossef et al. 2002).
    * The HLL sibling above needs a flag-style oracle because xxhash64 has
    * no DuckDB twin; KMV built on the portable polynomial hash is the
    * fully hash-verifiable member of the sketch family — the sketch frame
    * AND the estimate check bit-for-bit against the oracle's identical
    * arithmetic. Mergeable by construction: bottomK(A ∪ B) ==
    * bottomK(bottomK(A) ∪ bottomK(B)) (dedup-then-bottom-k is idempotent
    * and order-free), which is the law that lets per-day / per-source
    * sketch tables union without rescanning history ([[kmvSpec]] in
    * SketchSpec proves it on split halves).
    *
    * Scale shape: one map-side-combined distinct of (group, hv) 8-byte
    * pairs, then the salted two-stage bottom-k ([[TopK.perGroupTopK]]) —
    * no group ever funnels through a single window task. Output is at
    * most k rows per group forever.
    *
    * hv = (charHash(key) * KnuthA) % P — the multiplicative scramble
    * decorrelates the polynomial hash's low bits across similar strings;
    * every intermediate stays < 2^63 (P ~ 1e9, KnuthA ~ 2.6e9). */
  def kmvSketch(df: DataFrame, groupCol: String, keyCol: String,
                k: Int = 64): DataFrame = {
    import graft.functions.TextFunctions.{charHash, P}
    val hv = (charHash(col(keyCol)) * lit(KmvScramble)) % lit(P)
    val distinctHv = df.filter(col(keyCol).isNotNull)
      .select(col(groupCol), hv.as("hv"))
      .groupBy(col(groupCol), col("hv")).agg(lit(1))
      .select(col(groupCol), col("hv"))
    TopK.perGroupTopK(distinctHv, Seq(col(groupCol)), Seq(col("hv")),
      k, salt = col("hv"))
  }

  /** Knuth's multiplicative constant (2654435761 = 2^32 * golden ratio). */
  val KmvScramble: Long = 2654435761L

  /** DuckDB twin of [[kmvSketch]]: identical hash, identical bottom-k.
    * `keyExpr` is a SQL expression over `table`'s columns. */
  def kmvSketchSql(table: String, groupExpr: String, keyExpr: String,
                   k: Int = 64): String = {
    import graft.functions.TextFunctions.{charHashSql, P}
    s"SELECT grp, hv, rn FROM (" +
      s"SELECT grp, hv, CAST(row_number() OVER " +
      "(PARTITION BY grp ORDER BY hv) AS INTEGER) AS rn FROM (" +
      s"SELECT DISTINCT $groupExpr AS grp, " +
      s"((${charHashSql(keyExpr)}) * $KmvScramble) % $P AS hv " +
      s"FROM $table WHERE $keyExpr IS NOT NULL) h) r WHERE rn <= $k"
  }

  /** KMV estimator per group: when the sketch holds fewer than k values
    * the count is EXACT (every distinct hash was kept); otherwise the
    * classic (k−1)·P/h_k with h_k the k-th smallest hash. One fixed
    * arithmetic tree — exact integer products cast to double, a single
    * division — so the estimate itself hash-verifies cross-engine. */
  def kmvEstimate(sketch: DataFrame, groupCol: String,
                  k: Int = 64): DataFrame = {
    import graft.functions.TextFunctions.P
    sketch.groupBy(col(groupCol))
      .agg(count(lit(1)).cast("int").as("k_eff"), max(col("hv")).as("h_k"))
      .select(col(groupCol), col("k_eff"), col("h_k"),
        round(
          when(col("k_eff") < k, col("k_eff").cast("double"))
            .otherwise(lit((k - 1).toLong * P).cast("double") /
              col("h_k").cast("double")), 6).as("est"))
  }

  /** Day-of-week seasonal profile + multiplicative anomaly flags: each
    * (group, day)'s count is compared to that group's mean count for the
    * SAME weekday — the baseline that stops every Saturday from looking
    * like an incident (a flat mean flags all weekends; q_cusum finds
    * level shifts, this finds seasonal outliers). Days with zero events
    * are absent from the sparse calendar (densify with tsResample first
    * if needed — documented).
    *
    * Portability: the weekday comes from an all-integer epoch-day route
    * (((day − origin) % 7 + 7) % 7) — Spark's dayofweek is 1=Sunday,
    * DuckDB's 0=Sunday, so neither engine's builtin is used. Expected and
    * ratio are fixed double trees over exact integers; n_days ≤ 53 means
    * expected's decimal expansion can't reach the 7th decimal, so the
    * round(6) face has no boundary to disagree on.
    *
    * Scale shape: the daily collapse is the only data-sized shuffle; the
    * (group × 7)-row profile broadcasts back. */
  def seasonalDow(df: DataFrame, groupCol: String, tsCol: String,
                  loRatio: Double = 0.5, hiRatio: Double = 2.0): DataFrame = {
    val daily = df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
      .withColumn("dow",
        ((datediff(col("day"), lit("2024-01-01").cast("date")) % 7) + 7) % 7)
    val prof = daily.groupBy(col("g"), col("dow"))
      .agg(sum(col("c")).as("tot"), count(lit(1)).as("n_days"))
    val expected = col("tot").cast("double") / col("n_days").cast("double")
    val ratio = col("c").cast("double") / expected
    daily.join(broadcast(prof), Seq("g", "dow"))
      .select(col("g").as(groupCol), col("day"), col("dow"), col("c"),
        round(expected, 6).as("expected"),
        round(ratio, 6).as("ratio"),
        (ratio < loRatio || ratio > hiRatio).as("is_anomaly"))
      .orderBy(groupCol, "day")
  }

  /** DuckDB oracle for [[seasonalDow]] — identical integer dow route and
    * double trees. */
  def seasonalDowSql(table: String, groupExpr: String, tsExpr: String,
                     loRatio: Double = 0.5, hiRatio: Double = 2.0): String = {
    val expected = "(CAST(tot AS DOUBLE) / CAST(n_days AS DOUBLE))"
    val ratio = s"(CAST(c AS DOUBLE) / $expected)"
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      "d2 AS (SELECT g, day, c, " +
      "CAST(((datediff('day', DATE '2024-01-01', day) % 7) + 7) % 7 " +
      "AS INTEGER) AS dow FROM daily), " +
      "prof AS (SELECT g, dow, CAST(sum(c) AS BIGINT) AS tot, " +
      "CAST(count(*) AS BIGINT) AS n_days FROM d2 GROUP BY g, dow) " +
      s"SELECT g AS $groupExpr, day, dow, c, " +
      s"round($expected, 6) AS expected, round($ratio, 6) AS ratio, " +
      s"($ratio < $loRatio OR $ratio > $hiRatio) AS is_anomaly " +
      s"FROM d2 JOIN prof USING (g, dow) ORDER BY $groupExpr, day"
  }

  /** Per-group rank calibration: map each row's score to its within-group
    * cumulative fraction cd = |score' <= score| / n (cume_dist with
    * max-tie semantics), then keep the top `keepFrac` — the standard move
    * before GLOBALLY thresholding quality scores that sit on different
    * scales per source (a length-ish score from a web crawl is not
    * comparable to one from a books corpus; percentiles are).
    *
    * Scale shape: a naive `cume_dist() over (partition by source order by
    * score)` funnels every row of a source through ONE window task. This
    * runs the cumsum over the (group, DISTINCT score) grid instead —
    * domain-bounded, like the resample/histogram folds — and joins the
    * grid back onto the narrow doc scan: rows never enter a window.
    * The division happens once per row as a fixed double tree, so the
    * keep boundary is bit-identical cross-engine. */
  def rankCalibrate(df: DataFrame, groupCol: String, scoreCol: String,
                    idCol: String, keepFrac: Double = 0.2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grid = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val cum = grid.withColumn("cum", sum(col("c")).over(w)).drop("c")
    val tot = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
    val pct = col("cum").cast("double") / col("n").cast("double")
    df.select(col(idCol), col(groupCol), col(scoreCol))
      .join(broadcast(cum), Seq(groupCol, scoreCol))
      .join(broadcast(tot), Seq(groupCol))
      .filter(pct >= lit(1.0) - lit(keepFrac))
      .select(col(idCol), col(groupCol), col(scoreCol).as("score"),
        round(pct, 6).as("pct"))
  }

  /** DuckDB oracle for [[rankCalibrate]]: identical grid cumsum and
    * double boundary. `scoreExpr` must be a bare column name. */
  def rankCalibrateSql(table: String, groupExpr: String, scoreExpr: String,
                       idExpr: String, keepFrac: Double = 0.2): String =
    s"WITH grid AS (SELECT $groupExpr AS g, $scoreExpr AS s, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, s), " +
      "cum AS (SELECT g, s, CAST(sum(c) OVER " +
      "(PARTITION BY g ORDER BY s) AS BIGINT) AS cum FROM grid), " +
      s"tot AS (SELECT $groupExpr AS g, CAST(count(*) AS BIGINT) AS n " +
      s"FROM $table GROUP BY g) " +
      s"SELECT d.$idExpr, d.$groupExpr, d.$scoreExpr AS score, " +
      "round(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pct " +
      s"FROM $table d JOIN cum ON d.$groupExpr = cum.g AND " +
      s"d.$scoreExpr = cum.s JOIN tot ON d.$groupExpr = tot.g " +
      "WHERE CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) >= " +
      s"(1.0 - $keepFrac)"

  /** DuckDB twin of [[kmvEstimate]] over [[kmvSketchSql]]'s output. */
  def kmvEstimateSql(sketchSub: String, k: Int = 64): String = {
    import graft.functions.TextFunctions.P
    s"SELECT grp, k_eff, h_k, round(CASE WHEN k_eff < $k " +
      "THEN CAST(k_eff AS DOUBLE) " +
      s"ELSE CAST(${(k - 1).toLong * P} AS DOUBLE) / CAST(h_k AS DOUBLE) END, 6) " +
      s"AS est FROM (SELECT grp, CAST(count(*) AS INTEGER) AS k_eff, " +
      s"max(hv) AS h_k FROM ($sketchSub) s GROUP BY grp) g"
  }

  /** Simpson diversity of a categorical column: `D = 1 − Σ pᵢ²` plus
    * the EFFECTIVE category count `1/Σ pᵢ²` (Hill number of order 2) —
    * the interpretable companion to q_gini_sources: "the mix behaves
    * like N_eff equally-sized sources". N_eff ≪ the nominal source
    * count is the one-line case for re-weighting (q_mix_weights).
    *
    * Exactness: `Σ nᵢ²` accumulates in DECIMAL(38,0) (squares of
    * 100 TB-scale counts overflow BIGINT), then ONE double tree:
    * `D = 1 − Σn²/n²`, `N_eff = n²/Σn²` ⇒ hash-verified. One
    * map-side-combined groupBy; everything after is category-frame. */
  def simpsonDiversity(df: DataFrame, groupCol: String): DataFrame = {
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("ni"))
      .agg(count(lit(1)).as("n_categories"),
        sum(col("ni")).as("n"), sum(dec(col("ni")) * dec(col("ni"))).as("s2"))
      .select(col("n_categories"), col("n"),
        round(lit(1.0) - col("s2").cast("double") /
          (col("n").cast("double") * col("n").cast("double")), 6)
          .as("simpson"),
        round((col("n").cast("double") * col("n").cast("double")) /
          col("s2").cast("double"), 6).as("n_effective"))
  }

  /** DuckDB oracle for [[simpsonDiversity]] — identical HUGEINT moments
    * and trees. */
  def simpsonDiversitySql(table: String, groupExpr: String): String =
    s"WITH c AS (SELECT $groupExpr AS g, CAST(count(*) AS BIGINT) AS ni " +
      s"FROM $table GROUP BY g), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n_categories, " +
      "CAST(sum(ni) AS BIGINT) AS n, " +
      "sum(CAST(ni AS HUGEINT) * ni) AS s2 FROM c) " +
      "SELECT n_categories, n, " +
      "round(1.0 - CAST(s2 AS DOUBLE) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) " +
      "AS simpson, " +
      "round((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / CAST(s2 AS DOUBLE), 6) " +
      "AS n_effective FROM m"

  /** Wilson score interval (Wilson 1927) for a per-group boolean rate —
    * the honest way to read "92% of src7 passes the quality gate" when
    * src7 has 12 documents: the interval says [64%, 98%] and the
    * downstream threshold decision should use the LOWER bound, not the
    * point rate (the small-sample trap a plain k/n hides). z = 1.96
    * (95%) as an exact literal.
    *
    * Exactness: k and n are exact integers; the closed form
    * `(p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)` is one fixed
    * double tree per bound (√ is IEEE-exact, unlike ln/pow) ⇒
    * hash-verified. One map-side-combined groupBy; group-frame output. */
  def wilsonInterval(df: DataFrame, groupCol: String, flagCol: String,
                     z: Double = 1.96): DataFrame = {
    val nD = col("n").cast("double")
    val p = col("k").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    df.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(flagCol), 1L).otherwise(0L)).as("k"))
      .select(col("g").as(groupCol), col("n"), col("k"),
        round(p, 6).as("rate"),
        round((center - margin) / denom, 6).as("ci_lo"),
        round((center + margin) / denom, 6).as("ci_hi"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[wilsonInterval]] — identical counts and double
    * trees. `flagExpr` must be a boolean SQL expression. */
  def wilsonIntervalSql(table: String, groupExpr: String, flagExpr: String,
                        z: Double = 1.96): String = {
    val z2 = z * z
    val p = "(CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
    val nD = "CAST(n AS DOUBLE)"
    val denom = s"(1.0 + $z2 / $nD)"
    val center = s"($p + $z2 / (2.0 * $nD))"
    val margin = s"($z * sqrt($p * (1.0 - $p) / $nD + $z2 / (4.0 * $nD * $nD)))"
    s"WITH m AS (SELECT $groupExpr AS g, CAST(count(*) AS BIGINT) AS n, " +
      s"CAST(sum(CASE WHEN $flagExpr THEN 1 ELSE 0 END) AS BIGINT) AS k " +
      s"FROM $table GROUP BY g) " +
      s"SELECT g AS $groupExpr, n, k, round($p, 6) AS rate, " +
      s"round(($center - $margin) / $denom, 6) AS ci_lo, " +
      s"round(($center + $margin) / $denom, 6) AS ci_hi " +
      s"FROM m ORDER BY g"
  }

  /** Confusion matrix of a predicted label column against the declared
    * truth — the self-audit shape for any classifier-style operator
    * (q_lang_id's predictions vs the documents' declared lang): per
    * (truth, predicted) cell count + within-truth recall fraction.
    * One map-side-combined groupBy; the recall window runs on the
    * label×label CELL frame (domain-bounded). */
  def confusionMatrix(df: DataFrame, trueCol: String,
                      predCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    df.groupBy(col(trueCol).as("truth"), col(predCol).as("predicted"))
      .agg(count(lit(1)).as("n"))
      .withColumn("recall_pct", round(
        col("n").cast("double") /
          sum(col("n")).over(W.partitionBy("truth")).cast("double"), 6))
      .select(col("truth"), col("predicted"), col("n"), col("recall_pct"))
      .orderBy("truth", "predicted")
  }

  /** DuckDB oracle for [[confusionMatrix]] over a subquery yielding
    * (truth, predicted). */
  def confusionMatrixSql(sub: String): String =
    s"WITH cells AS (SELECT truth, predicted, CAST(count(*) AS BIGINT) AS n " +
      s"FROM ($sub) s GROUP BY truth, predicted) " +
      "SELECT truth, predicted, n, " +
      "round(CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY truth) AS DOUBLE), 6) " +
      "AS recall_pct FROM cells ORDER BY truth, predicted"

  /** Hill tail-index estimator (Hill 1975) over the top-k order
    * statistics of `valueCol` per group: `ξ = (1/k)·Σ ln(x_i/x_ref)`
    * with `x_ref` the (k+1)-th largest, `α = 1/ξ` — the quantitative
    * heavy-tail gauge behind q_zipf_fit's rank-frequency picture
    * (α ≈ 1-2 ⇒ extreme concentration: plan for skew; α large ⇒ tails
    * are tame). Requires positive values (non-positive rows are
    * filtered; at most top-k survive anyway for positive-valued data).
    *
    * Scale shape: the top-(k+1) extraction is the salted two-stage
    * [[TopK.perGroupTopK]] — no single-task global window; everything
    * after runs on (k+1)·|groups| rows. Fold: rank-ordered cumsum (the
    * portable pattern); ln per term (unigramNll precedent); ties in
    * value cannot change the estimator (equal values contribute equal
    * terms regardless of which is selected). */
  def hillTail(df: DataFrame, groupCol: String, valueCol: String,
               k: Int = 50): DataFrame = {
    require(k >= 2, "hillTail needs k >= 2")
    val W = org.apache.spark.sql.expressions.Window
    val top = TopK.perGroupTopK(
      df.filter(col(valueCol) > 0.0)
        .select(col(groupCol).as("g"), col(valueCol).cast("double").as("x")),
      Seq(col("g")), Seq(col("x").desc), k + 1,
      salt = col("x").cast("long"))
    val ref = top.filter(col("rn") === k + 1)
      .select(col("g"), col("x").as("x_ref"))
    val w = W.partitionBy("g").orderBy("rn")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    top.filter(col("rn") <= k)
      .join(ref, Seq("g")) // inner: groups with < k+1 positive rows drop
      .withColumn("t", log(col("x") / col("x_ref")))
      .withColumn("s", sum(col("t")).over(cum))
      .withColumn("nc", count(lit(1)).over(W.partitionBy("g")))
      .filter(col("rn") === col("nc"))
      .withColumn("xi", round(col("s") / lit(k.toDouble), 6))
      .select(col("g").as(groupCol), lit(k.toLong).as("k"),
        round(col("x_ref"), 6).as("x_ref"), col("xi"),
        when(col("xi") > 0.0, round(lit(1.0) / (col("s") / lit(k.toDouble)), 6))
          .as("alpha"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[hillTail]] — identical selection (plain
    * per-group rank — oracle need not be scale-shaped), ordered fold and
    * trees. */
  def hillTailSql(table: String, groupExpr: String, valueExpr: String,
                  k: Int = 50): String =
    s"WITH pos AS (SELECT $groupExpr AS g, CAST($valueExpr AS DOUBLE) AS x " +
      s"FROM $table WHERE $valueExpr > 0.0), " +
      "r AS (SELECT g, x, row_number() OVER (PARTITION BY g ORDER BY x DESC) AS rn " +
      "FROM pos), " +
      s"ref AS (SELECT g, x AS x_ref FROM r WHERE rn = ${k + 1}), " +
      s"f AS (SELECT r.g, rn, ln(x / x_ref) AS t, x_ref FROM r " +
      s"JOIN ref ON r.g = ref.g WHERE rn <= $k), " +
      "c AS (SELECT g, x_ref, " +
      "sum(t) OVER (PARTITION BY g ORDER BY rn " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s, " +
      "row_number() OVER (PARTITION BY g ORDER BY rn) AS rn2, " +
      "count(*) OVER (PARTITION BY g) AS nc FROM f) " +
      s"SELECT g AS $groupExpr, CAST($k AS BIGINT) AS k, " +
      s"round(x_ref, 6) AS x_ref, round(s / ${k.toDouble}, 6) AS xi, " +
      s"CASE WHEN round(s / ${k.toDouble}, 6) > 0.0 " +
      s"THEN round(1.0 / (s / ${k.toDouble}), 6) END AS alpha " +
      s"FROM c WHERE rn2 = nc ORDER BY g"

  /** SAX — Symbolic Aggregate approXimation (Lin et al. 2003) of the
    * daily count series per group: z-normalize, average over fixed
    * `segDays`-day segments (PAA), then map each segment mean to a
    * 4-letter alphabet at the published N(0,1) quartile breakpoints
    * (±0.6745, 0) — the series becomes a short WORD ("dcba…" = decaying
    * burst) that downstream equality/similarity machinery (exact dedup,
    * edit distance, n-gram ops) can chew on. The discretization that
    * turns time-series motif mining into string processing.
    *
    * Exactness: mean/std come from exact integer moments in one fixed
    * tree (`z_i = (n·c_i − sx)/√(n·sxx − sx²)` — no running float
    * mean); per-segment PAA is an ordered cumsum within (group,
    * segment); symbols compare the ROUNDED mean against exact binary
    * literals. Constant-count groups (std 0) emit the all-'c' word on
    * both engines by the same guarded tree.
    *
    * Scale shape: one map-side-combined daily collapse (the only
    * data-sized shuffle); everything after is calendar-bounded. */
  def saxWords(df: DataFrame, groupCol: String, tsCol: String,
               segDays: Int = 4): DataFrame = {
    require(segDays >= 1, "segDays must be >= 1")
    val W = org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    // Squared moments in DECIMAL(38,0): squares of 100 TB-scale daily
    // counts overflow BIGINT (repo convention, as in simpsonDiversity).
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val mom = daily.groupBy("g").agg(count(lit(1)).as("n"),
      sum(col("c")).as("sx"), sum(dec(col("c")) * dec(col("c"))).as("sxx"))
    val wd = W.partitionBy("g").orderBy("day")
    val seg = daily.join(broadcast(mom), Seq("g"))
      .withColumn("rn", row_number().over(wd))
      .withColumn("seg", expr(s"CAST((rn - 1) div $segDays AS BIGINT)"))
      .withColumn("den",
        sqrt((dec(col("n")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("double")))
      .withColumn("z", when(col("den") > 0.0,
        (col("n") * col("c") - col("sx")).cast("double") / col("den"))
        .otherwise(lit(0.0)))
    val ws = W.partitionBy("g", "seg").orderBy("day")
    val cums = ws.rowsBetween(W.unboundedPreceding, W.currentRow)
    val paa = seg
      .withColumn("cz", sum(col("z")).over(cums))
      .withColumn("srn", row_number().over(ws))
      .withColumn("sn", count(lit(1)).over(W.partitionBy("g", "seg")))
      .filter(col("srn") === col("sn"))
      .withColumn("paa", round(col("cz") / col("sn").cast("double"), 6))
      .withColumn("sym",
        when(col("paa") < -0.6745, lit("a"))
          .when(col("paa") < 0.0, lit("b"))
          .when(col("paa") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    paa.groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n_segs"),
        array_join(expr("transform(array_sort(collect_list(struct(seg, sym))), x -> x.sym)"),
          "").as("sax_word"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[saxWords]] — identical moments, segment folds,
    * breakpoints and word assembly. */
  def saxWordsSql(table: String, groupExpr: String, tsExpr: String,
                  segDays: Int = 4): String =
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      "mom AS (SELECT g, CAST(count(*) AS BIGINT) AS n, " +
      "CAST(sum(c) AS BIGINT) AS sx, sum(CAST(c AS HUGEINT) * c) AS sxx " +
      "FROM daily GROUP BY g), " +
      "segd AS (SELECT daily.g, day, c, n, sx, sxx, " +
      s"CAST((row_number() OVER (PARTITION BY daily.g ORDER BY day) - 1) // $segDays AS BIGINT) AS seg, " +
      "sqrt(CAST(CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE)) AS den " +
      "FROM daily JOIN mom ON daily.g = mom.g), " +
      "z AS (SELECT g, day, seg, CASE WHEN den > 0.0 " +
      "THEN CAST(n * c - sx AS DOUBLE) / den ELSE 0.0 END AS z FROM segd), " +
      "paa AS (SELECT g, seg, round(cz / CAST(sn AS DOUBLE), 6) AS paa FROM " +
      "(SELECT g, seg, " +
      "sum(z) OVER (PARTITION BY g, seg ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cz, " +
      "row_number() OVER (PARTITION BY g, seg ORDER BY day) AS srn, " +
      "count(*) OVER (PARTITION BY g, seg) AS sn FROM z) t WHERE srn = sn), " +
      "sym AS (SELECT g, seg, CASE WHEN paa < -0.6745 THEN 'a' " +
      "WHEN paa < 0.0 THEN 'b' WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS s " +
      "FROM paa) " +
      s"SELECT g AS $groupExpr, CAST(count(*) AS BIGINT) AS n_segs, " +
      "string_agg(s, '' ORDER BY seg) AS sax_word FROM sym GROUP BY g ORDER BY g"

  /** Burstiness (Fano factor / index of dispersion) of the daily count
    * series per group: `var/mean` — 1 for Poisson arrivals, ≫1 for
    * bursty traffic (the one-number answer to "is this source steady or
    * spiky", next to q_cusum's WHERE and q_seasonal's WHICH-day).
    * Exact integer moments, one fixed double tree
    * (`(n·sxx − sx²)/(n·sx)`), round 6 ⇒ hash-verified; one map-side-
    * combined daily collapse, group-frame output. */
  def burstiness(df: DataFrame, groupCol: String, tsCol: String,
                 threshold: Double = 1.5): DataFrame = {
    // DECIMAL(38,0) squared moments (repo convention — BIGINT wraps on
    // squares of 100 TB-scale counts while DuckDB errors, so engine and
    // oracle would diverge).
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_days"),
        sum(col("c")).as("sx"), sum(dec(col("c")) * dec(col("c"))).as("sxx"))
      .withColumn("mean_daily",
        round(col("sx").cast("double") / col("n_days").cast("double"), 6))
      .withColumn("fano", round(
        (dec(col("n_days")) * col("sxx") - dec(col("sx")) * dec(col("sx")))
          .cast("double") /
          (dec(col("n_days")) * dec(col("sx"))).cast("double"), 6))
      .select(col("g").as(groupCol), col("n_days"), col("mean_daily"),
        col("fano"), (col("fano") > threshold).as("is_bursty"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[burstiness]] — identical moments and tree. */
  def burstinessSql(table: String, groupExpr: String, tsExpr: String,
                    threshold: Double = 1.5): String =
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      "m AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days, " +
      "CAST(sum(c) AS BIGINT) AS sx, sum(CAST(c AS HUGEINT) * c) AS sxx " +
      "FROM daily GROUP BY g) " +
      s"SELECT g AS $groupExpr, n_days, " +
      "round(CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE), 6) AS mean_daily, " +
      "round(CAST(CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) / " +
      "CAST(CAST(n_days AS HUGEINT) * sx AS DOUBLE), 6) AS fano, " +
      "(round(CAST(CAST(n_days AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS DOUBLE) / " +
      s"CAST(CAST(n_days AS HUGEINT) * sx AS DOUBLE), 6) > $threshold) AS is_bursty " +
      "FROM m ORDER BY g"

  /** HBOS — Histogram-Based Outlier Score (Goldstein & Dengel 2012):
    * per event, `Σ_f ln(n / count_f(bucket_f(x)))` over independent
    * per-feature histograms (value decade, hour-of-day, day-of-week) —
    * the linear-time multivariate outlier detector next to
    * q_mad_outliers' single-column robust z. A rare bucket in ANY
    * feature lifts the score; the feature independence assumption is
    * the documented trade (HBOS's own).
    *
    * Exactness: bucket counts are exact integers; the score is a FIXED
    * tree of three ln(n/c) terms (no fold — arity is the feature count),
    * rounded to 6 — the unigramNll ln-portability precedent. The
    * threshold is a declared constant, not a data-dependent quantile
    * (compose with q_quantiles_approx to calibrate one).
    *
    * Scale shape: three DOMAIN-bounded histogram aggregates off one
    * scan, broadcast back onto the narrow event scan — scoring costs a
    * filter; no corpus shuffle at all. */
  def hbosOutliers(df: DataFrame, idCol: String, tsCol: String,
                   valueCol: String, threshold: Double = 18.0): DataFrame =
    hbosScore(df, hbosHistograms(df, tsCol, valueCol), idCol, tsCol,
      valueCol, threshold)

  /** Reference histograms for HBOS scoring — built once from a TRAINING
    * frame so a stream (or a later batch) can be scored against a FIXED
    * density model ([[graft.streaming.EventStreams]].hbosGate). All four
    * frames are domain-bounded. */
  def hbosHistograms(reference: DataFrame, tsCol: String,
                     valueCol: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val feats = hbosFeats(reference, tsCol, valueCol, "_rid")
    (feats.groupBy("f_val").agg(count(lit(1)).as("c_val")),
      feats.groupBy("f_hour").agg(count(lit(1)).as("c_hour")),
      feats.groupBy("f_dow").agg(count(lit(1)).as("c_dow")),
      feats.agg(count(lit(1)).as("n")))
  }

  /** ONE scoring definition for batch and stream: feature buckets joined
    * against the (broadcast) reference histograms, fixed 3-term ln tree.
    * Buckets unseen in the reference clamp to count 1 — maximum surprise
    * `ln(n)` per feature — which coincides with the batch self-scoring
    * case (a bucket present in the data always has count ≥ 1). */
  def hbosScore(df: DataFrame,
                hists: (DataFrame, DataFrame, DataFrame, DataFrame),
                idCol: String, tsCol: String, valueCol: String,
                threshold: Double): DataFrame = {
    val (hv, hh, hd, n) = hists
    val nd = col("n").cast("double")
    hbosFeats(df, tsCol, valueCol, idCol)
      .join(broadcast(hv), Seq("f_val"), "left")
      .join(broadcast(hh), Seq("f_hour"), "left")
      .join(broadcast(hd), Seq("f_dow"), "left")
      .crossJoin(broadcast(n))
      .withColumn("score", round(
        log(nd / greatest(coalesce(col("c_val"), lit(0L)), lit(1L)).cast("double")) +
          log(nd / greatest(coalesce(col("c_hour"), lit(0L)), lit(1L)).cast("double")) +
          log(nd / greatest(coalesce(col("c_dow"), lit(0L)), lit(1L)).cast("double")), 6))
      .select(col("id").as(idCol), col("score"),
        (col("score") > threshold).as("is_outlier"))
  }

  private def hbosFeats(df: DataFrame, tsCol: String, valueCol: String,
                        idCol: String): DataFrame = {
    val id = if (df.schema.fieldNames.contains(idCol)) col(idCol)
      else lit(0L)
    df.select(id.as("id"),
      floor(col(valueCol) / 10.0).cast("long").as("f_val"),
      hour(col(tsCol)).cast("long").as("f_hour"),
      (((datediff(to_date(col(tsCol)), lit("2024-01-01").cast("date")) % 7) + 7) % 7)
        .cast("long").as("f_dow"))
  }

  /** DuckDB oracle for [[hbosOutliers]] — identical buckets, counts and
    * ln tree. */
  def hbosOutliersSql(table: String, idExpr: String, tsExpr: String,
                      valueExpr: String, threshold: Double = 18.0): String =
    s"WITH feats AS (SELECT $idExpr AS id, " +
      s"CAST(floor($valueExpr / 10.0) AS BIGINT) AS f_val, " +
      s"CAST(hour($tsExpr) AS BIGINT) AS f_hour, " +
      s"CAST(((datediff('day', DATE '2024-01-01', CAST($tsExpr AS DATE)) % 7) + 7) % 7 " +
      s"AS BIGINT) AS f_dow FROM $table), " +
      "hv AS (SELECT f_val, CAST(count(*) AS BIGINT) AS c_val FROM feats GROUP BY f_val), " +
      "hh AS (SELECT f_hour, CAST(count(*) AS BIGINT) AS c_hour FROM feats GROUP BY f_hour), " +
      "hd AS (SELECT f_dow, CAST(count(*) AS BIGINT) AS c_dow FROM feats GROUP BY f_dow), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feats) " +
      s"SELECT id AS $idExpr, " +
      "round(ln(CAST(n AS DOUBLE) / CAST(c_val AS DOUBLE)) + " +
      "ln(CAST(n AS DOUBLE) / CAST(c_hour AS DOUBLE)) + " +
      "ln(CAST(n AS DOUBLE) / CAST(c_dow AS DOUBLE)), 6) AS score, " +
      "(round(ln(CAST(n AS DOUBLE) / CAST(c_val AS DOUBLE)) + " +
      "ln(CAST(n AS DOUBLE) / CAST(c_hour AS DOUBLE)) + " +
      s"ln(CAST(n AS DOUBLE) / CAST(c_dow AS DOUBLE)), 6) > $threshold) AS is_outlier " +
      "FROM feats JOIN hv USING (f_val) JOIN hh USING (f_hour) " +
      "JOIN hd USING (f_dow) CROSS JOIN nn"

  /** Exponentially time-decayed activity score per group (half-life
    * freshness weighting — the recency prior behind "rank sources by
    * CURRENT activity" and freshness-aware mix weights): each day's
    * count weighs `1/2^⌊age/halfLife⌋` against the corpus's newest day.
    * Libm-free by construction: the decay base is a POWER OF TWO
    * (`1/(1<<k)`, k capped at 62) — exactly representable, one IEEE
    * division per day — where `pow(0.5, age/h)` would be a libm call
    * with no cross-engine guarantee. The per-group reduction is the
    * ordered-cumsum portability fold, so scores hash-verify.
    *
    * Scale shape: the corpus collapses to the daily frame in one
    * map-side-combined groupBy; the reference day is a 1-row broadcast;
    * the fold runs per group over calendar-bounded days. */
  def decayScore(df: DataFrame, groupCol: String, tsCol: String,
                 halfLifeDays: Int = 7): DataFrame = {
    require(halfLifeDays >= 1, "halfLifeDays must be >= 1")
    val W = org.apache.spark.sql.expressions.Window
    val daily = df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
    val ref = daily.agg(max(col("day")).as("ref_day"))
    val w = W.partitionBy("g").orderBy("day")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    daily.crossJoin(broadcast(ref))
      .withColumn("k",
        least(expr(s"datediff(ref_day, day) div $halfLifeDays"), lit(62L)))
      .withColumn("wt",
        col("c").cast("double") / expr("shiftleft(CAST(1 AS BIGINT), CAST(k AS INT))").cast("double"))
      .withColumn("cumw", sum(col("wt")).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nd", count(lit(1)).over(W.partitionBy("g")))
      .filter(col("rn") === col("nd"))
      .select(col("g").as(groupCol), col("nd").as("n_days"),
        round(col("cumw"), 6).as("decayed_count"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[decayScore]] — identical daily collapse,
    * power-of-two weights and ordered fold. */
  def decayScoreSql(table: String, groupExpr: String, tsExpr: String,
                    halfLifeDays: Int = 7): String =
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      "ref AS (SELECT max(day) AS ref_day FROM daily), " +
      "wts AS (SELECT g, day, " +
      s"CAST(c AS DOUBLE) / CAST(CAST(1 AS BIGINT) << " +
      s"least(datediff('day', day, ref_day) // $halfLifeDays, 62) AS DOUBLE) AS wt " +
      "FROM daily CROSS JOIN ref), " +
      "cum AS (SELECT g, " +
      "sum(wt) OVER (PARTITION BY g ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw, " +
      "row_number() OVER (PARTITION BY g ORDER BY day) AS rn, " +
      "count(*) OVER (PARTITION BY g) AS nd FROM wts) " +
      s"SELECT g AS $groupExpr, CAST(nd AS BIGINT) AS n_days, " +
      "round(cumw, 6) AS decayed_count FROM cum WHERE rn = nd ORDER BY g"

  /** Theil–Sen robust trend of the daily count series per group: the
    * MEDIAN of all pairwise slopes `(y_j−y_i)/(x_j−x_i)` — up to ~29%
    * corrupted days cannot move it (OLS's q_ols_trend breaks at one wild
    * outlier; run both, divergence flags contamination). x is the
    * integer day index from a fixed origin (the seasonalDow route).
    *
    * Determinism: each slope is ONE IEEE division of exact integers
    * (bit-identical cross-engine); the median picks by row_number over
    * (slope, xi, xj) — the day pair breaks slope ties totally — and the
    * even-count midpoint is one fixed (a+b)/2 tree ⇒ hash-verified.
    *
    * Scale shape: the corpus collapses to the DAILY frame in one
    * map-side-combined groupBy (the only data-sized shuffle); the pair
    * join and median window run per group on n_days² rows — calendar-
    * bounded (a year of days = 66k pairs/group), never corpus-scaled. */
  def theilSen(df: DataFrame, groupCol: String, tsCol: String): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val daily = df
      .groupBy(col(groupCol).as("g"),
        datediff(to_date(col(tsCol)), lit("2024-01-01").cast("date")).as("x"))
      .agg(count(lit(1)).as("y"))
      .transform(PB.localCheckpoint) // day frame: both pair sides read it
    val pairs = daily.select(col("g"), col("x").as("xi"), col("y").as("yi"))
      .join(daily.select(col("g"), col("x").as("xj"), col("y").as("yj")), Seq("g"))
      .filter(col("xi") < col("xj"))
      .select(col("g"), col("xi"), col("xj"),
        ((col("yj") - col("yi")).cast("double") /
          (col("xj") - col("xi")).cast("double")).as("slope"))
    val ord = W.partitionBy("g").orderBy(col("slope"), col("xi"), col("xj"))
    pairs
      .withColumn("rn", row_number().over(ord))
      .withColumn("np", count(lit(1)).over(W.partitionBy("g")))
      .filter(col("rn") === expr("(np + 1) div 2") ||
        col("rn") === expr("(np + 2) div 2"))
      .groupBy(col("g").as(groupCol))
      .agg(max(col("np")).as("n_pairs"),
        round((min(col("slope")) + max(col("slope"))) / 2.0, 6)
          .as("slope_per_day"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[theilSen]] — identical day collapse, pair set,
    * tie-broken median selection and midpoint tree. */
  def theilSenSql(table: String, groupExpr: String, tsExpr: String): String =
    s"WITH daily AS (SELECT $groupExpr AS g, " +
      s"CAST(datediff('day', DATE '2024-01-01', CAST($tsExpr AS DATE)) AS BIGINT) AS x, " +
      s"CAST(count(*) AS BIGINT) AS y FROM $table GROUP BY g, x), " +
      "pairs AS (SELECT a.g, a.x AS xi, b.x AS xj, " +
      "CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope " +
      "FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x), " +
      "r AS (SELECT g, slope, " +
      "row_number() OVER (PARTITION BY g ORDER BY slope, xi, xj) AS rn, " +
      "count(*) OVER (PARTITION BY g) AS np FROM pairs) " +
      s"SELECT g AS $groupExpr, CAST(max(np) AS BIGINT) AS n_pairs, " +
      "round((min(slope) + max(slope)) / 2.0, 6) AS slope_per_day " +
      "FROM r WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2 " +
      s"GROUP BY g ORDER BY g"

  /** Holt double exponential smoothing (level + trend) of the per-group
    * daily count series — the one-number-ahead forecaster a feed-volume
    * monitor runs next to q_ewma's level-only smooth and q_ols_trend's
    * global line: Holt tracks a CHANGING trend (ramp-ups, decays) that
    * EWMA lags and OLS averages away. Fixed dyadic gains α=1/2, β=1/4
    * (so every fold step is exact binary arithmetic), init s=x₀, b=0;
    * `s' = αx + (1−α)(s+b)`, `b' = β(s'−s) + (1−β)b`.
    *
    * Exactness: one sorted per-group fold (the ewmaDaily convention) —
    * both engines fold the identical day-ordered list with the identical
    * dyadic tree, so level/trend/forecast hash-verify at round 6.
    *
    * Scale shape: one map-side-combined daily collapse, then the fold
    * runs per group on its calendar-bounded series (the sessionize
    * bound); output is the group frame. */
  def holtSmooth(df: DataFrame, groupCol: String, tsCol: String): DataFrame =
    df.groupBy(col(groupCol).as("g"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("c"))
      .groupBy("g")
      .agg(count(lit(1)).as("n_days"),
        sort_array(collect_list(struct(col("day"), col("c")))).as("_dc"))
      .withColumn("_xs", expr("transform(_dc, p -> CAST(p.c AS DOUBLE))"))
      .withColumn("_st", expr(
        "aggregate(slice(_xs, 2, size(_xs) - 1), " +
          "named_struct('s', element_at(_xs, 1), 'b', CAST(0.0 AS DOUBLE)), " +
          "(acc, x) -> named_struct(" +
          "'s', 0.5 * x + 0.5 * (acc.s + acc.b), " +
          "'b', 0.25 * ((0.5 * x + 0.5 * (acc.s + acc.b)) - acc.s) + 0.75 * acc.b))"))
      .select(col("g").as(groupCol), col("n_days"),
        round(col("_st.s"), 6).as("level"),
        round(col("_st.b"), 6).as("trend"),
        round(col("_st.s") + col("_st.b"), 6).as("forecast_next"))
      .orderBy(groupCol)

  /** DuckDB oracle for [[holtSmooth]] — identical day-ordered list and
    * dyadic fold (list_reduce's first element is exactly the s=x₀, b=0
    * init once each element is lifted to the [s, b] state). The state
    * travels as a 2-element LIST, not a struct: DuckDB 1.0's list_reduce
    * updates struct accumulator FIELDS sequentially in place (the second
    * field's expression sees the first field already overwritten —
    * measured, not documented), while list construction reads the old
    * accumulator consistently. */
  def holtSmoothSql(table: String, groupExpr: String, tsExpr: String): String =
    s"WITH daily AS (SELECT $groupExpr AS g, CAST($tsExpr AS DATE) AS day, " +
      s"CAST(count(*) AS BIGINT) AS c FROM $table GROUP BY g, day), " +
      "ser AS (SELECT g, CAST(count(*) AS BIGINT) AS n_days, " +
      "list(CAST(c AS DOUBLE) ORDER BY day) AS xs FROM daily GROUP BY g), " +
      "st AS (SELECT g, n_days, list_reduce(" +
      "list_transform(xs, x -> [x, 0.0]), " +
      "(acc, e) -> [" +
      "0.5 * e[1] + 0.5 * (acc[1] + acc[2]), " +
      "0.25 * ((0.5 * e[1] + 0.5 * (acc[1] + acc[2])) - acc[1]) + 0.75 * acc[2]" +
      "]) AS f FROM ser) " +
      s"SELECT g AS $groupExpr, n_days, round(f[1], 6) AS level, " +
      "round(f[2], 6) AS trend, round(f[1] + f[2], 6) AS forecast_next " +
      "FROM st ORDER BY g"

  /** Bradley–Terry strength scores from pairwise win counts — the
    * LLM-judge aggregation shape (Chatbot-Arena-style: many noisy A-vs-B
    * preferences → one strength scale). Comparisons derive from events:
    * for every user and every type pair, the type the user triggered
    * MORE often "wins" (ties contribute nothing); the minorization step
    * `p'_i = W_i / Σ_j n_ij/(p_i+p_j)` (Hunter 2004 MM) runs `iters`
    * unrolled rounds from p=1, normalized to Σp=1 each round.
    *
    * Exactness: wins/comparison counts are exact integers; each round's
    * per-type denominator folds in opponent order and the normalizer in
    * type order (ordered cumsum + rn=nc, the portable float reduction) —
    * identical trees both engines, round 6.
    *
    * Scale shape: the (user, type) collapse is one map-side-combined
    * shuffle; everything after lives on the type-pair frame (≤ |types|²
    * rows, domain-bounded — the q_mutual_info convention). */
  def bradleyTerry(df: DataFrame, userCol: String, typeCol: String,
                   tsCol: String, iters: Int = 2): DataFrame = PB.scoped {
    require(iters >= 1 && iters <= 4, "iters must be in [1, 4] (unrolled)")
    val W = org.apache.spark.sql.expressions.Window
    val ut = df.groupBy(col(userCol).as("u"), col(typeCol).as("t"))
      .agg(count(lit(1)).as("n"))
    // one comparison per user per unordered type pair; ties drop
    val comp = ut.as("a").join(ut.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .filter(col("a.n") =!= col("b.n"))
      .select(col("a.t").as("i"), col("b.t").as("j"),
        when(col("a.n") > col("b.n"), 1L).otherwise(0L).as("wi"))
    val pairs = comp.groupBy("i", "j")
      .agg(count(lit(1)).as("n_ij"), sum(col("wi")).as("w_i"))
      .transform(PB.localCheckpoint) // tiny |types|^2 frame, read every round
    val sym = pairs.select(col("i"), col("j"), col("n_ij"), col("w_i").as("w"))
      .unionByName(pairs.select(col("j").as("i"), col("i").as("j"),
        col("n_ij"), (col("n_ij") - col("w_i")).as("w")))
    // r18: wins / each round's raw / each round's p all feed 2-3
    // consumers, and the rounds are unrolled in ONE plan — without
    // sharing, every reference duplicates a subtree that CONTAINS window
    // exchanges, so the stage count doubled per round (20 AQE stage-jobs
    // at iters = 2). Shared lazy checkpoints dedupe them with zero extra
    // actions; every frame here is |types|-bounded, so the cached blocks
    // are trivial at any corpus scale.
    val shared = org.apache.spark.sql.graftbridge.PlanBridge
      .sharedLocalCheckpoint(_: DataFrame)
    val wins = shared(sym.groupBy(col("i")).agg(sum(col("w")).as("w_tot"),
      sum(col("n_ij")).as("n_comp")))
    var p = wins.select(col("i"), lit(1.0).as("p"))
    val ordj = W.partitionBy("i").orderBy("j")
    val cumj = ordj.rowsBetween(W.unboundedPreceding, W.currentRow)
    val ordi = W.orderBy("i")
    val cumi = ordi.rowsBetween(W.unboundedPreceding, W.currentRow)
    (1 to iters).foreach { _ =>
      val denom = sym
        .join(p.withColumnRenamed("i", "j").withColumnRenamed("p", "pj"), Seq("j"))
        .join(p, Seq("i"))
        .select(col("i"), col("j"),
          (col("n_ij").cast("double") / (col("p") + col("pj"))).as("term"))
        .withColumn("cum", sum(col("term")).over(cumj))
        .withColumn("rn", row_number().over(ordj))
        .withColumn("nc", count(lit(1)).over(W.partitionBy("i")))
        .filter(col("rn") === col("nc"))
        .select(col("i"), col("cum").as("den"))
      val raw = shared(wins.join(denom, Seq("i"))
        .select(col("i"), (col("w_tot").cast("double") / col("den")).as("pr")))
      val tot = raw
        .withColumn("cum", sum(col("pr")).over(cumi))
        .withColumn("rn", row_number().over(ordi))
        .withColumn("nc", count(lit(1)).over())
        .filter(col("rn") === col("nc"))
        .select(col("cum").as("tot"))
      p = shared(raw.crossJoin(broadcast(tot))
        .select(col("i"), (col("pr") / col("tot")).as("p")))
    }
    wins.join(p, Seq("i"))
      .select(col("i").as(typeCol), col("w_tot").as("n_wins"),
        col("n_comp").as("n_comparisons"), round(col("p"), 6).as("bt_score"))
      .orderBy(typeCol)
  }

  /** DuckDB oracle for [[bradleyTerry]] — identical comparison
    * derivation, pair frame, and unrolled MM rounds with the same
    * ordered folds. */
  def bradleyTerrySql(table: String, userExpr: String, typeExpr: String,
                      iters: Int = 2): String = {
    val iterCtes = (0 until iters).map { k =>
      s"den$k AS (SELECT i, cum AS den FROM (SELECT s.i, " +
        "sum(CAST(s.n_ij AS DOUBLE) / (pi.p + pj.p)) OVER (PARTITION BY s.i ORDER BY s.j " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "row_number() OVER (PARTITION BY s.i ORDER BY s.j) AS rn, " +
        "count(*) OVER (PARTITION BY s.i) AS nc " +
        s"FROM sym s JOIN p$k pi ON s.i = pi.i JOIN p$k pj ON s.j = pj.i) " +
        "WHERE rn = nc), " +
        s"raw$k AS (SELECT w.i, CAST(w.w_tot AS DOUBLE) / d.den AS pr " +
        s"FROM wins w JOIN den$k d ON w.i = d.i), " +
        s"tot$k AS (SELECT cum AS tot FROM (SELECT " +
        "sum(pr) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "row_number() OVER (ORDER BY i) AS rn, count(*) OVER () AS nc " +
        s"FROM raw$k) WHERE rn = nc), " +
        s"p${k + 1} AS (SELECT i, pr / tot AS p FROM raw$k CROSS JOIN tot$k)"
    }.mkString(", ")
    s"WITH ut AS (SELECT $userExpr AS u, $typeExpr AS t, " +
      s"CAST(count(*) AS BIGINT) AS n FROM $table GROUP BY u, t), " +
      "comp AS (SELECT a.t AS i, b.t AS j, " +
      "CASE WHEN a.n > b.n THEN 1 ELSE 0 END AS wi " +
      "FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t WHERE a.n <> b.n), " +
      "pairs AS (SELECT i, j, CAST(count(*) AS BIGINT) AS n_ij, " +
      "CAST(sum(wi) AS BIGINT) AS w_i FROM comp GROUP BY i, j), " +
      "sym AS (SELECT i, j, n_ij, w_i AS w FROM pairs " +
      "UNION ALL SELECT j, i, n_ij, n_ij - w_i FROM pairs), " +
      "wins AS (SELECT i, CAST(sum(w) AS BIGINT) AS w_tot, " +
      "CAST(sum(n_ij) AS BIGINT) AS n_comp FROM sym GROUP BY i), " +
      "p0 AS (SELECT i, 1.0 AS p FROM wins), " +
      s"$iterCtes " +
      s"SELECT w.i AS $typeExpr, w.w_tot AS n_wins, w.n_comp AS n_comparisons, " +
      s"round(p.p, 6) AS bt_score FROM wins w JOIN p$iters p ON w.i = p.i " +
      s"ORDER BY $typeExpr"
  }

  // ------------------------------------------------------- r10 additions

  /** Cohen's kappa between two categorical raters — the chance-corrected
    * agreement summary (Cohen 1960), the LLM-judge / dual-gate agreement
    * shape next to [[graft.operators.TextOps.clfCalibration]]'s
    * reliability table: the ECE table says WHERE the gates disagree;
    * kappa says whether their agreement beats chance at all.
    *
    * Exactness: the confusion frame is exact integer counts (class-pair
    * bounded — one map-side-combined shuffle over the corpus, everything
    * after runs on the tiny class grid); po/pe/kappa are one fixed
    * double tree over those integers, round 6. The class fold orders by
    * class label, so the double sums are ordered (portable-fold stance).
    *
    * Output: one row (n_rows, po, pe, kappa). */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val cells = df.select(col(aCol).cast("string").as("ra"),
        col(bCol).cast("string").as("rb"))
      .filter(col("ra").isNotNull && col("rb").isNotNull)
      .groupBy("ra", "rb").agg(count(lit(1)).as("nn"))
      .transform(PB.localCheckpoint) // class-grid sized; reused by marginals + diag
    val n = cells.agg(sum(col("nn")).as("n_rows"))
    val ma = cells.groupBy("ra").agg(sum(col("nn")).as("na"))
    val mb = cells.groupBy("rb").agg(sum(col("nn")).as("nb"))
    val agree = cells.filter(col("ra") === col("rb"))
      .agg(coalesce(sum(col("nn")), lit(0L)).as("n_agree"))
    // chance-expected mass: sum over classes of na*nb — an ordered fold
    // over the class-bounded marginal join (global window, declared in
    // the board gate with the class-grid bound)
    val pe2 = ma.join(mb, col("ra") === col("rb"))
      .withColumn("cum", sum(col("na") * col("nb")).over(
        W.orderBy(col("ra"))
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rnd", row_number().over(W.orderBy(col("ra").desc)))
      .filter(col("rnd") === 1)
      .select(col("cum").as("pe_num"))
    n.crossJoin(agree).crossJoin(pe2)
      .select(col("n_rows"),
        round(col("n_agree").cast("double") / col("n_rows").cast("double"), 6)
          .as("po"),
        round(col("pe_num").cast("double") /
          (col("n_rows") * col("n_rows")).cast("double"), 6).as("pe"),
        round((col("n_agree").cast("double") / col("n_rows").cast("double") -
          col("pe_num").cast("double") /
            (col("n_rows") * col("n_rows")).cast("double")) /
          (lit(1.0) - col("pe_num").cast("double") /
            (col("n_rows") * col("n_rows")).cast("double")), 6).as("kappa"))
  }

  /** DuckDB oracle for [[cohensKappa]] — identical confusion counts and
    * double tree. `base` yields columns ra, rb (pre-cast to VARCHAR). */
  def cohensKappaSql(base: String): String =
    s"WITH cells AS (SELECT ra, rb, CAST(count(*) AS BIGINT) AS nn FROM $base " +
      "WHERE ra IS NOT NULL AND rb IS NOT NULL GROUP BY ra, rb), " +
      "n AS (SELECT CAST(sum(nn) AS BIGINT) AS n_rows FROM cells), " +
      "ma AS (SELECT ra, CAST(sum(nn) AS BIGINT) AS na FROM cells GROUP BY ra), " +
      "mb AS (SELECT rb, CAST(sum(nn) AS BIGINT) AS nb FROM cells GROUP BY rb), " +
      "ag AS (SELECT CAST(coalesce(sum(nn), 0) AS BIGINT) AS n_agree " +
      "FROM cells WHERE ra = rb), " +
      "pe AS (SELECT cum AS pe_num FROM (SELECT " +
      "sum(na * nb) OVER (ORDER BY ra " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (ORDER BY ra DESC) AS rnd " +
      "FROM ma JOIN mb ON ra = rb) WHERE rnd = 1) " +
      "SELECT n_rows, " +
      "round(CAST(n_agree AS DOUBLE) / CAST(n_rows AS DOUBLE), 6) AS po, " +
      "round(CAST(pe_num AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE), 6) AS pe, " +
      "round((CAST(n_agree AS DOUBLE) / CAST(n_rows AS DOUBLE) - " +
      "CAST(pe_num AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE)) / " +
      "(1.0 - CAST(pe_num AS DOUBLE) / CAST(n_rows * n_rows AS DOUBLE)), 6) " +
      "AS kappa FROM n CROSS JOIN ag CROSS JOIN pe"

  /** Population stability index per group between two populations — the
    * model-monitoring drift gate next to [[ksDistance]]/Welch: banks'
    * standard "has the score distribution shifted" number
    * (PSI = sum (p - q) ln(p/q) over fixed bins; > 0.25 = major shift).
    * `sideCol` must be 0/1 (reference vs current), `binCol` an exact
    * integer bin (floor the metric upstream so both engines bin
    * identically). Laplace-smoothed (+alpha per bin) so empty bins stay
    * finite — the klDrift stance.
    *
    * Scale shape: ONE map-side-combined (group, bin, side) count over
    * the corpus; the PSI fold runs on the bins-x-groups grid (bounded:
    * `bins` is a declared constant). Ordered bin fold per group (the
    * portable float reduction).
    *
    * Output: (group, n_ref, n_cur, psi), unsorted. */
  def psi(df: DataFrame, groupCol: String, binCol: String, sideCol: String,
          bins: Int = 10, alpha: Double = 0.5): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    require(bins >= 2 && bins <= 1024, "bins must be in [2, 1024]")
    val counts = df
      .select(col(groupCol).as("grp"),
        least(greatest(col(binCol).cast("long"), lit(0L)), lit(bins - 1L))
          .as("bin"),
        col(sideCol).cast("long").as("side"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "bin")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("nr"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("nc"))
      .transform(PB.localCheckpoint) // grid-sized; reused by totals + the fold
    val tot = counts.groupBy("grp")
      .agg(sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"))
    // dense bin grid so empty bins contribute their smoothed cell
    val grid = tot.crossJoin(broadcast(
        counts.sparkSession.range(bins).select(col("id").as("bin"))))
      .join(counts, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("nr", "nc"))
    val p = (col("nr").cast("double") + lit(alpha)) /
      (col("n_ref").cast("double") + lit(alpha) * bins)
    val q = (col("nc").cast("double") + lit(alpha)) /
      (col("n_cur").cast("double") + lit(alpha) * bins)
    val ord = W.partitionBy("grp").orderBy("bin")
    grid.withColumn("cell", (p - q) * log(p / q))
      .withColumn("cum", sum(col("cell")).over(
        ord.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nb", count(lit(1)).over(W.partitionBy("grp")))
      .filter(col("rn") === col("nb"))
      .select(col("grp").as(groupCol), col("n_ref"), col("n_cur"),
        round(col("cum"), 6).as("psi"))
  }

  /** DuckDB oracle for [[psi]] — identical clamp, grid, smoothing and
    * ordered fold. `base` yields grp, bin, side. */
  def psiSql(base: String, bins: Int, alpha: Double): String =
    s"WITH counts AS (SELECT grp, least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1}) AS bin, " +
      "CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr, " +
      "CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc " +
      s"FROM $base WHERE grp IS NOT NULL GROUP BY grp, " +
      s"least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1})), " +
      "tot AS (SELECT grp, CAST(sum(nr) AS BIGINT) AS n_ref, " +
      "CAST(sum(nc) AS BIGINT) AS n_cur FROM counts GROUP BY grp), " +
      s"grid AS (SELECT t.grp, t.n_ref, t.n_cur, b.bin, " +
      "coalesce(c.nr, 0) AS nr, coalesce(c.nc, 0) AS nc FROM tot t " +
      s"CROSS JOIN (SELECT unnest(range(0, $bins)) AS bin) b " +
      "LEFT JOIN counts c ON t.grp = c.grp AND b.bin = c.bin), " +
      "f AS (SELECT grp, n_ref, n_cur, " +
      s"((CAST(nr AS DOUBLE) + $alpha) / (CAST(n_ref AS DOUBLE) + $alpha * $bins) - " +
      s"(CAST(nc AS DOUBLE) + $alpha) / (CAST(n_cur AS DOUBLE) + $alpha * $bins)) * " +
      s"ln(((CAST(nr AS DOUBLE) + $alpha) / (CAST(n_ref AS DOUBLE) + $alpha * $bins)) / " +
      s"((CAST(nc AS DOUBLE) + $alpha) / (CAST(n_cur AS DOUBLE) + $alpha * $bins))) AS cell, " +
      "sum(((CAST(nr AS DOUBLE) + " + s"$alpha) / (CAST(n_ref AS DOUBLE) + $alpha * $bins) - " +
      s"(CAST(nc AS DOUBLE) + $alpha) / (CAST(n_cur AS DOUBLE) + $alpha * $bins)) * " +
      s"ln(((CAST(nr AS DOUBLE) + $alpha) / (CAST(n_ref AS DOUBLE) + $alpha * $bins)) / " +
      s"((CAST(nc AS DOUBLE) + $alpha) / (CAST(n_cur AS DOUBLE) + $alpha * $bins)))) " +
      "OVER (PARTITION BY grp ORDER BY bin " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (PARTITION BY grp ORDER BY bin) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS nb FROM grid) " +
      "SELECT grp, n_ref, n_cur, round(cum, 6) AS psi FROM f " +
      "WHERE rn = nb ORDER BY grp"

  /** Grouped AUC over BUCKETED scores — the scalable exact form of the
    * rank-sum AUC: scores discretize to `buckets` exact integer bins
    * upstream (the clf-margin convention), per-(group, bucket) label
    * counts map-side combine, and the AUC mid-rank fold runs on the
    * bounded bucket grid — never a per-row global rank (a row-level
    * rank needs a total sort per group, the funnel the bounded-window
    * gate exists to kill). AUC of the bucketed score is EXACT for the
    * bucketed metric: numerator 2*sum_b pos_b*(2*cumneg_<b + neg_b)
    * stays integer, one division at the end.
    *
    * Output: (group, n_pos, n_neg, auc), unsorted. Groups with no
    * positives or no negatives drop (AUC undefined). */
  def groupAuc(df: DataFrame, groupCol: String, bucketCol: String,
               labelCol: String): DataFrame =
    aucFromCounts(aucCounts(df, groupCol, bucketCol, labelCol), groupCol)

  /** The mergeable half of [[groupAuc]]: per-(group, bucket) label
    * counts. Cell-wise ADDITION merges two count frames, so a stream
    * can fold batches into this state and read the AUC off the snapshot
    * at any time ([[aucFromCounts]]) — the cms/hll mergeable-state
    * convention. */
  def aucCounts(df: DataFrame, groupCol: String, bucketCol: String,
                labelCol: String): DataFrame = df
    .select(col(groupCol).as("grp"), col(bucketCol).cast("long").as("b"),
      col(labelCol).cast("long").as("y"))
    .filter(col("grp").isNotNull)
    .groupBy("grp", "b")
    .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))

  /** The fold half of [[groupAuc]]: the exact mid-rank AUC off a
    * (grp, b, np, nn) count frame (pre-summed duplicates allowed —
    * they re-collapse here). */
  def aucFromCounts(counts0: DataFrame, groupCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val counts = counts0.groupBy("grp", "b")
      .agg(sum(col("np")).as("np"), sum(col("nn")).as("nn"))
    val ord = W.partitionBy("grp").orderBy("b")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    counts
      .withColumn("cumn", sum(col("nn")).over(cum))
      .withColumn("term", col("np") * (lit(2L) * (col("cumn") - col("nn")) + col("nn")))
      .withColumn("num2", sum(col("term")).over(cum))
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nb", count(lit(1)).over(W.partitionBy("grp")))
      .filter(col("rn") === col("nb") && col("tp") > 0 && col("cumn") > 0)
      .select(col("grp").as(groupCol), col("tp").as("n_pos"),
        col("cumn").as("n_neg"),
        round(col("num2").cast("double") /
          (lit(2.0) * col("tp").cast("double") * col("cumn").cast("double")), 6)
          .as("auc"))
  }

  /** DuckDB oracle for [[groupAuc]] — identical bucket counts and
    * integer mid-rank fold. `base` yields grp, b, y. */
  def groupAucSql(base: String): String =
    s"WITH counts AS (SELECT grp, CAST(b AS BIGINT) AS b, " +
      "CAST(sum(y) AS BIGINT) AS np, CAST(sum(1 - y) AS BIGINT) AS nn " +
      s"FROM $base WHERE grp IS NOT NULL GROUP BY grp, CAST(b AS BIGINT)), " +
      "c1 AS (SELECT grp, b, np, nn, " +
      "CAST(sum(nn) OVER w AS BIGINT) AS cumn, " +
      "row_number() OVER (PARTITION BY grp ORDER BY b) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS nb FROM counts " +
      "WINDOW w AS (PARTITION BY grp ORDER BY b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "f AS (SELECT grp, b, nn, cumn, rn, nb, " +
      "CAST(sum(np * (2 * (cumn - nn) + nn)) OVER w2 AS BIGINT) AS num2, " +
      "CAST(sum(np) OVER w2 AS BIGINT) AS tp FROM c1 " +
      "WINDOW w2 AS (PARTITION BY grp ORDER BY b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT grp, tp AS n_pos, cumn AS n_neg, " +
      "round(CAST(num2 AS DOUBLE) / (2.0 * CAST(tp AS DOUBLE) * " +
      "CAST(cumn AS DOUBLE)), 6) AS auc FROM f " +
      "WHERE rn = nb AND tp > 0 AND cumn > 0 ORDER BY grp"

  /** Rank-biased overlap (Webber et al. 2010) between the top-`depth`
    * rankings induced by two integer metrics — the ranking-similarity
    * measure that weights the HEAD (p^(k-1) per depth k), where
    * [[kendallTau]]-style measures weight all positions equally: the
    * right question for "do my two retrieval scorings agree where it
    * matters". Truncated form: RBO_d = (1-p) * sum_{k=1..d}
    * p^(k-1) * |prefA_k ∩ prefB_k| / k.
    *
    * Exactness: both metrics must be exact integers (tie-broken by id),
    * so ranks are deterministic; the per-depth intersection sizes are
    * integers (for each id in both top-d frames, it enters every prefix
    * k >= max(rankA, rankB) — counted per k on the d-bounded grid); the
    * weighted fold runs ordered over k, round 6 absorbing pow's ulp.
    *
    * Scale shape: two top-d selections (TakeOrdered, never a full
    * sort); everything downstream lives on the d-bounded grid. The
    * global windows read <= d rows (declared in the board gate).
    *
    * Output: one row (depth, n_both, rbo). */
  def rbo(df: DataFrame, idCol: String, metricA: Column, metricB: Column,
          depth: Int = 20, p: Double = 0.9): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    require(depth >= 1 && depth <= 1024, "depth must be in [1, 1024]")
    val base = df.select(col(idCol).as("id"),
        metricA.cast("long").as("ma"), metricB.cast("long").as("mb"))
      .transform(PB.localCheckpoint) // two top-d selections re-read it
    def top(m: String) = base
      .orderBy(col(m).desc, col("id")).limit(depth)
      .withColumn("rank",
        row_number().over(W.orderBy(col(m).desc, col("id"))))
      .select(col("id"), col("rank"))
    val joined = top("ma").withColumnRenamed("rank", "ra")
      .join(top("mb").withColumnRenamed("rank", "rb"), Seq("id"))
      .select(col("id"), greatest(col("ra"), col("rb")).as("maxr"))
      .transform(PB.localCheckpoint) // <= depth rows; the k-grid re-reads it
    val ks = base.sparkSession.range(1, depth + 1)
      .select(col("id").cast("int").as("k"))
    val grid = broadcast(ks).join(joined, col("maxr") <= col("k"), "left")
      .groupBy("k").agg(count(col("id")).as("inter"))
    val ord = W.orderBy(col("k"))
    grid
      .withColumn("term", pow(lit(p), col("k").cast("double") - 1.0) *
        col("inter").cast("double") / col("k").cast("double"))
      .withColumn("cum", sum(col("term")).over(
        ord.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("n_both", sum(when(col("k") === depth, col("inter"))
        .otherwise(lit(0L))).over(
        W.orderBy(col("k")).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .withColumn("rnd", row_number().over(W.orderBy(col("k").desc)))
      .filter(col("rnd") === 1)
      .select(lit(depth.toLong).as("depth"), col("n_both"),
        round(lit(1.0 - p) * col("cum"), 6).as("rbo"))
  }

  /** DuckDB oracle for [[rbo]] — identical top-d ranks, k-grid and
    * weighted ordered fold. `base` yields id, ma, mb. */
  def rboSql(base: String, depth: Int, p: Double): String =
    s"WITH b AS (SELECT id, CAST(ma AS BIGINT) AS ma, CAST(mb AS BIGINT) AS mb FROM $base), " +
      s"ta AS (SELECT id, row_number() OVER (ORDER BY ma DESC, id) AS ra " +
      s"FROM (SELECT id, ma FROM b ORDER BY ma DESC, id LIMIT $depth)), " +
      s"tb AS (SELECT id, row_number() OVER (ORDER BY mb DESC, id) AS rb " +
      s"FROM (SELECT id, mb FROM b ORDER BY mb DESC, id LIMIT $depth)), " +
      "j AS (SELECT ta.id, greatest(ra, rb) AS maxr FROM ta JOIN tb ON ta.id = tb.id), " +
      s"ks AS (SELECT CAST(unnest(range(1, ${depth + 1})) AS INT) AS k), " +
      "grid AS (SELECT k, CAST(count(j.id) AS BIGINT) AS inter FROM ks " +
      "LEFT JOIN j ON j.maxr <= ks.k GROUP BY k), " +
      "f AS (SELECT k, inter, " +
      s"sum(pow($p, CAST(k AS DOUBLE) - 1.0) * CAST(inter AS DOUBLE) / CAST(k AS DOUBLE)) " +
      "OVER (ORDER BY k ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      s"CAST(sum(CASE WHEN k = $depth THEN inter ELSE 0 END) OVER () AS BIGINT) AS n_both, " +
      "row_number() OVER (ORDER BY k DESC) AS rnd FROM grid) " +
      s"SELECT CAST($depth AS BIGINT) AS depth, n_both, " +
      s"round(${1.0 - p} * cum, 6) AS rbo FROM f WHERE rnd = 1"

  /** Corpus-relative a-priori support: ceil(nBaskets·num/den), floored.
    * Support is a DENSITY contract (a fraction of baskets), not an
    * absolute count — a fixed absolute minCo admits every pair once the
    * corpus grows past minCo/P(pair), so the frequent-pair frame the
    * triple join fans out on stops pruning entirely (the recurring
    * fixed-constant scale bug; the densityRadius / derivedCentroids /
    * scaledRowsPerBand convention, applied to support). Integer
    * arithmetic: a query derives it from the basket count at plan time
    * and its oracle pins the sf0.01 derivation as an absolute literal.
    * Defaults pin scaledSupport(14743) = 3 — the q_apriori_triples
    * verify-scale value. */
  def scaledSupport(nBaskets: Long, num: Long = 1, den: Long = 5000,
                    floor: Long = 2): Long = {
    require(nBaskets >= 0 && num >= 1 && den >= 1 && floor >= 1,
      "scaledSupport needs non-negative counts and positive parameters")
    math.max(floor, (nBaskets * num + den - 1) / den)
  }

  /** Frequent triples with a-priori pruning (Agrawal & Srikant 1994) —
    * [[marketBasket]]'s pair mining lifted one level: only pairs that
    * are themselves frequent generate triple candidates, so the
    * candidate join fans out on the FREQUENT-pair frame (tiny after
    * `minCo` pruning), never on all item pairs. Candidate (a,b,c)
    * counts by joining the frequent pair (a,b) with each basket's items
    * c > b, then requires all three sub-pairs frequent (the a-priori
    * closure) and support >= minCo.
    *
    * Scale shape: baskets dedup + cap exactly as marketBasket; the
    * triple count joins (basket-item) x (frequent pairs per basket) —
    * bounded by basket size x frequent-pair density. All counts
    * integer-exact.
    *
    * Output: (item_a, item_b, item_c, n_co), a < b < c, support-ordered. */
  def aprioriTriples(df: DataFrame, basketCol: String, itemCol: String,
                     minCo: Long = 2, maxBasket: Int = 100,
                     k: Int = 50): DataFrame = PB.scoped {
    require(maxBasket >= 3, "maxBasket must be >= 3")
    val items = df
      .select(col(basketCol).as("bk"), col(itemCol).cast("long").as("it"))
      .filter(col("bk").isNotNull && col("it").isNotNull).distinct()
      .transform(PB.localCheckpoint)
    val kept = items
      .join(items.groupBy("bk").agg(count(lit(1)).as("bs"))
        .filter(col("bs") <= maxBasket), Seq("bk"))
      .select(col("bk"), col("it"))
      .transform(PB.localCheckpoint)
    val freqPairs = kept.as("x").join(kept.as("y"),
        col("x.bk") === col("y.bk") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("ia"), col("y.it").as("ib"))
      .agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCo)
      .transform(PB.localCheckpoint) // tiny after pruning; reused 4x below
    // per-basket frequent pairs -> extend with items c > b in the basket
    val inBasket = kept.as("x").join(kept.as("y"),
        col("x.bk") === col("y.bk") && col("x.it") < col("y.it"))
      .select(col("x.bk").as("bk"), col("x.it").as("ia"), col("y.it").as("ib"))
      .join(freqPairs.select("ia", "ib"), Seq("ia", "ib"), "left_semi")
    val triples = inBasket
      .join(kept.select(col("bk"), col("it").as("ic")), Seq("bk"))
      .filter(col("ic") > col("ib"))
      .groupBy(col("ia"), col("ib"), col("ic"))
      .agg(count(lit(1)).as("n_co"))
      .filter(col("n_co") >= minCo)
    // a-priori closure: (a,c) and (b,c) must also be frequent
    triples
      .join(freqPairs.select(col("ia"), col("ib").as("ic")).distinct(),
        Seq("ia", "ic"), "left_semi")
      .join(freqPairs.select(col("ia").as("ib"), col("ib").as("ic")).distinct(),
        Seq("ib", "ic"), "left_semi")
      .select(col("ia").as("item_a"), col("ib").as("item_b"),
        col("ic").as("item_c"), col("n_co"))
      .orderBy(col("n_co").desc, col("item_a"), col("item_b"), col("item_c"))
      .limit(k)
  }

  /** DuckDB oracle for [[aprioriTriples]] — identical dedup, cap,
    * pruning and closure chain. `baskets` yields bk, it. */
  def aprioriTriplesSql(baskets: String, minCo: Long, maxBasket: Int,
                        k: Int): String =
    s"WITH items AS (SELECT DISTINCT bk, CAST(it AS BIGINT) AS it FROM $baskets " +
      "WHERE bk IS NOT NULL AND it IS NOT NULL), " +
      "kept AS (SELECT items.bk, it FROM items JOIN " +
      "(SELECT bk, count(*) AS bs FROM items GROUP BY bk) s " +
      s"ON items.bk = s.bk WHERE s.bs <= $maxBasket), " +
      "fp AS (SELECT x.it AS ia, y.it AS ib, CAST(count(*) AS BIGINT) AS n_ab " +
      "FROM kept x JOIN kept y ON x.bk = y.bk AND x.it < y.it " +
      s"GROUP BY x.it, y.it HAVING count(*) >= $minCo), " +
      "ib2 AS (SELECT x.bk, x.it AS ia, y.it AS ib FROM kept x " +
      "JOIN kept y ON x.bk = y.bk AND x.it < y.it " +
      "JOIN fp ON x.it = fp.ia AND y.it = fp.ib), " +
      "tri AS (SELECT ib2.ia, ib2.ib, z.it AS ic, CAST(count(*) AS BIGINT) AS n_co " +
      "FROM ib2 JOIN kept z ON ib2.bk = z.bk AND z.it > ib2.ib " +
      s"GROUP BY ib2.ia, ib2.ib, z.it HAVING count(*) >= $minCo) " +
      "SELECT tri.ia AS item_a, tri.ib AS item_b, tri.ic AS item_c, n_co FROM tri " +
      "WHERE EXISTS (SELECT 1 FROM fp WHERE fp.ia = tri.ia AND fp.ib = tri.ic) " +
      "AND EXISTS (SELECT 1 FROM fp WHERE fp.ia = tri.ib AND fp.ib = tri.ic) " +
      s"ORDER BY n_co DESC, item_a, item_b, item_c LIMIT $k"

  /** Sample-ratio mismatch (SRM) gate per experiment: the chi-square
    * statistic of the observed two-arm split against the declared
    * expected ratio — the first sanity check every A/B analysis must
    * pass (a biased assignment invalidates everything downstream;
    * Kohavi's "most common experiment bug"). `armCol` must be 0/1.
    *
    * Exactness: arm counts are exact integers (one map-side-combined
    * shuffle); the statistic is one fixed double tree; the flag
    * compares against the chi-square(1) 95% critical value 3.841 —
    * integer-derived doubles, so the boundary is engine-stable.
    *
    * Output: (group, n0, n1, srm_chi2, srm_flag), unsorted. */
  def sampleRatioMismatch(df: DataFrame, groupCol: String, armCol: String,
                          expected0: Double = 0.5): DataFrame = {
    val counts = df
      .select(col(groupCol).as("grp"), col(armCol).cast("long").as("arm"))
      .filter(col("grp").isNotNull)
      .groupBy("grp")
      .agg(sum(when(col("arm") === 0L, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 1L, 1L).otherwise(0L)).as("n1"))
    val n = (col("n0") + col("n1")).cast("double")
    val e0 = n * expected0
    val e1 = n * (1.0 - expected0)
    val chi2 = (col("n0").cast("double") - e0) * (col("n0").cast("double") - e0) / e0 +
      (col("n1").cast("double") - e1) * (col("n1").cast("double") - e1) / e1
    counts.select(col("grp").as(groupCol), col("n0"), col("n1"),
        round(chi2, 6).as("srm_chi2"), (chi2 > 3.841).as("srm_flag"))
  }

  /** DuckDB oracle for [[sampleRatioMismatch]] — identical counts and
    * double tree. `base` yields grp, arm. */
  def sampleRatioMismatchSql(base: String, expected0: Double): String = {
    val e0 = s"(CAST(n0 + n1 AS DOUBLE) * $expected0)"
    val e1 = s"(CAST(n0 + n1 AS DOUBLE) * ${1.0 - expected0})"
    val chi2 = s"((CAST(n0 AS DOUBLE) - $e0) * (CAST(n0 AS DOUBLE) - $e0) / $e0 + " +
      s"(CAST(n1 AS DOUBLE) - $e1) * (CAST(n1 AS DOUBLE) - $e1) / $e1)"
    s"WITH c AS (SELECT grp, " +
      "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, " +
      "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 " +
      s"FROM $base WHERE grp IS NOT NULL GROUP BY grp) " +
      s"SELECT grp, n0, n1, round($chi2, 6) AS srm_chi2, " +
      s"($chi2 > 3.841) AS srm_flag FROM c ORDER BY grp"
  }

  /** Single binary-segmentation changepoint per group (the first split
    * of the binseg recursion, CUSUM's localizing sibling: q_cusum says
    * THAT the level shifted, this says WHERE): over the per-group daily
    * count series, the split day maximizing the between-segment score
    * S1²/N1 + S2²/N2 (equivalent to the SSE-reduction argmax for a
    * mean-shift model). Day-grid bounded: prefix sums and the argmax
    * run on the per-group day frame (the bounded-window family), never
    * the event rows.
    *
    * Exactness: daily counts and prefix sums are exact integers; the
    * score is a fixed double tree over them — identical on both engines
    * even at ties, and the argmax tie-breaks (score desc, day asc).
    *
    * Output: (group, split_day, n_days, left_days, left_sum, right_sum,
    * score), unsorted. Groups with < 2 days drop. */
  def changepoint(df: DataFrame, groupCol: String, tsCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val daily = df
      .select(col(groupCol).as("grp"),
        date_trunc("day", col(tsCol).cast("timestamp")).as("day"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "day").agg(count(lit(1)).as("n"))
    val ord = W.partitionBy("grp").orderBy("day")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val scored = daily
      .withColumn("t", row_number().over(ord))
      .withColumn("s1", sum(col("n")).over(cum))
      .withColumn("nd", count(lit(1)).over(W.partitionBy("grp")))
      .withColumn("stot", sum(col("n")).over(W.partitionBy("grp")))
      .filter(col("t") < col("nd")) // a split needs a non-empty right side
      .withColumn("score",
        (col("s1") * col("s1")).cast("double") / col("t").cast("double") +
          ((col("stot") - col("s1")) * (col("stot") - col("s1"))).cast("double") /
            (col("nd") - col("t")).cast("double"))
    scored
      .withColumn("rk", row_number().over(
        W.partitionBy("grp").orderBy(col("score").desc, col("day"))))
      .filter(col("rk") === 1)
      .select(col("grp").as(groupCol), col("day").as("split_day"),
        col("nd").as("n_days"), col("t").as("left_days"),
        col("s1").as("left_sum"), (col("stot") - col("s1")).as("right_sum"),
        round(col("score"), 6).as("score"))
  }

  /** DuckDB oracle for [[changepoint]] — identical day grid, prefix
    * sums, double score tree and tie-broken argmax. `base` yields
    * grp, ts. */
  def changepointSql(base: String): String =
    s"WITH daily AS (SELECT grp, date_trunc('day', ts) AS day, " +
      s"CAST(count(*) AS BIGINT) AS n FROM $base WHERE grp IS NOT NULL " +
      "GROUP BY grp, date_trunc('day', ts)), " +
      "sc AS (SELECT grp, day, " +
      "CAST(row_number() OVER w AS BIGINT) AS t, " +
      "CAST(sum(n) OVER (PARTITION BY grp ORDER BY day " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS s1, " +
      "CAST(count(*) OVER (PARTITION BY grp) AS BIGINT) AS nd, " +
      "CAST(sum(n) OVER (PARTITION BY grp) AS BIGINT) AS stot " +
      "FROM daily WINDOW w AS (PARTITION BY grp ORDER BY day)), " +
      "f AS (SELECT grp, day, t, s1, nd, stot, " +
      "CAST(s1 * s1 AS DOUBLE) / CAST(t AS DOUBLE) + " +
      "CAST((stot - s1) * (stot - s1) AS DOUBLE) / CAST(nd - t AS DOUBLE) AS score " +
      "FROM sc WHERE t < nd) " +
      "SELECT grp, day AS split_day, nd AS n_days, t AS left_days, " +
      "s1 AS left_sum, stot - s1 AS right_sum, round(score, 6) AS score " +
      "FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY grp ORDER BY score DESC, day) AS rk FROM f) z " +
      "WHERE rk = 1 ORDER BY grp"

  // ---------------------------------------------- r10 additions, batch 3

  /** Fleiss' kappa (Fleiss 1971, unequal-raters generalization) over an
    * (item, category) rating frame — the MULTI-rater agreement summary
    * where [[cohensKappa]] stops at two: the RLHF/annotation-pool
    * question "do my n judges per example agree beyond chance". Items
    * with fewer than 2 or more than `maxRaters` ratings drop (agreement
    * is undefined on singletons; the cap bounds the class grid).
    *
    * Exactness at scale: the usual P̄ = mean over ITEMS of per-item
    * float agreement would be a corpus-sized float fold. Instead items
    * collapse to their rater-count CLASS: for n_i = n,
    * Σ_i P_i = (Σ S_i − Σ n_i) / (n(n−1)) with S_i = Σ_j n_ij² — exact
    * integers per class — so the only float fold runs ordered over the
    * ≤ `maxRaters` class grid. P_e = Σ_j c_j² / N² is a plain integer
    * aggregate. One (item, cat) count shuffle + one item collapse, both
    * map-side combined; everything after lives on bounded grids.
    * c_j² stays int64-exact to ~3·10⁹ ratings per category (the
    * ksDistance stance — lift pe_num to decimal beyond).
    *
    * Output: one row (n_items, n_ratings, p_bar, p_e, kappa). */
  def fleissKappa(df: DataFrame, itemCol: String, catCol: String,
                  maxRaters: Int = 256): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    require(maxRaters >= 2 && maxRaters <= 4096,
      "maxRaters must be in [2, 4096]")
    // cells feeds TWO consumers (items, category marginals) — without
    // sharing, the corpus scan + (it, cat) aggregate ran twice (r19;
    // measured 12 jobs / 2x shuffle at sf0.1). Lazy shared checkpoint:
    // one evaluation, zero extra actions (materializes under items'
    // checkpoint).
    val cells = org.apache.spark.sql.graftbridge.PlanBridge
      .sharedLocalCheckpoint(df
        .select(col(itemCol).as("it"), col(catCol).cast("string").as("cat"))
        .filter(col("it").isNotNull && col("cat").isNotNull)
        .groupBy("it", "cat").agg(count(lit(1)).as("nij")))
    val items = cells.groupBy("it")
      .agg(sum(col("nij")).as("ni"), sum(col("nij") * col("nij")).as("si"))
      .filter(col("ni") >= 2L && col("ni") <= maxRaters.toLong)
      .transform(PB.localCheckpoint) // item frame; reused by classes + the cat filter
    // category marginals over RETAINED items only
    val cats = cells.join(items.select("it"), Seq("it"), "left_semi")
      .groupBy("cat").agg(sum(col("nij")).as("cj"))
    val catTot = cats.agg(sum(col("cj")).as("n_ratings"),
      sum(col("cj") * col("cj")).as("pe_num"))
    // rater-count classes: Σ_i P_i per class is a ratio of exact ints
    val classes = items.groupBy("ni")
      .agg(count(lit(1)).as("m"), sum(col("si")).as("ssum"),
        sum(col("ni")).as("nsum"))
    val ordN = W.orderBy(col("ni"))
    val pbarNum = classes
      .withColumn("term", (col("ssum") - col("nsum")).cast("double") /
        (col("ni") * (col("ni") - 1L)).cast("double"))
      .withColumn("cum", sum(col("term")).over(
        ordN.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("mtot", sum(col("m")).over(
        ordN.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rnd", row_number().over(W.orderBy(col("ni").desc)))
      .filter(col("rnd") === 1)
      .select(col("cum").as("pbar_num"), col("mtot").as("n_items"))
    val pbar = col("pbar_num") / col("n_items").cast("double")
    val pe = col("pe_num").cast("double") /
      (col("n_ratings") * col("n_ratings")).cast("double")
    pbarNum.crossJoin(catTot)
      .select(col("n_items"), col("n_ratings"),
        round(pbar, 6).as("p_bar"), round(pe, 6).as("p_e"),
        round((pbar - pe) / (lit(1.0) - pe), 6).as("kappa"))
  }

  /** DuckDB oracle for [[fleissKappa]] — identical item collapse, class
    * fold and double tree. `base` yields it, cat (cat pre-cast to
    * VARCHAR). */
  def fleissKappaSql(base: String, maxRaters: Int): String =
    s"WITH cells AS (SELECT it, cat, CAST(count(*) AS BIGINT) AS nij " +
      s"FROM $base WHERE it IS NOT NULL AND cat IS NOT NULL GROUP BY it, cat), " +
      "items AS (SELECT it, CAST(sum(nij) AS BIGINT) AS ni, " +
      "CAST(sum(nij * nij) AS BIGINT) AS si FROM cells GROUP BY it " +
      s"HAVING sum(nij) >= 2 AND sum(nij) <= $maxRaters), " +
      "cats AS (SELECT cat, CAST(sum(nij) AS BIGINT) AS cj FROM cells " +
      "WHERE it IN (SELECT it FROM items) GROUP BY cat), " +
      "ct AS (SELECT CAST(sum(cj) AS BIGINT) AS n_ratings, " +
      "CAST(sum(cj * cj) AS BIGINT) AS pe_num FROM cats), " +
      "classes AS (SELECT ni, CAST(count(*) AS BIGINT) AS m, " +
      "CAST(sum(si) AS BIGINT) AS ssum, CAST(sum(ni) AS BIGINT) AS nsum " +
      "FROM items GROUP BY ni), " +
      "pb AS (SELECT cum AS pbar_num, mtot AS n_items FROM (SELECT " +
      "sum(CAST(ssum - nsum AS DOUBLE) / CAST(ni * (ni - 1) AS DOUBLE)) " +
      "OVER (ORDER BY ni ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "CAST(sum(m) OVER (ORDER BY ni " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS mtot, " +
      "row_number() OVER (ORDER BY ni DESC) AS rnd FROM classes) WHERE rnd = 1) " +
      "SELECT n_items, n_ratings, " +
      "round(pbar_num / CAST(n_items AS DOUBLE), 6) AS p_bar, " +
      "round(CAST(pe_num AS DOUBLE) / CAST(n_ratings * n_ratings AS DOUBLE), 6) AS p_e, " +
      "round((pbar_num / CAST(n_items AS DOUBLE) - " +
      "CAST(pe_num AS DOUBLE) / CAST(n_ratings * n_ratings AS DOUBLE)) / " +
      "(1.0 - CAST(pe_num AS DOUBLE) / CAST(n_ratings * n_ratings AS DOUBLE)), 6) " +
      "AS kappa FROM pb CROSS JOIN ct"

  /** McNemar's test on two paired 0/1 gates — the PAIRED complement to
    * [[cohensKappa]]: kappa says whether the gates agree; McNemar says
    * whether their DISAGREEMENTS are asymmetric (one gate systematically
    * stricter), which is the question when deciding if a cheap
    * classifier can replace a rule cascade without shifting the pass
    * rate. Both the plain (b−c)²/(b+c) and the continuity-corrected
    * (|b−c|−1)²/(b+c) statistics; null when b+c = 0 (no disagreements —
    * the test is undefined, not zero).
    *
    * Scale shape: one map-side-combined aggregate over the corpus; all
    * counts exact integers, the statistics one fixed double tree.
    *
    * Output: one row (n_rows, n10, n01, mcnemar, mcnemar_cc). */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val agg = df
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .filter(col("a").isNotNull && col("b").isNotNull)
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
          .as("n10"),
        sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
          .as("n01"))
    val b = col("n10").cast("double")
    val c = col("n01").cast("double")
    val disc = col("n10") + col("n01")
    agg.select(col("n_rows"), col("n10"), col("n01"),
      when(disc > 0L, round((b - c) * (b - c) / (b + c), 6)).as("mcnemar"),
      when(disc > 0L, round(
        greatest(abs(b - c) - 1.0, lit(0.0)) *
          greatest(abs(b - c) - 1.0, lit(0.0)) / (b + c), 6))
        .as("mcnemar_cc"))
  }

  /** DuckDB oracle for [[mcnemar]] — identical counts and double tree.
    * `base` yields a, b as 0/1 BIGINT. */
  def mcnemarSql(base: String): String = {
    val b = "CAST(n10 AS DOUBLE)"
    val c = "CAST(n01 AS DOUBLE)"
    s"WITH agg AS (SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n10, " +
      "CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n01 " +
      s"FROM $base WHERE a IS NOT NULL AND b IS NOT NULL) " +
      "SELECT n_rows, n10, n01, " +
      s"CASE WHEN n10 + n01 > 0 THEN round(($b - $c) * ($b - $c) / ($b + $c), 6) " +
      "ELSE NULL END AS mcnemar, " +
      s"CASE WHEN n10 + n01 > 0 THEN round(" +
      s"greatest(abs($b - $c) - 1.0, 0.0) * greatest(abs($b - $c) - 1.0, 0.0) / " +
      s"($b + $c), 6) ELSE NULL END AS mcnemar_cc FROM agg"
  }

  /** Hellinger distance + total variation per group between two binned
    * populations — the bounded-metric drift pair next to [[psi]] (PSI is
    * unbounded and blows up on near-empty bins; Hellinger ∈ [0,1] and TV
    * ∈ [0,1] are the metrics you threshold when feeds can be tiny).
    * Same dense bin grid and Laplace smoothing as [[psi]]:
    * H = sqrt(1 − Σ√(p·q)), TV = ½ Σ|p − q|.
    *
    * Scale shape: identical to [[psi]] — ONE map-side-combined
    * (group, bin, side) count; folds on the bins × groups grid, ordered
    * per group (the portable float reduction).
    *
    * Output: (group, n_ref, n_cur, hellinger, tv), unsorted. */
  def distShift(df: DataFrame, groupCol: String, binCol: String,
                sideCol: String, bins: Int = 10,
                alpha: Double = 0.5): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    require(bins >= 2 && bins <= 1024, "bins must be in [2, 1024]")
    val counts = df
      .select(col(groupCol).as("grp"),
        least(greatest(col(binCol).cast("long"), lit(0L)), lit(bins - 1L))
          .as("bin"),
        col(sideCol).cast("long").as("side"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "bin")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("nr"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("nc"))
      .transform(PB.localCheckpoint) // grid-sized; reused by totals + the fold
    val tot = counts.groupBy("grp")
      .agg(sum(col("nr")).as("n_ref"), sum(col("nc")).as("n_cur"))
    val grid = tot.crossJoin(broadcast(
        counts.sparkSession.range(bins).select(col("id").as("bin"))))
      .join(counts, Seq("grp", "bin"), "left")
      .na.fill(0L, Seq("nr", "nc"))
    val p = (col("nr").cast("double") + lit(alpha)) /
      (col("n_ref").cast("double") + lit(alpha) * bins)
    val q = (col("nc").cast("double") + lit(alpha)) /
      (col("n_cur").cast("double") + lit(alpha) * bins)
    val ord = W.partitionBy("grp").orderBy("bin")
    grid
      .withColumn("hc", sqrt(p * q))
      .withColumn("tc", abs(p - q))
      .withColumn("hcum", sum(col("hc")).over(
        ord.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("tcum", sum(col("tc")).over(
        ord.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nb", count(lit(1)).over(W.partitionBy("grp")))
      .filter(col("rn") === col("nb"))
      .select(col("grp").as(groupCol), col("n_ref"), col("n_cur"),
        round(sqrt(greatest(lit(1.0) - col("hcum"), lit(0.0))), 6)
          .as("hellinger"),
        round(col("tcum") * 0.5, 6).as("tv"))
  }

  /** DuckDB oracle for [[distShift]] — identical grid, smoothing and
    * ordered folds. `base` yields grp, bin, side. */
  def distShiftSql(base: String, bins: Int, alpha: Double): String = {
    val p = s"((CAST(nr AS DOUBLE) + $alpha) / (CAST(n_ref AS DOUBLE) + $alpha * $bins))"
    val q = s"((CAST(nc AS DOUBLE) + $alpha) / (CAST(n_cur AS DOUBLE) + $alpha * $bins))"
    s"WITH counts AS (SELECT grp, least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1}) AS bin, " +
      "CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr, " +
      "CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc " +
      s"FROM $base WHERE grp IS NOT NULL GROUP BY grp, " +
      s"least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1})), " +
      "tot AS (SELECT grp, CAST(sum(nr) AS BIGINT) AS n_ref, " +
      "CAST(sum(nc) AS BIGINT) AS n_cur FROM counts GROUP BY grp), " +
      s"grid AS (SELECT t.grp, t.n_ref, t.n_cur, b.bin, " +
      "coalesce(c.nr, 0) AS nr, coalesce(c.nc, 0) AS nc FROM tot t " +
      s"CROSS JOIN (SELECT unnest(range(0, $bins)) AS bin) b " +
      "LEFT JOIN counts c ON t.grp = c.grp AND b.bin = c.bin), " +
      "f AS (SELECT grp, n_ref, n_cur, " +
      s"sum(sqrt($p * $q)) OVER w AS hcum, " +
      s"sum(abs($p - $q)) OVER w AS tcum, " +
      "row_number() OVER (PARTITION BY grp ORDER BY bin) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS nb FROM grid " +
      "WINDOW w AS (PARTITION BY grp ORDER BY bin " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT grp, n_ref, n_cur, " +
      "round(sqrt(greatest(1.0 - hcum, 0.0)), 6) AS hellinger, " +
      "round(tcum * 0.5, 6) AS tv FROM f WHERE rn = nb ORDER BY grp"
  }

  /** Benjamini–Hochberg FDR control over per-group binned-KS drift
    * tests — the MANY-hypotheses drift monitor: with m feeds tested
    * every day, thresholding raw p-values at α floods ops with false
    * alarms; BH's step-up keeps the expected false-discovery RATE at α.
    * Per group: binned two-sample KS D (exact integer cross products on
    * the bounded bin grid — the [[ksDistance]] numerator stance,
    * int64-exact to ~3·10⁹ rows per side),
    * asymptotic Kolmogorov p via the 3-term series
    * 2 Σ (−1)^{k−1} exp(−2k²λ²), λ = D·sqrt(nr·nc/(nr+nc)), then the
    * step-up: reject every group ranked ≤ the largest i with
    * p_(i) ≤ α·i/m.
    *
    * Scale shape: ONE map-side-combined (group, bin, side) count; the
    * CDF fold and D-argmax run per group on the bin grid; p-values and
    * the BH rank live on the GROUP grid (bounded — one row per feed),
    * ordered (p, grp) so ties rank deterministically. Groups with an
    * empty side drop (no test without two samples).
    *
    * Output: (group, n_ref, n_cur, ks_d, p_value, rnk, reject), unsorted. */
  def bhFdr(df: DataFrame, groupCol: String, binCol: String,
            sideCol: String, bins: Int = 64,
            alpha: Double = 0.10): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    require(bins >= 2 && bins <= 1024, "bins must be in [2, 1024]")
    require(alpha > 0.0 && alpha < 1.0, "alpha must be in (0, 1)")
    val counts = df
      .select(col(groupCol).as("grp"),
        least(greatest(col(binCol).cast("long"), lit(0L)), lit(bins - 1L))
          .as("bin"),
        col(sideCol).cast("long").as("side"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "bin")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("nr"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("nc"))
    val ord = W.partitionBy("grp").orderBy("bin")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val perGroup = counts
      .withColumn("cr", sum(col("nr")).over(cum))
      .withColumn("cc", sum(col("nc")).over(cum))
      .withColumn("n_ref", sum(col("nr")).over(W.partitionBy("grp")))
      .withColumn("n_cur", sum(col("nc")).over(W.partitionBy("grp")))
      .groupBy("grp", "n_ref", "n_cur")
      .agg(max(abs(col("cr") * col("n_cur") - col("cc") * col("n_ref")))
        .as("d_num"))
      .filter(col("n_ref") > 0L && col("n_cur") > 0L)
    val d = col("d_num").cast("double") /
      (col("n_ref").cast("double") * col("n_cur").cast("double"))
    val lam2 = d * d *
      (col("n_ref").cast("double") * col("n_cur").cast("double") /
        (col("n_ref") + col("n_cur")).cast("double"))
    val praw = lit(2.0) * (exp(lit(-2.0) * lam2) -
      exp(lit(-8.0) * lam2) + exp(lit(-18.0) * lam2))
    val tested = perGroup
      .withColumn("ks_d", round(d, 6))
      .withColumn("p_value",
        round(least(greatest(praw, lit(0.0)), lit(1.0)), 6))
    // BH step-up on the group grid — bounded: one row per feed
    val ordP = W.orderBy(col("p_value"), col("grp"))
    val wAll = W.partitionBy(lit(0))
    val ranked = tested
      .withColumn("rnk", row_number().over(ordP).cast("long"))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("ok", col("p_value") <=
        lit(alpha) * col("rnk").cast("double") / col("m").cast("double"))
      .withColumn("maxok", max(when(col("ok"), col("rnk"))).over(wAll))
    ranked.select(col("grp").as(groupCol), col("n_ref"), col("n_cur"),
        col("ks_d"), col("p_value"), col("rnk"),
        (col("rnk") <= coalesce(col("maxok"), lit(0L))).as("reject"))
  }

  /** DuckDB oracle for [[bhFdr]] — identical grid, CDF cross products,
    * p series and step-up. `base` yields grp, bin, side. */
  def bhFdrSql(base: String, bins: Int, alpha: Double): String =
    s"WITH counts AS (SELECT grp, least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1}) AS bin, " +
      "CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nr, " +
      "CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc " +
      s"FROM $base WHERE grp IS NOT NULL GROUP BY grp, " +
      s"least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1})), " +
      "cdf AS (SELECT grp, " +
      "CAST(sum(nr) OVER w AS BIGINT) AS cr, " +
      "CAST(sum(nc) OVER w AS BIGINT) AS cc, " +
      "CAST(sum(nr) OVER (PARTITION BY grp) AS BIGINT) AS n_ref, " +
      "CAST(sum(nc) OVER (PARTITION BY grp) AS BIGINT) AS n_cur " +
      "FROM counts WINDOW w AS (PARTITION BY grp ORDER BY bin " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "pg AS (SELECT grp, n_ref, n_cur, " +
      "CAST(max(abs(cr * n_cur - cc * n_ref)) AS BIGINT) AS d_num " +
      "FROM cdf WHERE n_ref > 0 AND n_cur > 0 GROUP BY grp, n_ref, n_cur), " +
      "t AS (SELECT grp, n_ref, n_cur, " +
      "round(CAST(d_num AS DOUBLE) / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE)), 6) AS ks_d, " +
      "round(least(greatest(2.0 * (exp(-2.0 * lam2) - exp(-8.0 * lam2) + " +
      "exp(-18.0 * lam2)), 0.0), 1.0), 6) AS p_value FROM (SELECT *, " +
      "(CAST(d_num AS DOUBLE) / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))) * " +
      "(CAST(d_num AS DOUBLE) / (CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE))) * " +
      "(CAST(n_ref AS DOUBLE) * CAST(n_cur AS DOUBLE) / " +
      "CAST(n_ref + n_cur AS DOUBLE)) AS lam2 FROM pg) z), " +
      "r AS (SELECT *, CAST(row_number() OVER (ORDER BY p_value, grp) AS BIGINT) AS rnk, " +
      "CAST(count(*) OVER () AS BIGINT) AS m FROM t), " +
      "r2 AS (SELECT *, max(CASE WHEN p_value <= " +
      s"$alpha * CAST(rnk AS DOUBLE) / CAST(m AS DOUBLE) THEN rnk END) " +
      "OVER () AS maxok FROM r) " +
      "SELECT grp, n_ref, n_cur, ks_d, p_value, rnk, " +
      "(rnk <= coalesce(maxok, 0)) AS reject FROM r2 ORDER BY grp"

  /** Per-group average precision over score-descending BUCKET blocks —
    * the PR-curve summary next to [[groupAuc]]'s ROC summary: AUC is
    * prevalence-blind, AP is the number that moves when positives are
    * rare (the retrieval / filter-tuning regime). Ties collapse into
    * their bucket block and each block contributes
    * pos_b · (TP_≤b / N_≤b) — precision at the END of the block — summed
    * descending, normalized by total positives (the deterministic
    * tie-collapsed AP; document the convention, both engines share it).
    *
    * Scale shape: per-(group, bucket) label counts map-side combine (the
    * [[groupAuc]] stance); the AP fold runs ordered on the bounded
    * bucket grid, never a per-row rank. Groups with no positives drop.
    *
    * Output: (group, n_pos, n_rows, avg_prec), unsorted. */
  def avgPrecision(df: DataFrame, groupCol: String, bucketCol: String,
                   labelCol: String): DataFrame =
    apFromCounts(aucCounts(df, groupCol, bucketCol, labelCol), groupCol)

  /** The fold half of [[avgPrecision]], off the SAME (grp, b, np, nn)
    * count frame as [[aucFromCounts]] — one mergeable state serves both
    * ranking metrics, so the streaming aucStream snapshot reads its AP
    * for free (pre-summed duplicates allowed, they re-collapse). */
  def apFromCounts(counts0: DataFrame, groupCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val counts = counts0.groupBy("grp", "b")
      .agg(sum(col("np")).as("np"),
        (sum(col("np")) + sum(col("nn"))).as("nb"))
    val ord = W.partitionBy("grp").orderBy(col("b").desc)
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    counts
      .withColumn("tp", sum(col("np")).over(cum))
      .withColumn("nn", sum(col("nb")).over(cum))
      .withColumn("term", col("np").cast("double") *
        (col("tp").cast("double") / col("nn").cast("double")))
      .withColumn("apnum", sum(col("term")).over(cum))
      .withColumn("rn", row_number().over(ord))
      .withColumn("k", count(lit(1)).over(W.partitionBy("grp")))
      .filter(col("rn") === col("k") && col("tp") > 0L)
      .select(col("grp").as(groupCol), col("tp").as("n_pos"),
        col("nn").as("n_rows"),
        round(col("apnum") / col("tp").cast("double"), 6).as("avg_prec"))
  }

  /** DuckDB oracle for [[avgPrecision]] — identical bucket counts and
    * descending block fold. `base` yields grp, b, y. */
  def avgPrecisionSql(base: String): String =
    s"WITH counts AS (SELECT grp, CAST(b AS BIGINT) AS b, " +
      "CAST(sum(y) AS BIGINT) AS np, CAST(count(*) AS BIGINT) AS nb " +
      s"FROM $base WHERE grp IS NOT NULL GROUP BY grp, CAST(b AS BIGINT)), " +
      "f1 AS (SELECT grp, b, np, " +
      "CAST(sum(np) OVER w AS BIGINT) AS tp, " +
      "CAST(sum(nb) OVER w AS BIGINT) AS nn, " +
      "row_number() OVER (PARTITION BY grp ORDER BY b DESC) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS k FROM counts " +
      "WINDOW w AS (PARTITION BY grp ORDER BY b DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "f AS (SELECT grp, b, np, tp, nn, rn, k, " +
      "sum(CAST(np AS DOUBLE) * (CAST(tp AS DOUBLE) / CAST(nn AS DOUBLE))) " +
      "OVER (PARTITION BY grp ORDER BY b DESC " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS apnum FROM f1) " +
      "SELECT grp, tp AS n_pos, nn AS n_rows, " +
      "round(apnum / CAST(tp AS DOUBLE), 6) AS avg_prec FROM f " +
      "WHERE rn = k AND tp > 0 ORDER BY grp"

  /** Quantile normalization of per-group bucketed scores onto the
    * POOLED distribution — the cross-source score calibrator: two
    * feeds' classifier scores are not comparable (one's 0.9 is
    * another's 0.5), so each (group, bucket) maps to the smallest
    * pooled bucket whose pooled CDF reaches the group's own CDF at that
    * bucket. Filtering on `norm_b` then applies ONE threshold meaning
    * the same quantile everywhere (the rank-based sibling of
    * q_score_calibrate's per-group Platt scaling).
    *
    * Exactness: both CDFs stay integer; the mapping condition is the
    * cross product cp·n_g ≥ cr·N — no division anywhere, fully
    * hash-exact (int64-exact to ~3·10⁹ rows per group side — the
    * ksDistance stance; lift to decimal beyond). Scale shape: ONE map-side-combined (group, bucket)
    * count over the corpus; CDFs and the mapping join live on the
    * bins-bounded grids (groups×bins vs bins — broadcast the pooled
    * side).
    *
    * Output: (group, b, n, src_cdf_num, norm_b), unsorted. */
  def quantileNorm(df: DataFrame, groupCol: String, binCol: String,
                   bins: Int = 64): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    require(bins >= 2 && bins <= 1024, "bins must be in [2, 1024]")
    val counts = df
      .select(col(groupCol).as("grp"),
        least(greatest(col(binCol).cast("long"), lit(0L)), lit(bins - 1L))
          .as("b"))
      .filter(col("grp").isNotNull)
      .groupBy("grp", "b").agg(count(lit(1)).as("n"))
      .transform(PB.localCheckpoint) // grid-sized; feeds src CDF + pooled CDF
    val ordB = W.partitionBy("grp").orderBy("b")
    val src = counts
      .withColumn("cr", sum(col("n")).over(
        ordB.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("ng", sum(col("n")).over(W.partitionBy("grp")))
    val pooled = counts.groupBy("b").agg(sum(col("n")).as("cp0"))
    val ordP = W.orderBy("b") // pooled grid — bins-bounded global window
    val pooledCdf = pooled
      .withColumn("cp", sum(col("cp0")).over(
        ordP.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .crossJoin(broadcast(pooled.agg(sum(col("cp0")).as("nn_tot"))))
      .select(col("b").as("pb"), col("cp"), col("nn_tot"))
    src.join(broadcast(pooledCdf),
        col("cp") * col("ng") >= col("cr") * col("nn_tot"))
      .groupBy("grp", "b", "n", "cr")
      .agg(min(col("pb")).as("norm_b"))
      .select(col("grp").as(groupCol), col("b"), col("n"),
        col("cr").as("src_cdf_num"), col("norm_b"))
  }

  /** DuckDB oracle for [[quantileNorm]] — identical grids, integer
    * cross-product mapping. `base` yields grp, bin. */
  def quantileNormSql(base: String, bins: Int): String =
    s"WITH counts AS (SELECT grp, least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1}) AS b, " +
      s"CAST(count(*) AS BIGINT) AS n FROM $base WHERE grp IS NOT NULL " +
      s"GROUP BY grp, least(greatest(CAST(bin AS BIGINT), 0), ${bins - 1})), " +
      "src AS (SELECT grp, b, n, " +
      "CAST(sum(n) OVER (PARTITION BY grp ORDER BY b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cr, " +
      "CAST(sum(n) OVER (PARTITION BY grp) AS BIGINT) AS ng FROM counts), " +
      "pooled AS (SELECT b, CAST(sum(n) AS BIGINT) AS cp0 FROM counts GROUP BY b), " +
      "pc AS (SELECT b AS pb, " +
      "CAST(sum(cp0) OVER (ORDER BY b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp, " +
      "CAST((SELECT sum(cp0) FROM pooled) AS BIGINT) AS nn_tot FROM pooled) " +
      "SELECT grp, b, n, cr AS src_cdf_num, " +
      "CAST(min(pb) AS BIGINT) AS norm_b " +
      "FROM src JOIN pc ON cp * ng >= cr * nn_tot " +
      "GROUP BY grp, b, n, cr ORDER BY grp, b"

  /** Pairwise win-rate matrix with Wilson 95% intervals — the arena
    * readout BEFORE [[bradleyTerry]] fits strengths: per unordered type
    * pair, i's raw win rate over their shared users with the interval
    * that says whether the edge is real at this sample size, and a
    * `decided` flag when the CI excludes 0.5 (the "statistically
    * separated" cell an eval dashboard colors in). Same comparison
    * frame as BT (one comparison per user per pair, ties drop) — the
    * two operators cannot disagree about what a "win" is.
    *
    * Scale shape: per-(user, type) counts map-side combine (the only
    * corpus shuffle); the pair self-join runs per user on their
    * type-bounded rows; everything after lives on the |types|² grid.
    * All counts exact integers; Wilson is the [[wilsonInterval]] tree.
    *
    * Output: (i, j, n_comp, n_wins_i, win_rate, ci_lo, ci_hi, decided). */
  def winRateMatrix(df: DataFrame, userCol: String, typeCol: String,
                    z: Double = 1.96): DataFrame = {
    val ut = df.groupBy(col(userCol).as("u"), col(typeCol).as("t"))
      .agg(count(lit(1)).as("n"))
    val comp = ut.as("a").join(ut.as("b"),
        col("a.u") === col("b.u") && col("a.t") < col("b.t"))
      .filter(col("a.n") =!= col("b.n"))
      .select(col("a.t").as("i"), col("b.t").as("j"),
        when(col("a.n") > col("b.n"), 1L).otherwise(0L).as("wi"))
    val pairs = comp.groupBy("i", "j")
      .agg(count(lit(1)).as("n_comp"), sum(col("wi")).as("n_wins_i"))
    val nD = col("n_comp").cast("double")
    val p = col("n_wins_i").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = p + z2 / (lit(2.0) * nD)
    val margin = lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))
    val lo = (center - margin) / denom
    val hi = (center + margin) / denom
    pairs.select(col("i"), col("j"), col("n_comp"), col("n_wins_i"),
        round(p, 6).as("win_rate"),
        round(lo, 6).as("ci_lo"), round(hi, 6).as("ci_hi"),
        (lo > 0.5 || hi < 0.5).as("decided"))
      .orderBy("i", "j")
  }

  /** DuckDB oracle for [[winRateMatrix]] — identical comparison frame
    * and Wilson tree. */
  def winRateMatrixSql(table: String, userExpr: String, typeExpr: String,
                       z: Double = 1.96): String = {
    val z2 = z * z
    val nD = "CAST(n_comp AS DOUBLE)"
    val p = s"(CAST(n_wins_i AS DOUBLE) / $nD)"
    val denom = s"(1.0 + $z2 / $nD)"
    val center = s"($p + $z2 / (2.0 * $nD))"
    val margin = s"($z * sqrt($p * (1.0 - $p) / $nD + $z2 / (4.0 * $nD * $nD)))"
    val lo = s"(($center - $margin) / $denom)"
    val hi = s"(($center + $margin) / $denom)"
    s"WITH ut AS (SELECT $userExpr AS u, $typeExpr AS t, " +
      s"CAST(count(*) AS BIGINT) AS n FROM $table GROUP BY u, t), " +
      "pairs AS (SELECT a.t AS i, b.t AS j, " +
      "CAST(count(*) AS BIGINT) AS n_comp, " +
      "CAST(sum(CASE WHEN a.n > b.n THEN 1 ELSE 0 END) AS BIGINT) AS n_wins_i " +
      "FROM ut a JOIN ut b ON a.u = b.u AND a.t < b.t " +
      "WHERE a.n <> b.n GROUP BY a.t, b.t) " +
      s"SELECT i, j, n_comp, n_wins_i, round($p, 6) AS win_rate, " +
      s"round($lo, 6) AS ci_lo, round($hi, 6) AS ci_hi, " +
      s"($lo > 0.5 OR $hi < 0.5) AS decided " +
      "FROM pairs ORDER BY i, j"
  }
}
