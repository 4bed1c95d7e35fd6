package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** Temporal operators Spark has no built-in form for: backward as-of join
  * and gap-based sessionization (batch form; the streaming sibling lives in
  * graft.streaming). Both are one-shuffle plans: hash-partition by key,
  * sort by time within the partition, then a linear carry-forward pass —
  * the shape a 1000-executor SMJ wants. Per-key work is inherently
  * sequential (that IS the semantics), so a pathologically hot key is the
  * scale hazard; keys here are users/instruments with bounded history.
  */
object Temporal {

  /** Backward as-of join: every left row picks up the payload of the
    * LATEST right row with the same key and `right.time <= left.time`
    * (inclusive), or nulls when no such row exists.
    *
    * Plan: tag sides, union, and carry the last non-null right payload
    * forward through a (key)-partitioned (time, side)-ordered window —
    * right rows sort before left rows at equal time, giving the inclusive
    * bound. The payload travels as ONE struct so multi-column payloads
    * always come from the same right row. One shuffle + one sort; no
    * row-multiplying join, no per-left-row probe.
    *
    * `right` must be unique per (key, time) — pre-aggregate it otherwise
    * (ties would be nondeterministic in any as-of engine, DuckDB's ASOF
    * included). */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String,
               timeCol: String, payload: Seq[String],
               outPrefix: String = "asof_"): DataFrame = {
    val reserved = Seq("_side", "_asof_payload", "_carry")
    require(!left.columns.exists(reserved.contains),
      s"asofJoin: left must not contain helper columns ${reserved.mkString(", ")}")
    // chained as-of joins with the same payload would otherwise emit
    // duplicate output columns (AMBIGUOUS_REFERENCE downstream)
    val outCols = payload.map(outPrefix + _)
    require(!left.columns.exists(outCols.contains),
      s"asofJoin: left already contains output column(s) " +
        s"${outCols.filter(left.columns.contains).mkString(", ")} — " +
        "pass a different outPrefix")
    val leftCols = left.columns.toSeq
    val r = right
      .select(col(keyCol), col(timeCol),
        struct(payload.map(col): _*).as("_asof_payload"))
      .withColumn("_side", lit(0))
    val u = left.withColumn("_side", lit(1))
      .unionByName(r, allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("_carry", last(col("_asof_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1)
      .select(leftCols.map(col) ++
        payload.map(p => col(s"_carry.$p").as(outPrefix + p)): _*)
  }

  /** Point-in-time join: each fact row picks the dimension version
    * whose validity interval `[fromCol, toCol)` covers the fact's
    * timestamp (toCol null = still current). Contract: per key the
    * intervals are NON-OVERLAPPING and CONTIGUOUS (every non-null toCol
    * equals the next version's fromCol — exactly what [[MergeOps.scd2]]
    * emits); zero-width versions (from == to) match nothing.
    *
    * The naive equi-key join + interval filter is QUADRATIC per key
    * (facts_k x versions_k, both linear in data — measured 218x on the
    * 10x sf1 board, the r10 scaling audit's worst entry). This is the
    * linear union+window form: one shuffle on the key, one per-key sort
    * of facts+versions together, one last-value carry — per-key cost
    * (facts_k + versions_k) log, never a cross product. At equal
    * timestamps versions order by (from, to) so the carry lands on the
    * one covering version (a zero-width version is followed by its
    * covering sibling with the same `from`); facts sort AFTER versions
    * at the same instant, making `from <= t` inclusive like the filter
    * form. Contiguity guarantees the carried version covers the fact
    * whenever any version does, so no residual to-test is needed. */
  def pitJoin(facts: DataFrame, dim: DataFrame, keyCol: String,
              factTimeCol: String, fromCol: String, toCol: String,
              payload: Seq[String], outPrefix: String = ""): DataFrame = {
    val reserved = Seq("_side", "_pit_payload", "_pit_carry", "_t", "_to_ord")
    require(!facts.columns.exists(reserved.contains),
      s"pitJoin: facts must not contain helper columns ${reserved.mkString(", ")}")
    val factCols = facts.columns.toSeq
    val d = dim.select(col(keyCol), col(fromCol).as("_t"),
        coalesce(unix_micros(col(toCol)), lit(Long.MaxValue)).as("_to_ord"),
        struct((payload :+ fromCol :+ toCol).distinct.map(col): _*)
          .as("_pit_payload"))
      .withColumn("_side", lit(0))
    val f = facts
      .withColumn("_t", col(factTimeCol))
      .withColumn("_to_ord", lit(Long.MaxValue))
      .withColumn("_side", lit(1))
    val u = f.unionByName(d, allowMissingColumns = true)
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_t"), col("_side"), col("_to_ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("_pit_carry", last(col("_pit_payload"), ignoreNulls = true).over(w))
      .filter(col("_side") === 1 && col("_pit_carry").isNotNull &&
        // zero-width carried version (from == to) matches nothing; the
        // covering sibling (same from, larger to) sorts after it, so a
        // zero-width carry means NO version covers this fact
        (col(s"_pit_carry.$toCol").isNull ||
          col(factTimeCol) < col(s"_pit_carry.$toCol")))
      .select(factCols.map(col) ++
        payload.map(p => col(s"_pit_carry.$p").as(outPrefix + p)): _*)
  }

  /** Gap-based sessionization: consecutive events of a key belong to one
    * session while the gap to the previous event is <= `gapSec`; a larger
    * gap (or the first event) opens a new session. Returns one row per
    * session with event count, start/end, and summed `valueCol`.
    *
    * Gaps compare in integer MICROSECONDS (unix_micros) — no truncation
    * semantics for an oracle to disagree over. `tieCol` makes the
    * within-key order total, so session boundaries are deterministic even
    * with duplicate timestamps. */
  def sessionize(df: DataFrame, keyCol: String, timeCol: String,
                 tieCol: String, valueCol: String,
                 gapSec: Long): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(timeCol), col(tieCol))
    val us = unix_micros(col(timeCol))
    val prevUs = lag(us, 1).over(ord)
    val brk = when(prevUs.isNull || us - prevUs > gapSec * 1000000L, 1L)
      .otherwise(0L)
    df.withColumn("_brk", brk)
      .withColumn("session_id",
        sum(col("_brk")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col(timeCol)), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col(timeCol)), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        round(sum(col(valueCol)), 2).as("sum_value"))
  }

  /** Merge overlapping-or-touching per-key intervals into islands
    * (gaps-and-islands): an interval starts a new island iff its start
    * exceeds the running maximum end of every earlier interval of the
    * key — the running max (not lag(end)) is what makes a long interval
    * correctly swallow short ones that start later but end earlier.
    *
    * Same scale shape as [[sessionize]]: ONE shuffle on the key, a sorted
    * window pass, then a map-side-combinable groupBy. `tieCol` must make
    * the sort total so island numbering is deterministic.
    *
    * Input columns are epoch-microsecond longs (`startUs`, `endUs`);
    * output is one row per island: key, island_id (1-based per key),
    * island start/end (us), n spanned intervals. */
  def mergeIntervals(df: DataFrame, keyCol: String, startUs: String,
                     endUs: String, tieCol: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(startUs), col(tieCol))
    val prevMaxEnd = max(col(endUs))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val brk = when(prevMaxEnd.isNull || col(startUs) > prevMaxEnd, 1L)
      .otherwise(0L)
    df.withColumn("_brk", brk)
      .withColumn("island_id",
        sum(col("_brk")).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("island_id"))
      .agg(
        min(col(startUs)).as("island_start_us"),
        max(col(endUs)).as("island_end_us"),
        count(lit(1)).as("n_intervals"))
  }

  /** Per-key inter-arrival statistics: gaps between consecutive events in
    * (time, tie) order — the feed-health / user-cadence profile. One
    * shuffle on the key. Everything stays in EXACT integer microseconds
    * (the average is a floor integer division): a fractional-seconds
    * presentation invites round-half disagreements between engines —
    * sum/count lands exactly on a .5 boundary for real data, and
    * decimal-HALF_UP (Spark) vs binary-double rounding (DuckDB) then
    * split — while integer micros are engine-proof. */
  def interArrival(df: DataFrame, keyCol: String, timeCol: String,
                   tieCol: String): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(timeCol), col(tieCol))
    val us = unix_micros(col(timeCol))
    val gap = us - lag(us, 1).over(ord)
    df.withColumn("_gap_us", gap)
      .groupBy(col(keyCol))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("_gap_us")).as("n_gaps"),
        expr("sum(_gap_us) div count(_gap_us)").as("avg_gap_us"),
        max(col("_gap_us")).as("max_gap_us"),
        min(col("_gap_us")).as("min_gap_us"))
  }

  /** Sliding-frame rolling cadence: for every event, the inter-arrival gap
    * and the rolling sum/count/average of the last `frameRows` gaps (rows
    * frame, per key, (time, tie) order) — the moving-average smoother in
    * its engine-proof form. Everything stays in exact integer microseconds
    * (integer sums are associative, so the sliding-frame optimization any
    * engine applies — subtract-on-slide, segment trees — cannot change the
    * result the way it does for float frames; the average is a floor
    * division). One shuffle on the key; the frame never leaves the
    * per-key sort. Null-frame rows (each key's first event has no gap)
    * surface as -1 sentinels so the output is join/compare-safe. */
  def rollingGaps(df: DataFrame, keyCol: String, timeCol: String,
                  tieCol: String, frameRows: Int = 4): DataFrame = {
    val ord = Window.partitionBy(col(keyCol)).orderBy(col(timeCol), col(tieCol))
    val frame = ord.rowsBetween(-(frameRows - 1), Window.currentRow)
    val us = unix_micros(col(timeCol))
    df.withColumn("_gap_us", us - lag(us, 1).over(ord))
      .withColumn("roll_n", count(col("_gap_us")).over(frame))
      .withColumn("roll_sum_us", sum(col("_gap_us")).over(frame))
      .select(
        col(keyCol),
        col(tieCol),
        coalesce(col("_gap_us"), lit(-1L)).as("gap_us"),
        col("roll_n"),
        coalesce(col("roll_sum_us"), lit(-1L)).as("roll_sum_us"),
        // guard the zero-gap frame (each key's first row): ANSI `div`
        // errors on a zero divisor rather than returning null
        when(col("roll_n") > 0, expr("roll_sum_us div roll_n"))
          .otherwise(lit(-1L)).as("roll_avg_us"))
  }

  /** Regular-grid resampling with forward fill: bucket an irregular
    * event stream to fixed `unit` bins per key, materialize the EMPTY
    * bins (a time series consumer needs every tick), and carry the last
    * observed value across gaps (`value_ff`; `n` = 0 marks the filled
    * rows). The per-bin representative is `max` — exact and
    * order-independent, unlike a float sum.
    *
    * Scale shape: rows collapse to (key, bin) aggregates in one
    * map-side-combined shuffle (bin cardinality = time range / unit,
    * data-independent); the grid explodes off the per-key [min, max]
    * span frame — DOMAIN-bounded (keys × range), never row-scaled. The
    * bin frame is materialized once (two consumers: spans + the join).
    * The forward-fill window is one task per key bounded by the bin
    * count, not the data; for multi-year spans at second resolution,
    * split the fill by (key, coarse epoch) and stitch offsets like the
    * two-stage prefix scan. */
  def resample(df: DataFrame, keyCol: String, tsCol: String,
               valueCol: String, unit: String = "hour"): DataFrame = PB.scoped {
    val W = Window
    val bins = df.groupBy(col(keyCol).as("k"),
        date_trunc(unit, col(tsCol)).as("bin"))
      .agg(count(lit(1)).as("n"), max(col(valueCol)).as("v"))
      .transform(PB.localCheckpoint)
    val spans = bins.groupBy("k").agg(min(col("bin")).as("lo"),
      max(col("bin")).as("hi"))
    val grid = spans.select(col("k"), explode(sequence(col("lo"),
      col("hi"), expr(s"interval 1 $unit"))).as("bin"))
    val ff = W.partitionBy("k").orderBy("bin")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    grid.join(bins, Seq("k", "bin"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("value_ff", last(col("v"), ignoreNulls = true).over(ff))
      .select(col("k").as(keyCol), col("bin"), col("n"), col("value_ff"))
  }

  /** DuckDB oracle for [[resample]] — identical bin/span/grid/fill tree
    * (single-window fill: the two-stage split is partitioning machinery,
    * not semantics). */
  def resampleSql(table: String, keyExpr: String, tsExpr: String,
                  valueExpr: String, unit: String = "hour"): String =
    s"WITH bins AS (SELECT $keyExpr AS k, date_trunc('$unit', $tsExpr) AS bin, " +
      s"CAST(count(*) AS BIGINT) AS n, max($valueExpr) AS v " +
      s"FROM $table GROUP BY k, bin), " +
      "spans AS (SELECT k, min(bin) AS lo, max(bin) AS hi FROM bins GROUP BY k), " +
      "grid AS (SELECT k, unnest(generate_series(lo, hi, " +
      s"INTERVAL 1 $unit)) AS bin FROM spans), " +
      "j AS (SELECT grid.k, grid.bin, coalesce(n, 0) AS n, v " +
      "FROM grid LEFT JOIN bins ON grid.k = bins.k AND grid.bin = bins.bin) " +
      s"SELECT k AS $keyExpr, bin, n, last_value(v IGNORE NULLS) OVER (" +
      "PARTITION BY k ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND " +
      s"CURRENT ROW) AS value_ff FROM j ORDER BY $keyExpr, bin"

  /** Regular-grid resample with LINEAR interpolation across empty bins —
    * [[resample]]'s forward-fill sibling for quantities where holding the
    * last value misstates the trend (gauge readings, rates). Empty bins
    * between two observed bins get `prev + (next − prev) · gap_fraction`;
    * the gap fraction is a ratio of BIN INDICES (exact integers from
    * row_number over the contiguous grid), so both engines compute the
    * identical double expression. The grid spans [min bin, max bin] per
    * key, so every empty bin is interior — prev and next always exist.
    *
    * Scale shape: identical to [[resample]] — the grid is DOMAIN-bounded
    * (keys × range); the interpolation windows are per-key, bounded by
    * bin count; same split-and-stitch note for multi-year second grids.
    *
    * Output: (key, bin, n, value_interp), value_interp rounded to 6. */
  def interpFill(df: DataFrame, keyCol: String, tsCol: String,
                 valueCol: String, unit: String = "hour"): DataFrame = PB.scoped {
    val W = Window
    val bins = df.groupBy(col(keyCol).as("k"),
        date_trunc(unit, col(tsCol)).as("bin"))
      .agg(count(lit(1)).as("n"), max(col(valueCol)).as("v"))
      .transform(PB.localCheckpoint)
    val spans = bins.groupBy("k").agg(min(col("bin")).as("lo"),
      max(col("bin")).as("hi"))
    val grid = spans.select(col("k"), explode(sequence(col("lo"),
      col("hi"), expr(s"interval 1 $unit"))).as("bin"))
    val ord = W.partitionBy("k").orderBy("bin")
    val wp = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val wf = ord.rowsBetween(W.currentRow, W.unboundedFollowing)
    grid.join(bins, Seq("k", "bin"), "left")
      .na.fill(0L, Seq("n"))
      .withColumn("idx", row_number().over(ord))
      .withColumn("pv", last(col("v"), ignoreNulls = true).over(wp))
      .withColumn("pi", last(when(col("v").isNotNull, col("idx")),
        ignoreNulls = true).over(wp))
      .withColumn("nv", first(col("v"), ignoreNulls = true).over(wf))
      .withColumn("ni", first(when(col("v").isNotNull, col("idx")),
        ignoreNulls = true).over(wf))
      .select(col("k").as(keyCol), col("bin"), col("n"),
        round(when(col("v").isNotNull, col("v"))
          .otherwise(col("pv") + (col("nv") - col("pv")) *
            ((col("idx") - col("pi")).cast("double") /
              (col("ni") - col("pi")).cast("double"))), 6)
          .as("value_interp"))
  }

  /** DuckDB oracle for [[interpFill]] — identical bin/span/grid tree and
    * index-ratio interpolation expression. */
  def interpFillSql(table: String, keyExpr: String, tsExpr: String,
                    valueExpr: String, unit: String = "hour"): String =
    s"WITH bins AS (SELECT $keyExpr AS k, date_trunc('$unit', $tsExpr) AS bin, " +
      s"CAST(count(*) AS BIGINT) AS n, max($valueExpr) AS v " +
      s"FROM $table GROUP BY k, bin), " +
      "spans AS (SELECT k, min(bin) AS lo, max(bin) AS hi FROM bins GROUP BY k), " +
      "grid AS (SELECT k, unnest(generate_series(lo, hi, " +
      s"INTERVAL 1 $unit)) AS bin FROM spans), " +
      "j AS (SELECT grid.k, grid.bin, coalesce(n, 0) AS n, v " +
      "FROM grid LEFT JOIN bins ON grid.k = bins.k AND grid.bin = bins.bin), " +
      "jx AS (SELECT k, bin, n, v, " +
      "row_number() OVER (PARTITION BY k ORDER BY bin) AS idx FROM j), " +
      "w AS (SELECT k, bin, n, v, idx, " +
      "last_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY bin " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, " +
      "last_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER " +
      "(PARTITION BY k ORDER BY bin " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pi, " +
      "first_value(v IGNORE NULLS) OVER (PARTITION BY k ORDER BY bin " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, " +
      "first_value(CASE WHEN v IS NOT NULL THEN idx END IGNORE NULLS) OVER " +
      "(PARTITION BY k ORDER BY bin " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ni " +
      "FROM jx) " +
      s"SELECT k AS $keyExpr, bin, n, " +
      "round(CASE WHEN v IS NOT NULL THEN v ELSE " +
      "pv + (nv - pv) * (CAST(idx - pi AS DOUBLE) / CAST(ni - pi AS DOUBLE)) " +
      s"END, 6) AS value_interp FROM w ORDER BY $keyExpr, bin"

  /** First/last-touch conversion attribution: every `convType` event is
    * attributed to the user's FIRST and MOST RECENT preceding
    * `touchTypes` event (the marketing/funnel credit matrix — which
    * channel opened the journey vs which closed it). Conversions with no
    * preceding touch land in the 'none' bucket rather than vanishing.
    *
    * One user-keyed shuffle: touches and conversions sort together per
    * user (ties: touches BEFORE conversions at the same timestamp —
    * pinned — then `idCol`), and two IGNORE NULLS window carries
    * (first/last over preceding rows) replace any join against the touch
    * history. Output is a counts-only matrix — integer sums,
    * partitioning-invariant (the bootstrapCi stance on float sums). */
  def touchAttribution(df: DataFrame, userCol: String, tsCol: String,
                       typeCol: String, idCol: String,
                       touchTypes: Seq[String], convType: String): DataFrame = {
    require(touchTypes.nonEmpty && !touchTypes.contains(convType),
      "touchTypes must be non-empty and exclude the conversion type")
    val isTouch = col(typeCol).isin(touchTypes: _*)
    val base = df.filter(isTouch || col(typeCol) === convType)
      .select(col(userCol).as("u"), col(tsCol).as("t"),
        when(col(typeCol) === convType, 1L).otherwise(0L).as("is_conv"),
        when(isTouch, col(typeCol)).otherwise(lit(null)).as("ch"),
        col(idCol).as("i"))
    val w = Window.partitionBy(col("u"))
      .orderBy(col("t"), col("is_conv"), col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("first_ch", first(col("ch"), ignoreNulls = true).over(w))
      .withColumn("last_ch", last(col("ch"), ignoreNulls = true).over(w))
      .filter(col("is_conv") === 1L)
      .groupBy(coalesce(col("first_ch"), lit("none")).as("first_touch"),
        coalesce(col("last_ch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_conversions"))
      .orderBy("first_touch", "last_touch")
  }

  /** DuckDB oracle for [[touchAttribution]] — identical tie order and
    * IGNORE NULLS window carries. */
  def touchAttributionSql(table: String, userExpr: String, tsExpr: String,
                          typeExpr: String, idExpr: String,
                          touchTypes: Seq[String], convType: String): String = {
    val touchList = touchTypes.map(t => s"'$t'").mkString(", ")
    val over = "OVER (PARTITION BY u ORDER BY t, is_conv, i " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)"
    s"WITH base AS (SELECT $userExpr AS u, $tsExpr AS t, " +
      s"CASE WHEN $typeExpr = '$convType' THEN 1 ELSE 0 END AS is_conv, " +
      s"CASE WHEN $typeExpr IN ($touchList) THEN $typeExpr END AS ch, " +
      s"$idExpr AS i FROM $table " +
      s"WHERE $typeExpr IN ($touchList) OR $typeExpr = '$convType'), " +
      s"carried AS (SELECT u, is_conv, " +
      s"first_value(ch IGNORE NULLS) $over AS first_ch, " +
      s"last_value(ch IGNORE NULLS) $over AS last_ch FROM base) " +
      "SELECT coalesce(first_ch, 'none') AS first_touch, " +
      "coalesce(last_ch, 'none') AS last_touch, " +
      "CAST(count(*) AS BIGINT) AS n_conversions " +
      "FROM carried WHERE is_conv = 1 " +
      "GROUP BY 1, 2 ORDER BY first_touch, last_touch"
  }

  /** Cohort retention matrix over a (user_id, day) activity frame: users
    * grouped by first-seen day, distinct actives per (cohort, day
    * offset) — the engagement matrix. The ONE definition both the batch
    * query (q_retention) and the streaming snapshot fold
    * (EventStreams.retentionStream) derive from, so the two cannot
    * drift. Two shuffles (user frontier, then cohort-cell distinct),
    * both key-balanced. */
  /** Interval-OVERLAP join: every (a, b) pair whose closed microsecond
    * intervals intersect (a_start ≤ b_end ∧ b_start ≤ a_end) — the
    * interval-interval sibling of the point-in-interval RangeJoin
    * strategy (downtime × session overlap, contract × usage windows).
    *
    * Scale shape: NEVER the quadratic cross join — both sides explode
    * into fixed-width time bins (interval length / binUs rows each) and
    * meet through an equi-join on the bin key. Each overlapping pair
    * would meet in every shared bin, so a pair is emitted exactly ONCE:
    * in bin max(binOf(a_start), binOf(b_start)), which every overlapping
    * pair shares — the joinless-dedup trick the LSH band emission uses.
    * Pick binUs near the typical interval length: too small explodes
    * rows, too large degrades to few fat bins (documented knob; skew =
    * a bin where many long intervals coexist — split hot bins by a salt
    * on one side + bin-range dup on the other at web scale).
    *
    * Inputs carry integer microsecond bounds (`aStart`/`aEnd`,
    * `bStart`/`bEnd` column names); all comparisons are integer, so the
    * join hash-verifies. Output: all a-columns + b-columns +
    * overlap_us = min(ends) − max(starts) (≥ 0). */
  def intervalJoin(a: DataFrame, b: DataFrame,
                   aStart: String, aEnd: String, bStart: String, bEnd: String,
                   binUs: Long): DataFrame = {
    require(binUs > 0, "binUs must be positive")
    def bins(df: DataFrame, s: String, e: String) =
      df.withColumn("_bin", explode(sequence(
        floor(col(s) / binUs).cast("long"), floor(col(e) / binUs).cast("long"))))
    val ab = bins(a, aStart, aEnd)
    val bb = bins(b, bStart, bEnd).withColumnRenamed("_bin", "_binb")
    ab.join(bb, col("_bin") === col("_binb") &&
        col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd) &&
        col("_bin") === greatest(
          floor(col(aStart) / binUs).cast("long"),
          floor(col(bStart) / binUs).cast("long")))
      .drop("_bin", "_binb")
      .withColumn("overlap_us",
        least(col(aEnd), col(bEnd)) - greatest(col(aStart), col(bStart)))
  }

  def retentionMatrix(activity: DataFrame): DataFrame = {
    val cohorts = activity.groupBy("user_id").agg(min(col("day")).as("cohort"))
    activity.join(cohorts, "user_id")
      .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("offset_days").cast("long").as("offset_days"), col("n_users"))
  }

  /** OHLC resample bars — the finance-standard per-bar summary lifted
    * to any metric stream: per (key, time bar) the first/last value in
    * (ts, tie) order plus min/max/count. `tieCol` totalizes the within-
    * bar order (the sessionize stance), so open/close are deterministic
    * even with duplicate timestamps.
    *
    * Scale shape: one shuffle on (key, bar); the open/close election is
    * two row_number windows INSIDE the (key, bar) partition (bounded by
    * bar population, the goldenRecord convention) folded into the same
    * aggregate pass — no joins, no global window. Values pass through
    * exactly (min/max/first/last never rounds).
    *
    * Output: (key, bar, n_rows, open, high, low, close). */
  def ohlcBars(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
               valueCol: String, unit: String = "hour"): DataFrame = {
    val base = df.select(col(keyCol).as("k"),
      date_trunc(unit, col(tsCol)).as("bar"),
      col(tsCol).as("ts"), col(tieCol).as("tie"), col(valueCol).as("v"))
    val wa = Window.partitionBy(col("k"), col("bar"))
      .orderBy(col("ts"), col("tie"))
    val wd = Window.partitionBy(col("k"), col("bar"))
      .orderBy(col("ts").desc, col("tie").desc)
    base
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy(col("k").as(keyCol), col("bar"))
      .agg(count(lit(1)).as("n_rows"),
        max(when(col("rn_a") === 1, col("v"))).as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max(when(col("rn_d") === 1, col("v"))).as("close"))
      .orderBy(keyCol, "bar")
  }

  /** DuckDB oracle for [[ohlcBars]] — identical truncation, election
    * windows and aggregates. `base` yields k, ts, tie, v. */
  def ohlcBarsSql(base: String, unit: String): String =
    s"WITH b AS (SELECT k, date_trunc('$unit', ts) AS bar, ts, tie, v FROM $base), " +
      "r AS (SELECT *, " +
      "row_number() OVER (PARTITION BY k, bar ORDER BY ts, tie) AS rn_a, " +
      "row_number() OVER (PARTITION BY k, bar ORDER BY ts DESC, tie DESC) AS rn_d " +
      "FROM b) " +
      "SELECT k, bar, CAST(count(*) AS BIGINT) AS n_rows, " +
      "max(CASE WHEN rn_a = 1 THEN v END) AS open, " +
      "max(v) AS high, min(v) AS low, " +
      "max(CASE WHEN rn_d = 1 THEN v END) AS close " +
      "FROM r GROUP BY k, bar ORDER BY k, bar"

  /** Time-weighted average per key over an irregular sample stream —
    * the correct mean for state metrics sampled at uneven intervals
    * (a plain avg over-weights bursts): each sample's value holds until
    * the NEXT sample, so it weighs its holding interval; the last
    * sample carries no interval and drops from the numerator (the
    * standard left-Riemann TWA).
    *
    * Exactness: intervals are exact integer MICROSECONDS; the weighted
    * numerator folds through ONE FIXED TREE pinned on both engines
    * (below). Output rounds 6.
    *
    * Scale shape (r12 — the r11 form ran lead + an ordered cumsum over
    * every row of a key in one window task, corpus/|keys| rows on a
    * low-cardinality key): the lead is a TWO-STAGE prefix step —
    * range-partition by (k, ts, tie), lead within the partition slice,
    * and slice-last rows take their successor from the
    * (partition × key)-sized first-row frame (its own per-key lead
    * window reads ≤ numPartitions rows, broadcast back). Count and span
    * are exact-integer plain aggregates. The float numerator folds
    * through the blockTotal-style FIXED TREE: per (key, blk) — blk =
    * portable hash of the tie, [[TwaFoldBlocks]] buckets — an ordered
    * cumsum-take-last in (ts, tie) order (key×blk-way parallel), then a
    * per-key fold over the ≤ TwaFoldBlocks block partials in blk order.
    * The tree is fixed by VALUES (not partitioning), so the double sum
    * is reproducible and the oracle mirrors it term for term.
    *
    * Output: (key, n_samples, span_us, twa). Keys with one sample drop
    * (no interval). */
  def timeWeightedAvg(df: DataFrame, keyCol: String, tsCol: String,
                      tieCol: String, valueCol: String,
                      numPartitions: Int = 8): DataFrame = PB.scoped {
    import graft.functions.TextFunctions
    // cast("timestamp"): raw-parquet TIMESTAMP_NTZ columns must coerce
    // before unix_micros (session TZ is pinned UTC, so the cast is exact)
    val base = df.select(col(keyCol).as("k"),
      col(tsCol).cast("timestamp").as("ts"),
      col(tieCol).as("tie"), col(valueCol).cast("double").as("v"))
    val ranged = base
      .repartitionByRange(numPartitions, col("k"), col("ts"), col("tie"))
      .withColumn("_pid", spark_partition_id())
      .withColumn("us", unix_micros(col("ts")))
      .transform(PB.localCheckpoint)
    val wLoc = Window.partitionBy(col("_pid"), col("k"))
      .orderBy(col("ts"), col("tie"))
    // successor timestamps for slice-last rows: the NEXT partition
    // holding k starts at its first (min) us — range partitioning keeps
    // each key's rows contiguous across partition ids
    val firsts = ranged.groupBy(col("_pid"), col("k"))
      .agg(min(col("us")).as("first_us"))
      .withColumn("nxt", lead(col("first_us"), 1)
        .over(Window.partitionBy(col("k")).orderBy(col("_pid"))))
      .select(col("_pid"), col("k"), col("nxt"))
    val dted = ranged
      .withColumn("lead_us", lead(col("us"), 1).over(wLoc))
      // no broadcast hint: firsts is numPartitions×|keys| rows — forced
      // broadcast breaks at high key cardinality (8 GB cap); AQE
      // broadcasts it at runtime when it is actually small
      .join(firsts, Seq("_pid", "k"))
      .withColumn("dt", coalesce(col("lead_us"), col("nxt")) - col("us"))
      .withColumn("wv", when(col("dt").isNotNull,
        col("v") * col("dt").cast("double")).otherwise(lit(0.0)))
      // coalesce BEFORE the mod: a NULL tie would make blk NULL, and the
      // engines disagree on where NULLs sort in the stage-2 blk fold
      // (Spark NULLS FIRST vs DuckDB NULLS LAST) — pin them to block 0
      .withColumn("blk",
        pmod(coalesce(TextFunctions.charHash(col("tie").cast("string")),
          lit(0L)), lit(TwaFoldBlocks)))
    // exact integer aggregates: partitioning-invariant, no fold tree
    val tots = dted.groupBy(col("k"))
      .agg(count(lit(1)).as("n_samples"),
        sum(coalesce(col("dt"), lit(0L))).as("span_us"))
    // fixed float tree, stage 1: per-(k, blk) ordered cumsum take-last
    val wBlk = Window.partitionBy(col("k"), col("blk"))
      .orderBy(col("ts"), col("tie"))
    val partials = dted
      .withColumn("cw", sum(col("wv"))
        .over(wBlk.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wBlk))
      .withColumn("nb",
        count(lit(1)).over(Window.partitionBy(col("k"), col("blk"))))
      .filter(col("rn") === col("nb"))
      .select(col("k"), col("blk"), col("cw"))
    // stage 2: per-key fold over <= TwaFoldBlocks partials in blk order
    val wFold = Window.partitionBy(col("k")).orderBy(col("blk"))
    val num = partials
      .withColumn("cum", sum(col("cw"))
        .over(wFold.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wFold))
      .withColumn("ncb", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("rn") === col("ncb"))
      .select(col("k"), col("cum"))
    tots.join(num, Seq("k"))
      .filter(col("span_us") > 0)
      .select(col("k").as(keyCol), col("n_samples"), col("span_us"),
        round(col("cum") / col("span_us").cast("double"), 6).as("twa"))
      .orderBy(keyCol)
  }

  /** Block count for [[timeWeightedAvg]]'s fixed per-key float tree —
    * 512 keeps the per-key stage-2 fold frame bounded while giving
    * key×512-way parallelism to the stage-1 cumsums. */
  val TwaFoldBlocks: Long = 512L

  /** DuckDB oracle for [[timeWeightedAvg]] — identical lead semantics
    * (the oracle need not be scale-shaped: one per-key lead equals the
    * two-stage form value-for-value) and the IDENTICAL fixed block
    * fold tree. `base` yields k, ts, tie, v. */
  def timeWeightedAvgSql(base: String): String = {
    import graft.functions.TextFunctions.charHashSql
    val b = TwaFoldBlocks
    s"WITH b AS (SELECT k, ts, tie, CAST(v AS DOUBLE) AS v FROM $base), " +
      "d AS (SELECT *, epoch_us(lead(ts) OVER w - ts) AS dt, " +
      s"(coalesce(${charHashSql("CAST(tie AS VARCHAR)")}, 0)) % $b AS blk " +
      "FROM b WINDOW w AS (PARTITION BY k ORDER BY ts, tie)), " +
      "w AS (SELECT k, blk, ts, tie, dt, " +
      "CASE WHEN dt IS NOT NULL THEN v * CAST(dt AS DOUBLE) ELSE 0.0 END AS wv " +
      "FROM d), " +
      "p AS (SELECT k, blk, cw FROM (SELECT k, blk, " +
      "sum(wv) OVER (PARTITION BY k, blk ORDER BY ts, tie " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw, " +
      "row_number() OVER (PARTITION BY k, blk ORDER BY ts, tie) AS rn, " +
      "count(*) OVER (PARTITION BY k, blk) AS nb FROM w) z WHERE rn = nb), " +
      "f AS (SELECT k, cum FROM (SELECT k, " +
      "sum(cw) OVER (PARTITION BY k ORDER BY blk " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (PARTITION BY k ORDER BY blk) AS rn, " +
      "count(*) OVER (PARTITION BY k) AS ncb FROM p) z WHERE rn = ncb), " +
      "t AS (SELECT k, CAST(count(*) AS BIGINT) AS n_samples, " +
      "CAST(sum(coalesce(dt, 0)) AS BIGINT) AS span_us FROM d GROUP BY k) " +
      "SELECT t.k, t.n_samples, t.span_us, " +
      "round(f.cum / CAST(t.span_us AS DOUBLE), 6) AS twa " +
      "FROM t JOIN f ON t.k = f.k WHERE t.span_us > 0 ORDER BY t.k"
  }

  /** The MERGEABLE state form of [[ohlcBars]]: per (key, bar) the bar
    * summary PLUS its open/close election keys (exact microseconds +
    * tie), so two state frames — e.g. a persisted snapshot and a new
    * micro-batch — merge exactly with [[ohlcMerge]]: count adds,
    * high/low max/min, open/close re-elect on the carried keys. Folding
    * batches through merge equals [[ohlcBars]] over the union
    * (spec-proven) — OHLC is a mergeable aggregate, which is what makes
    * the streaming sibling a fixed-size-state fold. */
  def ohlcState(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
                valueCol: String, unit: String = "hour"): DataFrame = {
    val base = df.select(col(keyCol).as("k"),
      date_trunc(unit, col(tsCol)).as("bar"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"),
      col(tieCol).as("tie"), col(valueCol).as("v"))
    val wa = Window.partitionBy(col("k"), col("bar"))
      .orderBy(col("us"), col("tie"))
    val wd = Window.partitionBy(col("k"), col("bar"))
      .orderBy(col("us").desc, col("tie").desc)
    base
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy(col("k"), col("bar"))
      .agg(count(lit(1)).as("n_rows"),
        max(when(col("rn_a") === 1, col("us"))).as("o_us"),
        max(when(col("rn_a") === 1, col("tie"))).as("o_tie"),
        max(when(col("rn_a") === 1, col("v"))).as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max(when(col("rn_d") === 1, col("us"))).as("c_us"),
        max(when(col("rn_d") === 1, col("tie"))).as("c_tie"),
        max(when(col("rn_d") === 1, col("v"))).as("close"))
  }

  /** Merge any number of [[ohlcState]] frames (unioned into `states`):
    * per (key, bar) the counts add, high/low fold, and open/close
    * re-elect on the carried (us, tie) keys — associative and
    * commutative, the cms/hll mergeable-state convention. */
  def ohlcMerge(states: DataFrame): DataFrame = {
    val wa = Window.partitionBy(col("k"), col("bar"))
      .orderBy(col("o_us"), col("o_tie"))
    val wd = Window.partitionBy(col("k"), col("bar"))
      .orderBy(col("c_us").desc, col("c_tie").desc)
    states
      .withColumn("rn_a", row_number().over(wa))
      .withColumn("rn_d", row_number().over(wd))
      .groupBy(col("k"), col("bar"))
      .agg(sum(col("n_rows")).as("n_rows"),
        max(when(col("rn_a") === 1, col("o_us"))).as("o_us"),
        max(when(col("rn_a") === 1, col("o_tie"))).as("o_tie"),
        max(when(col("rn_a") === 1, col("open"))).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max(when(col("rn_d") === 1, col("c_us"))).as("c_us"),
        max(when(col("rn_d") === 1, col("c_tie"))).as("c_tie"),
        max(when(col("rn_d") === 1, col("close"))).as("close"))
  }

  /** Stationary distribution of the per-user event-type Markov chain by
    * fixed-round power iteration — [[q_transitions]]' forward model:
    * where does the behavior chain SETTLE, which is the long-run traffic
    * mix the transition matrix implies (and a drift alarm when it stops
    * matching the observed mix). Transition counts come from consecutive
    * events per user in (ts, tie) order; x₀ is uniform over the states;
    * each round multiplies by the row-stochastic matrix with dangling
    * states (no outgoing edge) holding their own mass.
    *
    * Exactness: counts/row-sums integer; each contribution is the fixed
    * tree (x·c)/r folded per TARGET state in source-state order (ordered
    * cumsum-take-last — the pageRank convention); fixed `rounds` so the
    * oracle unrolls the identical chain.
    *
    * Scale shape: one consecutive-pair window per user (bounded), one
    * map-side-combined (i, j) count — the only corpus-sized work; every
    * iteration runs on the K²-bounded transition frame (K = distinct
    * event types, a domain constant).
    *
    * Output: (state, stationary) per state, rounded 6, state-ordered. */
  def markovStationary(events: DataFrame, userCol: String, typeCol: String,
                       tsCol: String, tieCol: String,
                       rounds: Int = 8): DataFrame = PB.scoped {
    require(rounds >= 1, "rounds must be >= 1")
    val W = Window
    val ordU = W.partitionBy("u").orderBy(col("ts"), col("tie"))
    val seq = events.select(col(userCol).as("u"), col(typeCol).as("st"),
      col(tsCol).as("ts"), col(tieCol).as("tie"))
    val c = seq.withColumn("nxt", lead(col("st"), 1).over(ordU))
      .filter(col("nxt").isNotNull)
      .groupBy(col("st").as("i"), col("nxt").as("j"))
      .agg(count(lit(1)).as("c"))
      .transform(PB.localCheckpoint) // the ONE corpus boundary — everything below is
                                     // K²-bounded (K = distinct event types)
    // r18 folded the two round-invariant joins (c⋈r, states⋈r) out of
    // the iteration. r19: the dangling flag has_out RIDES x
    // (round-invariant), dropping the per-round sv join and the sv
    // checkpoint; states is not separately checkpointed (it only feeds
    // the x0 plan). Same float tree on the same values — bit-identical.
    // NEGATIVE result (measured, reverted): running all 8 rounds as
    // lazy shared checkpoints inside the final action (the bradleyTerry
    // unroll) halved the job count (64 -> 35) but ADDED ~1 s of driver
    // plan-compile/AQE time per run (wall 1.8 -> 2.5 s at sf0.1) — the
    // eager per-round checkpoint keeps the round plans flat and is the
    // faster shape here; kept.
    val r = c.groupBy("i").agg(sum(col("c")).as("r_i"))
    val c2 = c.join(r, Seq("i")).transform(PB.localCheckpoint) // (i, j, c, r_i)
    val states = seq.select(col("st").as("v")).distinct()
    val kk = states.agg(count(lit(1)).as("k"))
    var x = states
      .join(r.select(col("i").as("v"), lit(true).as("has_out")), Seq("v"),
        "left")
      .crossJoin(broadcast(kk))
      .select(col("v"), (lit(1.0) / col("k").cast("double")).as("x"),
        col("has_out"))
      .transform(PB.localCheckpoint)
    val ordj = W.partitionBy("j").orderBy("i")
    val cumj = ordj.rowsBetween(W.unboundedPreceding, W.currentRow)
    (1 to rounds).foreach { _ =>
      val contrib = c2.join(x, c2("i") === x("v"))
        .select(col("j"), col("i"),
          (col("x") * col("c").cast("double") / col("r_i").cast("double"))
            .as("ct"))
        .withColumn("cum", sum(col("ct")).over(cumj))
        .withColumn("rn", row_number().over(ordj))
        .withColumn("nc", count(lit(1)).over(W.partitionBy("j")))
        .filter(col("rn") === col("nc"))
        .select(col("j"), col("cum"))
      val prev = x
      x = x.select(col("v"), col("x").as("xprev"), col("has_out"))
        .join(contrib.select(col("j").as("v"), col("cum")), Seq("v"), "left")
        .select(col("v"),
          (coalesce(col("cum"), lit(0.0)) +
            when(col("has_out").isNull, col("xprev")).otherwise(lit(0.0)))
            .as("x"),
          col("has_out"))
        .transform(PB.localCheckpoint)
      PB.release(prev)
    }
    x.select(col("v").as("state"), round(col("x"), 6).as("stationary"))
      .orderBy("state")
  }

  /** DuckDB oracle for [[markovStationary]] — identical pair window,
    * counts, ordered contribution folds and dangling handling, unrolled
    * `rounds` times. `eventsSub` yields (u, st, ts, tie). */
  def markovStationarySql(eventsSub: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH seqp AS (SELECT st, lead(st, 1) OVER " +
      s"(PARTITION BY u ORDER BY ts, tie) AS nxt FROM $eventsSub), " +
      "c AS (SELECT st AS i, nxt AS j, CAST(count(*) AS BIGINT) AS c " +
      "FROM seqp WHERE nxt IS NOT NULL GROUP BY i, j), " +
      "r AS (SELECT i, CAST(sum(c) AS BIGINT) AS r_i FROM c GROUP BY i), " +
      s"states AS (SELECT DISTINCT st AS v FROM $eventsSub es), " +
      "kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM states), " +
      "x0 AS (SELECT v, 1.0 / CAST(k AS DOUBLE) AS x FROM states CROSS JOIN kk)"
    for (t <- 1 to rounds) {
      sb ++= s", ctr$t AS (SELECT j, cum FROM (SELECT c.j, " +
        "sum((x.x * CAST(c.c AS DOUBLE)) / CAST(r.r_i AS DOUBLE)) OVER " +
        "(PARTITION BY c.j ORDER BY c.i " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "row_number() OVER (PARTITION BY c.j ORDER BY c.i) AS rn, " +
        "count(*) OVER (PARTITION BY c.j) AS nc " +
        s"FROM c JOIN x${t - 1} x ON c.i = x.v JOIN r ON c.i = r.i) z " +
        "WHERE rn = nc)"
      sb ++= s", x$t AS (SELECT s.v, coalesce(ctr.cum, 0.0) + " +
        "CASE WHEN r.i IS NULL THEN x.x ELSE 0.0 END AS x " +
        s"FROM states s LEFT JOIN r ON s.v = r.i " +
        s"JOIN x${t - 1} x ON s.v = x.v " +
        s"LEFT JOIN ctr$t ctr ON s.v = ctr.j)"
    }
    sb ++= s" SELECT v AS state, round(x, 6) AS stationary FROM x$rounds " +
      "ORDER BY state"
    sb.toString
  }

  /** Kaplan–Meier survival of inter-event user gaps, WITH censoring —
    * the time-to-return curve sessionization and retention both
    * implicitly assume: consecutive-event gaps are OBSERVED durations;
    * each user's open gap from their last event to the corpus horizon is
    * CENSORED (we know they lasted at least that long — dropping those
    * rows, the naive histogram's mistake, biases the curve short).
    * S(t) = Π over event-times t_i ≤ t of (1 − d_i/n_i), the
    * product-limit estimator (Kaplan & Meier 1958).
    *
    * Exactness: durations quantize to integer minutes (µs integer
    * subtraction + integer division); at-risk and event counts are
    * integers; the product runs as exp(Σ ln(1 − d/n)) in time order
    * (ordered cumsum — ln/exp single IEEE ops, the unigramNll stance);
    * a fully-dying time (d = n) would hit ln(0), so the fold carries a
    * dead flag and pins S = 0 from there instead (both engines).
    *
    * Scale shape: one per-user consecutive window (bounded), one
    * map-side-combined duration histogram; the KM fold runs on the
    * DISTINCT-duration frame (domain-bounded).
    *
    * Output: (t_min, n_risk, n_events, survival) per distinct duration,
    * time-ordered. */
  def kaplanMeier(events: DataFrame, userCol: String, tsCol: String,
                  tieCol: String): DataFrame = {
    val W = Window
    val ordU = W.partitionBy("u").orderBy(col("us"), col("tie"))
    // cast absorbs TIMESTAMP_NTZ parquet reads (session tz pinned UTC)
    val seq = events.select(col(userCol).as("u"),
      unix_micros(col(tsCol).cast("timestamp")).as("us"), col(tieCol).as("tie"))
    val tmax = seq.agg(max(col("us")).as("mx"))
    val durs = seq.withColumn("nus", lead(col("us"), 1).over(ordU))
      .crossJoin(broadcast(tmax))
      .select(expr("(coalesce(nus, mx) - us) div 60000000").as("t"),
        when(col("nus").isNotNull, 1L).otherwise(0L).as("e"))
    val byT = durs.groupBy("t")
      .agg(count(lit(1)).as("n_at"), sum(col("e")).as("d_ev"))
    val ordT = W.orderBy("t").rowsBetween(W.unboundedPreceding, W.currentRow)
    byT
      .withColumn("total", sum(col("n_at")).over(
        W.orderBy("t").rowsBetween(W.unboundedPreceding, W.unboundedFollowing)))
      .withColumn("cumn", sum(col("n_at")).over(ordT))
      .withColumn("n_risk", col("total") - col("cumn") + col("n_at"))
      .withColumn("term",
        when(col("d_ev") < col("n_risk"),
          log(lit(1.0) - col("d_ev").cast("double") /
            col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("cum", sum(col("term")).over(ordT))
      .withColumn("dead", max(when(col("d_ev") === col("n_risk"), 1L)
        .otherwise(0L)).over(ordT))
      .select(col("t").as("t_min"), col("n_risk"),
        col("d_ev").as("n_events"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(col("cum")), 6)).as("survival"))
      .orderBy("t_min")
  }

  /** DuckDB oracle for [[kaplanMeier]] — identical µs quantization,
    * at-risk accounting, ordered ln fold and dead-flag pin. `eventsSub`
    * yields (u, us, tie) with us in epoch microseconds. */
  def kaplanMeierSql(eventsSub: String): String =
    s"WITH seqd AS (SELECT us, lead(us, 1) OVER " +
      s"(PARTITION BY u ORDER BY us, tie) AS nus FROM $eventsSub), " +
      s"tmax AS (SELECT max(us) AS mx FROM $eventsSub e2), " +
      "durs AS (SELECT (coalesce(nus, mx) - us) // 60000000 AS t, " +
      "CASE WHEN nus IS NOT NULL THEN 1 ELSE 0 END AS e " +
      "FROM seqd CROSS JOIN tmax), " +
      "byt AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at, " +
      "CAST(sum(e) AS BIGINT) AS d_ev FROM durs GROUP BY t), " +
      "f AS (SELECT t, n_at, d_ev, " +
      "CAST(sum(n_at) OVER () AS BIGINT) AS total, " +
      "CAST(sum(n_at) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumn " +
      "FROM byt), " +
      "g AS (SELECT t, d_ev, CAST(total - cumn + n_at AS BIGINT) AS n_risk FROM f), " +
      "h AS (SELECT t, d_ev, n_risk, " +
      "sum(CASE WHEN d_ev < n_risk THEN ln(1.0 - CAST(d_ev AS DOUBLE) / CAST(n_risk AS DOUBLE)) ELSE 0.0 END) " +
      "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "max(CASE WHEN d_ev = n_risk THEN 1 ELSE 0 END) " +
      "OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dead " +
      "FROM g) " +
      "SELECT t AS t_min, n_risk, d_ev AS n_events, " +
      "CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(cum), 6) END AS survival " +
      "FROM h ORDER BY t_min"
}
