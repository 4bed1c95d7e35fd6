package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, col, count, lead, lit, round, row_number, sum, when}
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** gedixr `merge_gdf` re-expressed (reference: gedixr/xr.py:56-112): a
  * suffix join of the L2A and L2B frames on a composite key (the reference
  * default is `[geometry, shot, acq_time]`, xr.py:86).
  *
  * Scale notes: Spark picks broadcast vs sort-merge via AQE. On the 100 TB
  * path both sides come from the same extraction pipeline, so they should be
  * written bucketed by `shot` — then this join is co-located and needs no
  * re-shuffle (SURVEY §5).
  */
object MergeOps {

  /** Suffix join. `how` mirrors the reference's `how` parameter
    * (xr.py:73-75); overlapping non-key columns get the `suffixes`
    * (xr.py:84). The reference merges `l2b.merge(l2a)` — l2b is the left
    * side (xr.py:109). */
  /** @param check run the reference's merge pre-checks first
    *   (xr.py:115-141 runs them unconditionally; here they're opt-in
    *   because the row-count comparison costs an extra pass over both
    *   sides — at 100 TB that's a real scan you only pay when asked). */
  def mergeGdf(l2a: DataFrame, l2b: DataFrame,
               on: Seq[String] = Seq("shot", "acq_time"),
               how: String = "inner",
               suffixes: (String, String) = ("_l2a", "_l2b"),
               check: Boolean = false): DataFrame = {
    if (check) compareFrames(l2a, l2b, on)
    val overlap = (l2a.columns.toSet & l2b.columns.toSet) -- on.toSet
    def resuffix(df: DataFrame, sfx: String) =
      overlap.foldLeft(df)((d, c) => d.withColumnRenamed(c, c + sfx))
    resuffix(l2b, suffixes._2).join(resuffix(l2a, suffixes._1), on, how)
  }

  /** Merge pre-checks — ref xr.py:115-141: the join keys must exist on
    * both sides with compatible types (the CRS-equality analogue: graft
    * geometries are always EPSG:4326 numeric columns, as the reference
    * enforces in ancillary.py:146-147), and mismatched row counts are
    * warned about, as the reference does before merging. Both counts come
    * from ONE Spark action (a union of two single-row aggregates), not two
    * passes. Returns (leftCount, rightCount). */
  def compareFrames(a: DataFrame, b: DataFrame,
                    on: Seq[String] = Seq("shot", "acq_time")): (Long, Long) = {
    on.foreach { k =>
      require(a.columns.contains(k) && b.columns.contains(k),
        s"merge key '$k' missing from one side")
      require(a.schema(k).dataType == b.schema(k).dataType,
        s"merge key '$k' type mismatch: ${a.schema(k).dataType} vs ${b.schema(k).dataType}")
    }
    val counts = a.groupBy().count().withColumn("side", lit("a"))
      .unionByName(b.groupBy().count().withColumn("side", lit("b")))
      .collect().map(r => r.getString(1) -> r.getLong(0)).toMap
    val (na, nb) = (counts("a"), counts("b"))
    if (na != nb)
      System.err.println(s"[graft] merge pre-check: row counts differ ($na vs $nb)")
    (na, nb)
  }

  /** Geo-dataset merge pre-check — the other half of ref xr.py:115-141,
    * which compares CRS equality and AOI geometry equality before merging.
    * graft's dataset-level analogue of those is the GeoParquet sidecar
    * (GeoIO.GeoMeta): CRS / geometry column / encoding must MATCH (hard
    * failure — merging frames in different CRS silently produces garbage
    * coordinates), and the bboxes must OVERLAP (disjoint AOIs make every
    * join row impossible — also a hard failure, mirroring the reference's
    * AOI-equality error). Unequal-but-overlapping bboxes only warn: the
    * L2A and L2B extracts of one AOI legitimately differ at the margin. */
  def compareGeoMeta(a: graft.sources.GeoIO.GeoMeta,
                     b: graft.sources.GeoIO.GeoMeta): Unit = {
    require(a.crs == b.crs,
      s"merge pre-check: CRS mismatch (${a.crs} vs ${b.crs}) — reproject " +
      "one side before merging (ref xr.py CRS-equality check)")
    require(a.geometryColumn == b.geometryColumn,
      s"merge pre-check: geometry column mismatch " +
      s"('${a.geometryColumn}' vs '${b.geometryColumn}')")
    require(a.encoding == b.encoding,
      s"merge pre-check: geometry encoding mismatch " +
      s"(${a.encoding} vs ${b.encoding})")
    val Seq(aMinX, aMinY, aMaxX, aMaxY) = a.bbox
    val Seq(bMinX, bMinY, bMaxX, bMaxY) = b.bbox
    require(aMinX <= bMaxX && bMinX <= aMaxX && aMinY <= bMaxY && bMinY <= aMaxY,
      s"merge pre-check: disjoint bboxes (${a.bbox} vs ${b.bbox}) — " +
      "these datasets cover different AOIs, the merge would be empty")
    if (a.bbox != b.bbox)
      System.err.println(
        s"[graft] merge pre-check: bboxes overlap but differ (${a.bbox} vs ${b.bbox})")
  }

  /** Merge two GeoIO-written datasets with full pre-checks: sidecar
    * metadata (CRS/geometry/bbox) then key/count checks, then mergeGdf. */
  def mergeGeoParquet(spark: org.apache.spark.sql.SparkSession,
                      l2aPath: String, l2bPath: String,
                      on: Seq[String] = Seq("shot", "acq_time"),
                      how: String = "inner"): DataFrame = {
    val (l2a, metaA) = graft.sources.GeoIO.readGeoParquet(spark, l2aPath)
    val (l2b, metaB) = graft.sources.GeoIO.readGeoParquet(spark, l2bPath)
    compareGeoMeta(metaA, metaB)
    mergeGdf(l2a, l2b, on, how, check = true)
  }

  /** The 100 TB path for the L2A⋈L2B merge (SURVEY §5): both sides come
    * out of the same extraction pipeline, so they are written bucketed (and
    * sorted) by the join key. A later mergeGdf over the bucketed tables is
    * then a co-located sort-merge join — NO Exchange on either side, the
    * single biggest shuffle of the reference workflow eliminated. Bucket
    * count is a cluster knob: ~(total size / 128 MB) at the target scale. */
  def writeBucketed(df: DataFrame, table: String,
                    bucketCol: String = "shot", numBuckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .saveAsTable(table)

  /** Merge two bucketed tables written by writeBucketed. */
  def mergeBucketed(spark: org.apache.spark.sql.SparkSession,
                    l2aTable: String, l2bTable: String,
                    on: Seq[String] = Seq("shot", "acq_time"),
                    how: String = "inner"): DataFrame =
    mergeGdf(spark.table(l2aTable), spark.table(l2bTable), on, how)

  /** Incremental latest-wins merge (SCD-type-1 upsert, the lakehouse
    * MERGE INTO shape): union a base snapshot with an update batch and
    * keep, per key, the single row with the greatest version — so
    * applying day N's events to the state built through day N-1 yields
    * exactly the state a full recompute would. Version columns must make
    * the order total per key (e.g. ts + a unique tiebreak id), or
    * "latest" is nondeterministic.
    *
    * Scale shape: ONE shuffle on the key columns (window row_number).
    * The update batch is typically ≪ the base, so at 100 TB the win is
    * storing base bucketed by key ([[writeBucketed]]): the window then
    * reads base co-located and only the update batch shuffles — the
    * merge-on-read economics every lakehouse table format implements. */
  def latestWinsMerge(base: DataFrame, updates: DataFrame,
                      keys: Seq[String], version: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      .orderBy(version.map(col(_).desc): _*)
    val rn = Cols.fresh("_lw_rn", base.columns ++ updates.columns)
    base.unionByName(updates)
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .drop(rn)
  }

  /** CDC apply — [[latestWinsMerge]] extended with DELETES (the full
    * Debezium/Delta `MERGE` semantics): `log` carries (keys, version,
    * opCol ∈ {I, U, D}, payload); the result is the base upserted with
    * each key's LATEST log op, with keys whose latest op is a delete
    * dropped entirely. A delete superseded by a later insert correctly
    * resurrects the key — op precedence is purely by version order.
    *
    * Scale shape: identical to latestWinsMerge — ONE key shuffle for
    * the window; base rows tagged as version −∞ via a literal so the
    * union stays a single frame (no anti-join pass over base). With
    * base bucketed by key, only the log shuffles (merge-on-read
    * economics). `version` columns must totally order ops per key.
    * Log rows with a NULL op are dropped up front: letting them through
    * would win the window and then fail the `=!= "D"` filter exactly
    * like a delete — silently erasing the key on a malformed record. */
  def cdcApply(base: DataFrame, log: DataFrame, keys: Seq[String],
               version: Seq[String], opCol: String): DataFrame = {
    val all = base.columns ++ log.columns
    val rn = Cols.fresh("_cdc_rn", all)
    val isBase = Cols.fresh("_cdc_base", all)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
      // base sorts after every log row at equal version; a real log has
      // versions above the base snapshot's anyway
      .orderBy(version.map(col(_).desc) :+ col(isBase).asc: _*)
    base.withColumn(opCol, lit("I")).withColumn(isBase, lit(1))
      .unionByName(log.filter(col(opCol).isNotNull)
        .withColumn(isBase, lit(0)))
      .withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1 && col(opCol) =!= "D")
      .drop(rn, isBase, opCol)
  }

  /** SCD type-2 dimension build: turn a change log into validity
    * intervals — per key, each version becomes a row with
    * `valid_from` = its version timestamp, `valid_to` = the NEXT
    * version's (null while current) and an `is_current` flag. The
    * point-in-time join every warehouse dimension needs ("what was this
    * customer's segment when the order shipped") then composes with the
    * existing range/as-of joins.
    *
    * Scale shape: ONE key shuffle; `lead` over the per-key window is
    * narrow after it; interval columns are pure projections.
    * `tsCol` must totally order rows per key (the latestWinsMerge
    * contract): with duplicate timestamps the lead assignment — and
    * which row is "current" — is partition-order-dependent. */
  def scd2(log: DataFrame, keys: Seq[String], tsCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    log.withColumn("valid_from", col(tsCol))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Field-level survivorship (the golden record): per key, each
    * attribute independently takes its MOST RECENT NON-NULL value in
    * `verCol` order — the master-data election where a fresher record
    * with a null field must NOT erase an older field value ([[cdcApply]]
    * is the whole-row-wins sibling). Output: one row per key with
    * n_records, last_ver, and `last_<attr>` per attribute.
    *
    * One key shuffle: per-key sort, one IGNORE NULLS carry per
    * attribute inside the same window pass, keep the newest row.
    * `verCol` must be unique per key (the scd2 total-order contract) —
    * ties would make per-field winners nondeterministic in any engine. */
  def goldenRecord(df: DataFrame, keyCol: String, verCol: String,
                   attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "goldenRecord needs at least one attribute")
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{count, last, row_number}
    val carry = Window.partitionBy(col(keyCol)).orderBy(col(verCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = attrs.foldLeft(df) { (d, a) =>
      d.withColumn(s"_g_$a", last(col(a), ignoreNulls = true).over(carry))
    }
    carried
      .withColumn("_rn",
        row_number().over(Window.partitionBy(col(keyCol)).orderBy(col(verCol).desc)))
      .withColumn("n_records",
        count(lit(1)).over(Window.partitionBy(col(keyCol))))
      .filter(col("_rn") === 1)
      .select(col(keyCol) +: col("n_records") +: col(verCol).as("last_ver") +:
        attrs.map(a => col(s"_g_$a").as(s"last_$a")): _*)
      .orderBy(keyCol)
  }

  /** DuckDB oracle for [[goldenRecord]] — identical carries and
    * newest-row election over a `base` CTE exposing k/ver/attrs. */
  def goldenRecordSql(base: String, keyExpr: String, verExpr: String,
                      attrs: Seq[String]): String = {
    val over = s"OVER (PARTITION BY $keyExpr ORDER BY $verExpr " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    val carries = attrs.map(a => s"last_value($a IGNORE NULLS) $over AS _g_$a")
      .mkString(", ")
    val outs = attrs.map(a => s"_g_$a AS last_$a").mkString(", ")
    s"WITH c AS (SELECT $keyExpr, $verExpr, $carries, " +
      s"row_number() OVER (PARTITION BY $keyExpr ORDER BY $verExpr DESC) AS _rn, " +
      s"CAST(count(*) OVER (PARTITION BY $keyExpr) AS BIGINT) AS n_records " +
      s"FROM $base) " +
      s"SELECT $keyExpr, n_records, $verExpr AS last_ver, $outs " +
      s"FROM c WHERE _rn = 1 ORDER BY $keyExpr"
  }

  /** Fellegi–Sunter probabilistic record linkage (1969) with EM-fitted
    * m/u probabilities (Winkler 1988) — the principled scorer between
    * blocking ([[graft.operators.Dedup]] candidates) and
    * [[goldenRecord]] survivorship: candidate pairs reduce to boolean
    * agreement PATTERNS over the compare fields, a two-class
    * conditional-independence mixture is EM-fitted for `rounds`
    * synchronous rounds, and each pattern gets its posterior match
    * weight. Fixed-round unrolled form (pagerank convention) so the
    * oracle runs the identical chain.
    *
    * The EM never touches the pair frame after the FIRST aggregate: the
    * pattern frame is ≤ 2^|features| rows (domain-bounded), every EM
    * sum is an ordered cumsum over that frame keyed by the pattern's
    * bit id (the portable float fold), and every probability is a fixed
    * double tree — so weights hash-verify. Scale shape: one map-side-
    * combined groupBy over the (blocked — never all-pairs) candidate
    * pairs; everything after is constant-size.
    *
    * Output: one row per pattern — (features..., n_pairs, match_weight,
    * is_match), in no particular order; [[patternId]] over the feature
    * columns orders them as the oracle does. */
  def fellegiSunter(pairs: DataFrame, featCols: Seq[String], rounds: Int = 2,
                    p0: Double = 0.1, m0: Double = 0.8,
                    u0: Double = 0.2): DataFrame = PB.scoped {
    require(featCols.nonEmpty && featCols.size <= 6,
      "fellegiSunter: 1..6 boolean compare fields")
    require(rounds >= 1 && rounds <= 6, "rounds must be in [1, 6] (unrolled)")
    val W = org.apache.spark.sql.expressions.Window
    val idx = featCols.indices
    val pat = pairs
      .groupBy(featCols.map(c => col(c).cast("boolean").as(c)): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .withColumn("pid", patternId(featCols))
      .transform(PB.localCheckpoint) // ≤ 2^f rows; every EM round reads it
    var params: DataFrame = pat.sparkSession.range(1).select(
      lit(p0).as("p") +:
        idx.flatMap(i => Seq(lit(m0).as(s"m$i"), lit(u0).as(s"u$i"))): _*)
    val ord = W.orderBy("pid")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    def scored(par: DataFrame): DataFrame = {
      val pm = featCols.zipWithIndex.foldLeft(col("p")) { case (acc, (c, i)) =>
        acc * when(col(c), col(s"m$i")).otherwise(lit(1.0) - col(s"m$i"))
      }
      val pu = featCols.zipWithIndex.foldLeft(lit(1.0) - col("p")) {
        case (acc, (c, i)) =>
          acc * when(col(c), col(s"u$i")).otherwise(lit(1.0) - col(s"u$i"))
      }
      pat.crossJoin(org.apache.spark.sql.functions.broadcast(par))
        .withColumn("pm", pm).withColumn("pu", pu)
        .withColumn("w", col("pm") / (col("pm") + col("pu")))
    }
    for (_ <- 1 to rounds) {
      val sc = scored(params)
      val folded = idx.foldLeft(
        sc.withColumn("sw", sum(col("cnt") * col("w")).over(cum))
          .withColumn("su", sum(col("cnt") * (lit(1.0) - col("w"))).over(cum))
          .withColumn("nn", sum(col("cnt")).over(cum))) { (acc, i) =>
        acc
          .withColumn(s"swf$i", sum(
            when(col(featCols(i)), col("cnt") * col("w")).otherwise(lit(0.0))).over(cum))
          .withColumn(s"suf$i", sum(
            when(col(featCols(i)), col("cnt") * (lit(1.0) - col("w")))
              .otherwise(lit(0.0))).over(cum))
      }
      params = folded
        .withColumn("rn", row_number().over(ord))
        .withColumn("nc", org.apache.spark.sql.functions.count(lit(1)).over())
        .filter(col("rn") === col("nc"))
        .select((col("sw") / col("nn").cast("double")).as("p") +:
          idx.flatMap(i => Seq((col(s"swf$i") / col("sw")).as(s"m$i"),
            (col(s"suf$i") / col("su")).as(s"u$i"))): _*)
        .transform(PB.localCheckpoint) // 1 row
    }
    scored(params).select(featCols.map(col) :+ col("cnt").as("n_pairs") :+
      org.apache.spark.sql.functions.round(col("w"), 6).as("match_weight") :+
      (org.apache.spark.sql.functions.round(col("w"), 6) > 0.5).as("is_match"): _*)
  }

  /** A [[fellegiSunter]] pattern's bit id: feature i true sets bit i. */
  def patternId(featCols: Seq[String]): Column = featCols.zipWithIndex
    .map { case (c, i) => when(col(c), lit(1L << i)).otherwise(lit(0L)) }
    .reduce(_ + _)

  /** DuckDB oracle for [[fellegiSunter]] — identical pattern collapse,
    * unrolled EM chain, ordered folds and double trees. `pairsSub` must
    * yield the boolean feature columns. */
  def fellegiSunterSql(pairsSub: String, featCols: Seq[String],
                       rounds: Int = 2, p0: Double = 0.1, m0: Double = 0.8,
                       u0: Double = 0.2): String = {
    val idx = featCols.indices
    val pidExpr = featCols.zipWithIndex
      .map { case (c, i) => s"CASE WHEN $c THEN ${1L << i} ELSE 0 END" }
      .mkString(" + ")
    val glist = featCols.mkString(", ")
    def pmExpr = featCols.zipWithIndex.foldLeft("p") { case (acc, (c, i)) =>
      s"($acc * CASE WHEN $c THEN m$i ELSE 1.0 - m$i END)"
    }
    def puExpr = featCols.zipWithIndex.foldLeft("(1.0 - p)") { case (acc, (c, i)) =>
      s"($acc * CASE WHEN $c THEN u$i ELSE 1.0 - u$i END)"
    }
    val cumw = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    val sb = new StringBuilder
    sb ++= (s"WITH pat AS MATERIALIZED (SELECT $glist, " +
      s"CAST(count(*) AS BIGINT) AS cnt, $pidExpr AS pid " +
      s"FROM ($pairsSub) pr GROUP BY $glist), " +
      s"par0 AS (SELECT $p0 AS p, " +
      idx.map(i => s"$m0 AS m$i, $u0 AS u$i").mkString(", ") + ")")
    for (k <- 1 to rounds) {
      val featSums = idx.map(i =>
        s"sum(CASE WHEN ${featCols(i)} THEN cnt * w ELSE 0.0 END) " +
          s"OVER (ORDER BY pid $cumw) AS swf$i, " +
          s"sum(CASE WHEN ${featCols(i)} THEN cnt * (1.0 - w) ELSE 0.0 END) " +
          s"OVER (ORDER BY pid $cumw) AS suf$i").mkString(", ")
      sb ++= (s", sc$k AS MATERIALIZED (SELECT *, pm / (pm + pu) AS w FROM " +
        s"(SELECT pat.*, $pmExpr AS pm, $puExpr AS pu " +
        s"FROM pat CROSS JOIN par${k - 1}) t$k), " +
        s"agg$k AS (SELECT * FROM (SELECT *, " +
        s"sum(cnt * w) OVER (ORDER BY pid $cumw) AS sw, " +
        s"sum(cnt * (1.0 - w)) OVER (ORDER BY pid $cumw) AS su, " +
        s"sum(cnt) OVER (ORDER BY pid $cumw) AS nn, $featSums, " +
        s"row_number() OVER (ORDER BY pid) AS rn, count(*) OVER () AS nc " +
        s"FROM sc$k) z$k WHERE rn = nc), " +
        s"par$k AS (SELECT sw / CAST(nn AS DOUBLE) AS p, " +
        idx.map(i => s"swf$i / sw AS m$i, suf$i / su AS u$i").mkString(", ") +
        s" FROM agg$k)")
    }
    sb ++= (s" SELECT $glist, cnt AS n_pairs, round(w, 6) AS match_weight, " +
      "(round(w, 6) > 0.5) AS is_match FROM " +
      s"(SELECT pat.*, pm / (pm + pu) AS w FROM " +
      s"(SELECT pat.*, $pmExpr AS pm, $puExpr AS pu " +
      s"FROM pat CROSS JOIN par$rounds) pat) f ORDER BY pid")
    sb.toString
  }
}
