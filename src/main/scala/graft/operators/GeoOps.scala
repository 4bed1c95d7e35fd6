package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.functions.GeoFunctions

/** Whole-frame geospatial operators derived from gedixr's spatial surface. */
object GeoOps {

  /** Rasterize points onto a regular grid — the Spark-first answer to
    * gedixr's `gdf_to_xr`/make_geocube (reference: gedixr/xr.py:144-174).
    * One shuffle on the (cell-y, cell-x) key with map-side partial
    * aggregation; the cell key has far lower cardinality than the input, so
    * the shuffle payload collapses before it moves. `res` mirrors the
    * reference's `resolution` parameter (xr.py:168-169). */
  def rasterize(df: DataFrame, x: Column, y: Column, res: Double,
                measurements: Seq[(String, Column)]): DataFrame = {
    val aggs = measurements.map { case (n, c) => c.as(n) }
    df.groupBy(
        floor(y / res).cast("long").as("cy"),
        floor(x / res).cast("long").as("cx"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Multiband raster as a long-format columnar frame — the distributed
    * answer to the reference's in-memory xarray Dataset (gedixr
    * xr.py:144-174 returns one ndarray per variable): one row per
    * (band, cell), every band from ONE cell shuffle. The wide cell frame
    * ([[rasterize]], map-side combined) unpivots via `stack` — a narrow
    * zero-shuffle projection — so adding bands costs aggregate columns,
    * never extra scans or shuffles. Values cast to double (the multiband
    * contract needs one value type); downstream consumers pivot a band
    * to dense rows or export via the ESRI ASCII writer. */
  def rasterizeMultiband(df: DataFrame, x: Column, y: Column, res: Double,
                         bands: Seq[(String, Column)]): DataFrame = {
    bands.foreach { case (n, _) =>
      require(n.matches("[A-Za-z0-9_]+"),
        s"band name '$n' must be alphanumeric/underscore (it is spliced " +
          "into a stack() expression)")
    }
    val cells = rasterize(df, x, y, res, bands)
    val stackExpr = s"stack(${bands.size}, " +
      bands.map { case (n, _) => s"'$n', CAST(`$n` AS DOUBLE)" }
        .mkString(", ") + ") AS (band, value)"
    cells.select(col("cy"), col("cx"), expr(stackExpr))
      .select(col("band"), col("cy"), col("cx"), col("value"))
  }

  /** Multi-AOI fan-out — ref extract.py:175-207: one tagged subset per AOI
    * geometry. SINGLE scan of the input (r1 unioned one filtered scan per
    * AOI — N scans for N AOIs): the OR of all bboxes is pushed as one scan
    * predicate, then each surviving row explodes into its matching AOI
    * tags. The AOI list is a plan-time constant (the broadcast analogue of
    * gedixr's in-memory AOI dict); rows matching no AOI are dropped by the
    * explode of an empty tag array. */
  def multiAoiBbox(df: DataFrame, x: Column, y: Column,
                   aois: Seq[(String, (Double, Double, Double, Double))]): DataFrame = {
    val anyBbox = aois.map { case (_, b) => GeoFunctions.inBbox(x, y, b) }
      .reduceLeft(_ || _)
    multiAoiTagged(df.filter(anyBbox),
      aois.map { case (n, b) => n -> GeoFunctions.inBbox(x, y, b) })
  }

  /** Multi-AOI fan-out with exact polygon membership (general form). The
    * bbox pre-filter of each polygon's envelope is pushed to the scan; the
    * exact ray-cast runs once per (row, AOI) in the same single pass. */
  def multiAoiPolygon(df: DataFrame, x: Column, y: Column,
                      aois: Seq[(String, Seq[(Double, Double)])]): DataFrame = {
    val envelopes = aois.map { case (_, poly) =>
      val (xs, ys) = (poly.map(_._1), poly.map(_._2))
      GeoFunctions.inBbox(x, y, (xs.min, xs.max, ys.min, ys.max))
    }
    multiAoiTagged(df.filter(envelopes.reduceLeft(_ || _)),
      aois.map { case (n, poly) => n -> GeoFunctions.pointInPolygon(x, y, poly) })
  }

  /** One-scan core: per-row array of matching AOI names, exploded. */
  private def multiAoiTagged(df: DataFrame, tagged: Seq[(String, Column)]): DataFrame = {
    val tags = filter(
      array(tagged.map { case (n, pred) => when(pred, lit(n)) }: _*),
      t => t.isNotNull)
    df.withColumn("aoi", explode(tags))
  }

  /** Per-AOI partitioned write — ref extract.py:196-220 writes one parquet
    * per AOI; the Spark-native form is a single partitioned write (each
    * `aoi=.../` directory is the per-AOI file set). */
  def writePerAoi(df: DataFrame, outDir: String): Unit =
    df.write.mode("overwrite").partitionBy("aoi").parquet(outDir)

  /** Spatially clustered write: order rows along the Z (Morton) curve of
    * (x, y) before writing, so each output file covers a tight spatial
    * patch and carries tight lon/lat min/max footer stats — bbox
    * predicates then PRUNE row groups/files at scan time instead of
    * reading the world. This is the lakehouse answer to spatial
    * indexing at 100 TB: no index structure to maintain, just data
    * layout + ordinary parquet stats (the same mechanism Delta/Iceberg
    * Z-ORDER uses, expressed with repartitionByRange + sort). `files`
    * ~= dataset size / 128 MB at the target scale. */
  /** Supersampled footprint COVERAGE raster: the fraction of each grid
    * cell covered by the UNION of circular footprints of radius `r`
    * around each shot — the physical-GEDI nuance [[rasterize]]'s
    * point-in-cell counting misses (a 25 m footprint straddling a cell
    * boundary contributes area to BOTH cells; a point rasterizer credits
    * one). Coverage is computed on an `sub`×`sub` subcell lattice:
    * a subcell counts as covered when its CENTER lies inside any
    * footprint — an integer-exact union (no circle-rectangle analytic
    * area, which needs asin/acos — libm calls with no cross-engine
    * exactness guarantee).
    *
    * Scale shape: per shot a constant 9·sub² candidate fan-out (narrow
    * generate, no join — `r` must be ≤ `res` so 3×3 neighborhoods
    * suffice; require-checked), then ONE distinct-collapse shuffle on
    * the (cell, subcell) key and a map-side-combined count per cell.
    * Output is cell-count-sized. The distance test and subcell centers
    * are fixed double trees over exact integers — hash-portable. */
  def footprintCover(df: DataFrame, x: Column, y: Column, res: Double,
                     r: Double, sub: Int = 4): DataFrame = {
    require(r <= res, s"footprint radius $r must be <= cell size $res " +
      "(3x3 candidate neighborhoods)")
    val base = df.select(x.as("px"), y.as("py"),
      floor(x / res).cast("long").as("bx"),
      floor(y / res).cast("long").as("by"))
    val fan = base
      .select(col("px"), col("py"), col("bx"), col("by"),
        explode(sequence(lit(-1), lit(1))).as("dx"))
      .select(col("px"), col("py"), col("bx"), col("by"), col("dx"),
        explode(sequence(lit(-1), lit(1))).as("dy"))
      .select(col("px"), col("py"),
        (col("bx") + col("dx")).as("cx"), (col("by") + col("dy")).as("cy"),
        explode(sequence(lit(0), lit(sub - 1))).as("si"))
      .select(col("px"), col("py"), col("cx"), col("cy"), col("si"),
        explode(sequence(lit(0), lit(sub - 1))).as("sj"))
    val subD = sub.toDouble
    val sx = (col("cx").cast("double") +
      ((col("si").cast("double") + lit(0.5)) / lit(subD))) * lit(res)
    val sy = (col("cy").cast("double") +
      ((col("sj").cast("double") + lit(0.5)) / lit(subD))) * lit(res)
    val covered = ((sx - col("px")) * (sx - col("px")) +
      (sy - col("py")) * (sy - col("py"))) <= lit(r * r)
    fan.filter(covered)
      .select(col("cx"), col("cy"), col("si"), col("sj"))
      .groupBy(col("cx"), col("cy"), col("si"), col("sj")).agg(lit(1))
      .groupBy(col("cx"), col("cy")).agg(count(lit(1)).as("n_sub"))
      .select(col("cx"), col("cy"), col("n_sub"),
        round(col("n_sub").cast("double") / lit(subD * subD), 6)
          .as("coverage"))
  }

  /** DuckDB oracle for [[footprintCover]] — identical lattice and trees.
    * `pointsSub` yields columns aliased `px`, `py`. */
  def footprintCoverSql(pointsSub: String, res: Double, r: Double,
                        sub: Int = 4): String = {
    val subD = s"$sub.0"
    val sx = s"((CAST(cx AS DOUBLE) + ((CAST(si AS DOUBLE) + 0.5) / $subD)) * $res)"
    val sy = s"((CAST(cy AS DOUBLE) + ((CAST(sj AS DOUBLE) + 0.5) / $subD)) * $res)"
    s"WITH pts AS (SELECT px, py, CAST(floor(px / $res) AS BIGINT) AS bx, " +
      s"CAST(floor(py / $res) AS BIGINT) AS by FROM $pointsSub), " +
      "fan AS (SELECT px, py, bx + dx.x AS cx, by + dy.x AS cy, si.x AS si, sj.x AS sj " +
      "FROM pts, (SELECT unnest(range(-1, 2)) AS x) dx, " +
      "(SELECT unnest(range(-1, 2)) AS x) dy, " +
      s"(SELECT unnest(range(0, $sub)) AS x) si, " +
      s"(SELECT unnest(range(0, $sub)) AS x) sj), " +
      s"cov AS (SELECT DISTINCT cx, cy, si, sj FROM fan WHERE " +
      s"($sx - px) * ($sx - px) + ($sy - py) * ($sy - py) <= ${r * r}) " +
      "SELECT cx, cy, CAST(count(*) AS BIGINT) AS n_sub, " +
      s"round(CAST(count(*) AS DOUBLE) / ($subD * $subD), 6) AS coverage " +
      "FROM cov GROUP BY cx, cy"
  }

  def writeSpatiallyClustered(df: DataFrame, x: Column, y: Column,
                              outDir: String, files: Int = 16,
                              bits: Int = 16): Unit =
    df.withColumn("_z", GeoFunctions.zValue(x, y, bits))
      .repartitionByRange(files, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
      .write.mode("overwrite").parquet(outDir)

  /** Radius self-join: all point pairs within Euclidean distance `r`
    * (integer coordinate units), via grid binning — the neighbor-search
    * primitive under DBSCAN, footprint-overlap analysis and spatial
    * dedup. Points carry NON-NEGATIVE integer coords (shift upstream;
    * keeps floor-division semantics identical on both engines) and an
    * integral id.
    *
    * Emit-once by construction: the LEFT side stamps the 3×3 neighbor
    * cells, the RIGHT keeps its own cell — for any pair exactly one
    * stamped cell equals the right point's cell, and `id_a < id_b` keeps
    * one orientation. Never quadratic: work is Σ per-cell |left|·|right|
    * over 9 neighbor offsets with cell size = r, the standard fixed-grid
    * spatial join (skewed hot cells salt like any hot join key). The
    * distance test is exact integer arithmetic (squares of coordinate
    * diffs ≤ 2r² per surviving candidate — bounded, no overflow for
    * r < ~2^31). */
  def radiusJoin(points: DataFrame, r: Long, idCol: String = "id",
                 xCol: String = "ix", yCol: String = "iy",
                 hint: DataFrame => DataFrame = identity): DataFrame = {
    require(r > 0, "radiusJoin needs a positive radius")
    val p = points.select(col(idCol).as("id"), col(xCol).as("ix"),
      col(yCol).as("iy"),
      (col(xCol) / r).cast("long").as("cx"),
      (col(yCol) / r).cast("long").as("cy"))
    // HALF stamp: each unordered neighbor-cell pair is probed exactly
    // once — (0,0) covers within-cell pairs (id_a < id_b dedups), the
    // four forward offsets cover every adjacent cell pair from one side.
    // 5 candidate rows per point instead of the full 3x3 stamp's 9
    // (~1.8x less join work); the surviving pair SET is identical, the
    // output just re-canonicalizes ids, so results hash-match the
    // quadratic oracle unchanged.
    import p.sparkSession.implicits._
    val offs = broadcast(
      Seq((0L, 0L, true), (1L, 0L, false), (-1L, 1L, false),
        (0L, 1L, false), (1L, 1L, false)).toDF("dx", "dy", "same"))
    val left = p.select(col("id").as("id_a"), col("ix").as("xa"),
        col("iy").as("ya"), col("cx"), col("cy"))
      .crossJoin(offs)
      .select(col("id_a"), col("xa"), col("ya"), col("same"),
        (col("cx") + col("dx")).as("jx"), (col("cy") + col("dy")).as("jy"))
    // `hint` (default identity) lets a caller that has already size-gated
    // its point frame (dbscanCore) broadcast the build side; the default
    // keeps the honest co-partitioned cell shuffle.
    val right = hint(p.select(col("id").as("id_b"), col("ix").as("xb"),
      col("iy").as("yb"), col("cx").as("jx"), col("cy").as("jy")))
    left.join(right, Seq("jx", "jy"))
      .filter(!col("same") || col("id_a") < col("id_b"))
      .withColumn("d2",
        (col("xa") - col("xb")) * (col("xa") - col("xb")) +
          (col("ya") - col("yb")) * (col("ya") - col("yb")))
      .filter(col("d2") <= r * r)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("d2"))
  }

  /** Geodesic (great-circle) radius join over (lon, lat) points — the
    * curved-earth sibling of [[radiusJoin]]: all pairs within `rMeters`
    * along the sphere surface. Planar binning on degrees breaks at high
    * latitude (a lon degree shrinks with cos φ) and needs variable-width
    * bands; instead points lift to 3D Cartesian on the sphere and bin in
    * CUBIC cells sized to the CHORD bound 2R·sin(r/2R) — great-circle
    * d ≤ r ⟺ chord ≤ bound (monotone), and a chord-close pair can
    * never sit more than one 3D cell apart AT ANY LATITUDE, so the 3x3x3
    * half-stamp (14 offsets) is lossless pole to pole with no band
    * logic. The filter compares round-6 chord² against the bound² (the
    * trig-ulp absorption stance); the binning itself cannot desync
    * engines — the oracle is the plain quadratic join, so only the pair
    * SET matters and the stamp is geometrically lossless.
    *
    * Scale shape: one narrow xyz projection, 14 candidate rows per
    * point, co-partitioned cell-key join — never corpus-quadratic; the
    * oracle prices the quadratic form (q_setsim_join convention).
    *
    * Hot-cell salting (`saltThreshold`): a real-world point cloud is
    * skewed — one metro-area cell can hold a corpus-scale share of the
    * points, and an unsalted cell join lands that whole cell's pair
    * work in ONE task. Cells whose measured population exceeds the
    * threshold split their HOME-side members into ceil(n/threshold)
    * deterministic shards (id mod), and stamped probes targeting a hot
    * cell replicate across its shards — every candidate pair still
    * meets exactly once, so the pair SET is unchanged (spec-proven) and
    * the per-task bound is threshold × stamped-side density. Costs one
    * map-side-combined cell count and a broadcast of the (tiny by
    * definition) over-threshold cell list. Within-cell pair VOLUME of a
    * hot cell is still ~n²/2 — salting fixes task skew, not volume;
    * size the radius to the density ([[densityRadiusMeters]]) so no
    * cell is quadratically hot in the first place.
    *
    * Output: (id_a, id_b, d_m) — canonical ids, great-circle meters. */
  def haversineJoin(points: DataFrame, rMeters: Double,
                    idCol: String = "id", lonCol: String = "lon",
                    latCol: String = "lat",
                    saltThreshold: Int = 1 << 17,
                    maxCellThin: Option[Int] = None): DataFrame = {
    require(rMeters > 0 && rMeters <= 2000000.0,
      "haversineJoin needs 0 < r <= 2000 km")
    val R = 6371008.8
    val rad = 0.017453292519943295 // pi/180, one shared literal
    val chord = 2.0 * R * math.sin(rMeters / (2.0 * R))
    val bound2 = chord * chord
    val p0 = points.select(col(idCol).as("id"),
        (col(latCol) * rad).as("latr"), (col(lonCol) * rad).as("lonr"))
      .select(col("id"),
        (lit(R) * cos(col("latr")) * cos(col("lonr"))).as("x"),
        (lit(R) * cos(col("latr")) * sin(col("lonr"))).as("y"),
        (lit(R) * sin(col("latr"))).as("z"))
      .select(col("id"), col("x"), col("y"), col("z"),
        floor(col("x") / chord).cast("long").as("cx"),
        floor(col("y") / chord).cast("long").as("cy"),
        floor(col("z") / chord).cast("long").as("cz"))
    // Per-cell density THINNING (the Dedup.thinBlocks hash-residue rule,
    // cell-keyed): density scaling holds expected neighbors constant only
    // while local density tracks the global count — a cloud whose mass
    // concentrates (replica stacks, degenerate 1-D value-lines, a metro
    // hot spot) still grows per-cell population, and pair work inside a
    // cell is pop²/2 no matter how the radius scales. Cells past the cap
    // keep the rows whose portable id hash lands on residue 0 of
    // step = ceil(pop/cap) — expected ~cap survivors, work per cell
    // bounded by ~cap²/2 at ANY density, zero windows. Cells already
    // ≤ cap keep every row (bit-identical, spec-proven); the ORACLE
    // MIRRORS the rule (identical xyz/cell trees, counts, hash and
    // residue), so pairs among survivors stay exact and the recall bill
    // — pairs lost only inside over-cap cells — is declared, exactly the
    // q_minhash_pairs convention. */
    val p = maxCellThin match {
      case None => p0
      case Some(cap) =>
        val counts = p0.groupBy("cx", "cy", "cz")
          .agg(count(lit(1)).as("_cn"))
        p0.join(counts, Seq("cx", "cy", "cz"))
          .filter(pmod(
            graft.functions.TextFunctions.charHash(col("id").cast("string")),
            expr(s"(_cn + ${cap - 1}) DIV $cap")) === 0)
          .drop("_cn")
    }
    // 3D half stamp: same cell once + the 13 lexicographically-forward
    // neighbor offsets = every unordered adjacent cell pair probed once
    import p.sparkSession.implicits._
    val fwd = (for {
      dx <- -1L to 1L; dy <- -1L to 1L; dz <- -1L to 1L
      if (dx, dy, dz) != ((0L, 0L, 0L)) &&
        (dx > 0 || (dx == 0 && (dy > 0 || (dy == 0 && dz > 0))))
    } yield (dx, dy, dz, false)) :+ ((0L, 0L, 0L, true))
    val offs = broadcast(fwd.toDF("dx", "dy", "dz", "same"))
    val left = p.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"), col("z").as("za"), col("cx"), col("cy"), col("cz"))
      .crossJoin(offs)
      .select(col("id_a"), col("xa"), col("ya"), col("za"), col("same"),
        (col("cx") + col("dx")).as("jx"), (col("cy") + col("dy")).as("jy"),
        (col("cz") + col("dz")).as("jz"))
    val right = p.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("z").as("zb"), col("cx").as("jx"),
      col("cy").as("jy"), col("cz").as("jz"))
    // measured hot cells: home-side members shard by id, probes fan out
    // across the shards — pair set identical, task bound = threshold
    val hot = p.groupBy(col("cx").as("jx"), col("cy").as("jy"),
        col("cz").as("jz"))
      .agg(count(lit(1)).as("_hn"))
      .filter(col("_hn") > saltThreshold)
      .withColumn("_nsalt",
        expr(s"(_hn + ${saltThreshold - 1}) DIV $saltThreshold"))
      .select(col("jx"), col("jy"), col("jz"), col("_nsalt"))
    val leftSalted = left.join(broadcast(hot), Seq("jx", "jy", "jz"), "left")
      .withColumn("_salt",
        explode(sequence(lit(0L), coalesce(col("_nsalt"), lit(1L)) - 1)))
      .drop("_nsalt")
    // home-side shard key is the PORTABLE HASH of the id, not the raw id
    // (the thinBlocks trick): structured id spaces — q_haversine_join's
    // ids are all multiples of 8 — make pmod(id, nsalt) collapse most
    // rows onto a few shards for any nsalt sharing a factor, silently
    // voiding the task-skew bound the salting exists to provide. The
    // shard choice never affects the pair set, only its distribution.
    val rightSalted = right.join(broadcast(hot), Seq("jx", "jy", "jz"), "left")
      .withColumn("_salt", coalesce(
        pmod(graft.functions.TextFunctions.charHash(col("id_b").cast("string")),
          col("_nsalt")), lit(0L)))
      .drop("_nsalt")
    val chord2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb")) +
      (col("za") - col("zb")) * (col("za") - col("zb"))
    val twoR = 2.0 * R
    leftSalted.join(rightSalted, Seq("jx", "jy", "jz", "_salt"))
      .filter(!col("same") || col("id_a") < col("id_b"))
      .withColumn("c2", round(chord2, 6))
      .filter(col("c2") <= round(lit(bound2), 6))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(lit(twoR) * asin(least(sqrt(col("c2")) / twoR, lit(1.0))), 6)
          .as("d_m"))
  }

  /** DuckDB oracle for [[haversineJoin]]: plain quadratic self-join with
    * the IDENTICAL xyz/chord trees — binning losslessness hash-proven —
    * over the IDENTICALLY thinned point set when `maxCellThin` is set
    * (same cell keys, counts, portable hash, residue rule).
    * `pointsSub` yields (id, lon, lat). */
  def haversineJoinSql(pointsSub: String, rMeters: Double,
                       maxCellThin: Option[Int] = None): String = {
    val R = 6371008.8
    val rad = 0.017453292519943295
    val chord = 2.0 * R * math.sin(rMeters / (2.0 * R))
    val bound2 = chord * chord
    val twoR = 2.0 * R
    val xyz0 = s"(SELECT id, ($R * cos(lat * $rad) * cos(lon * $rad)) AS x, " +
      s"($R * cos(lat * $rad) * sin(lon * $rad)) AS y, " +
      s"($R * sin(lat * $rad)) AS z FROM $pointsSub)"
    val xyz = maxCellThin match {
      case None => xyz0
      case Some(cap) =>
        val h = graft.functions.TextFunctions
          .charHashSql("CAST(id AS VARCHAR)")
        s"(WITH x0 AS (SELECT id, x, y, z, " +
          s"CAST(floor(x / $chord) AS BIGINT) AS ccx, " +
          s"CAST(floor(y / $chord) AS BIGINT) AS ccy, " +
          s"CAST(floor(z / $chord) AS BIGINT) AS ccz FROM $xyz0 q0), " +
          "cn AS (SELECT ccx, ccy, ccz, count(*) AS _cn FROM x0 " +
          "GROUP BY ccx, ccy, ccz) " +
          "SELECT x0.id, x0.x, x0.y, x0.z FROM x0 JOIN cn " +
          "USING (ccx, ccy, ccz) " +
          s"WHERE ($h) % ((_cn + ${cap - 1}) // $cap) = 0)"
    }
    s"SELECT a.id AS id_a, b.id AS id_b, " +
      s"round($twoR * asin(least(sqrt(round(" +
      "(a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + " +
      s"(a.z - b.z) * (a.z - b.z), 6)) / $twoR, 1.0)), 6) AS d_m " +
      s"FROM $xyz a JOIN $xyz b ON a.id < b.id " +
      "WHERE round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) + " +
      s"(a.z - b.z) * (a.z - b.z), 6) <= round($bound2, 6)"
  }

  /** DuckDB oracle for [[radiusJoin]]: the PLAIN QUADRATIC self-join —
    * losslessness of the binning is itself hash-proven (the
    * q_setsim_join convention). `pointsSub` must yield (id, ix, iy). */
  def radiusJoinSql(pointsSub: String, r: Long): String =
    s"SELECT a.id AS id_a, b.id AS id_b, " +
      "(a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) AS d2 " +
      s"FROM $pointsSub a JOIN $pointsSub b ON a.id < b.id " +
      s"WHERE (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) " +
      s"<= ${r * r}"

  /** Hexagonal binning (the H3-style aggregation cell): points snap to
    * the nearest center of a CHECKERBOARD lattice — centers at
    * `(i·w, j·h)` with `i+j` even — whose Voronoi cells are congruent
    * hexagons when `h/w ≈ √3`. The aspect is deliberately the RATIONAL
    * approximation 26/15 (≈1.7333 vs √3≈1.73205): every coordinate and
    * distance stays integral, so the cell assignment is exact on any
    * engine — no libm, no float rounding at cell boundaries (the reason
    * this is not axial cube-rounding). Hexagons beat squares for spatial
    * stats: 6 equidistant-ish neighbors and ~13% lower mean point-to-
    * center distance at equal cell area.
    *
    * Nearest-center search is closed-form: inside a lattice rectangle
    * exactly the two DIAGONAL corners have even parity, and no outside
    * center can beat both (proof: for P=(x,y) in [0,w]×[0,h], the
    * nearest outside-even candidates (2w,0)/(−w,h) lose whenever
    * 0 ≤ x ≤ w) — so the argmin is a single integer comparison of two
    * squared distances, ties to the lower (cj, ci). Zero-shuffle until
    * the one map-side-combined cell aggregate. */
  def hexBin(points: DataFrame, w: Long, h: Long,
             aggs: Seq[(String, Column)], idCol: String = "id",
             xCol: String = "ix", yCol: String = "iy"): DataFrame = {
    require(w > 0 && h > 0, "hexBin needs positive cell dims")
    val p = points
      // floor division (not truncate-toward-zero) so negative
      // coordinates land in the same cell as the oracle's `//`
      .withColumn("i0", floor(col(xCol) / w).cast("long"))
      .withColumn("j0", floor(col(yCol) / h).cast("long"))
      // the two even-parity diagonal corners of the containing rectangle
      .withColumn("ia", when((col("i0") + col("j0")) % 2 === 0, col("i0"))
        .otherwise(col("i0") + 1))
      .withColumn("ja", col("j0"))
      .withColumn("ib", when((col("i0") + col("j0")) % 2 === 0, col("i0") + 1)
        .otherwise(col("i0")))
      .withColumn("jb", col("j0") + 1)
      .withColumn("d2a",
        (col(xCol) - col("ia") * w) * (col(xCol) - col("ia") * w) +
          (col(yCol) - col("ja") * h) * (col(yCol) - col("ja") * h))
      .withColumn("d2b",
        (col(xCol) - col("ib") * w) * (col(xCol) - col("ib") * w) +
          (col(yCol) - col("jb") * h) * (col(yCol) - col("jb") * h))
      .withColumn("hex_i",
        when(col("d2a") < col("d2b") ||
          (col("d2a") === col("d2b") &&
            (col("ja") < col("jb") ||
              (col("ja") === col("jb") && col("ia") <= col("ib")))),
          col("ia")).otherwise(col("ib")))
      .withColumn("hex_j",
        when(col("d2a") < col("d2b") ||
          (col("d2a") === col("d2b") &&
            (col("ja") < col("jb") ||
              (col("ja") === col("jb") && col("ia") <= col("ib")))),
          col("ja")).otherwise(col("jb")))
    p.groupBy(col("hex_i"), col("hex_j"))
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** DuckDB oracle for [[hexBin]] — identical integer candidate pair +
    * tie-broken argmin. `aggSel` is the aggregate select-list tail. */
  def hexBinSql(pointsSub: String, w: Long, h: Long, aggSel: String): String =
    s"WITH p AS (SELECT *, CAST(ix // $w AS BIGINT) AS i0, " +
      s"CAST(iy // $h AS BIGINT) AS j0 FROM $pointsSub), " +
      "c AS (SELECT *, " +
      "CASE WHEN (i0 + j0) % 2 = 0 THEN i0 ELSE i0 + 1 END AS ia, j0 AS ja, " +
      "CASE WHEN (i0 + j0) % 2 = 0 THEN i0 + 1 ELSE i0 END AS ib, j0 + 1 AS jb " +
      "FROM p), " +
      s"d AS (SELECT *, (ix - ia * $w) * (ix - ia * $w) + (iy - ja * $h) * (iy - ja * $h) AS d2a, " +
      s"(ix - ib * $w) * (ix - ib * $w) + (iy - jb * $h) * (iy - jb * $h) AS d2b FROM c), " +
      "hx AS (SELECT *, CASE WHEN d2a < d2b OR (d2a = d2b AND (ja < jb OR " +
      "(ja = jb AND ia <= ib))) THEN ia ELSE ib END AS hex_i, " +
      "CASE WHEN d2a < d2b OR (d2a = d2b AND (ja < jb OR (ja = jb AND ia <= ib))) " +
      "THEN ja ELSE jb END AS hex_j FROM d) " +
      s"SELECT hex_i, hex_j, $aggSel FROM hx GROUP BY hex_i, hex_j"

  /** Grid-based DBSCAN (Ester et al. 1996): role labels are EXACT —
    * core = ≥ `minPts` points (incl. self) within `r`, border = non-core
    * adjacent to a core, noise = neither — and the cluster label is the
    * fixed-round min-label propagation over the core-core adjacency
    * (`rounds` hops, the kCore/pagerank convention so the oracle unrolls
    * the identical chain; [[dbscanFixpoint]] is the production form that
    * iterates the same round to exact convergence). Border
    * points take the MINIMUM adjacent core's label (deterministic where
    * the textbook algorithm is arrival-order-dependent).
    *
    * Scale shape: neighbor search is [[radiusJoin]] (grid-binned, never
    * quadratic); everything downstream is 8-byte-id joins on the PAIR
    * frame (density-bounded: Σ|pairs| ≈ n·avg_neighbors); the
    * propagation joins only the core adjacency. */
  def dbscan(points: DataFrame, r: Long, minPts: Int, rounds: Int = 4,
             idCol: String = "id"): DataFrame =
    dbscanCore(points, r, minPts, idCol) { (adj, init, hint) =>
      propagateMinLabels(adj, init, fixedRounds = rounds, hint)
    }

  /** Density-scaled DBSCAN radius: r(n) = ⌊r₀·√(n₀/n)⌋ keeps the EXPECTED
    * NEIGHBOR COUNT per point constant as the corpus grows on a fixed
    * domain (neighbors ∝ n·r² — halving r when n quadruples holds the
    * product). A pinned radius on a densifying point cloud is the scale
    * killer the r10 sf1 audit measured (fixed r=10000 on 10x denser
    * points → ~100x pair frame): the RADIUS is a density parameter, not
    * a constant, exactly like an LSH band width is a corpus parameter.
    * Deterministic across JVMs (IEEE-754 sqrt is correctly rounded), so
    * a query can derive it at plan time and its oracle can pin the
    * derived value at the verify scale. Defaults: r₀=10000 at n₀=100k
    * points — the board's historical sf0.1 operating point. */
  def densityRadius(n: Long, rAtRef: Long = 10000L, nRef: Long = 100000L): Long = {
    require(n > 0, "densityRadius needs a positive point count")
    math.floor(rAtRef * math.sqrt(nRef.toDouble / n)).toLong
  }

  /** [[densityRadius]] for metric (double) radii — the geodesic joins'
    * face of the same rule: expected pairs per point ∝ n·r², so
    * r(n) = r₀·√(n₀/n) holds the join degree constant on a fixed
    * domain. At n = nRef this is EXACTLY rAtRef (√1 = 1, no float
    * residue), so the verify-scale oracle pins the reference radius
    * unchanged. */
  def densityRadiusMeters(n: Long, rAtRef: Double, nRef: Long): Double = {
    require(n > 0, "densityRadiusMeters needs a positive point count")
    rAtRef * math.sqrt(nRef.toDouble / n)
  }

  /** [[dbscan]] with EXACT cluster labels on any diameter — the
    * production entry point: on a core graph whose diameter exceeds the
    * fixed round count the fixed-round form returns UNDER-MERGED
    * clusters (correct vs its declared unrolled oracle, wrong vs
    * textbook DBSCAN on elongated clusters). Clusters are connected
    * components of the core-core adjacency, and the min-label fixpoint
    * labels each component by its min id — exactly what
    * [[Dedup.connectedComponentsLogStar]] computes, in O(log n) star
    * alternations instead of diameter synchronous rounds (a percolating
    * radius graph at sf0.1 already has core-graph diameter ≈ domain/r ≈
    * 100: min-label to fixpoint would pay ~100 shuffle rounds, star
    * contraction pays ~5). Isolated core points (no core-core edge)
    * label themselves, as in the fixed-round form. Roles
    * (core/border/noise) are identical between the two forms — only
    * cluster labels can differ, and only on graphs the fixed rounds
    * cannot cover. */
  def dbscanFixpoint(points: DataFrame, r: Long, minPts: Int,
                     idCol: String = "id"): DataFrame =
    dbscanCore(points, r, minPts, idCol) { (adj, init, hint) =>
      val comp = Dedup.connectedComponentsLogStar(
        adj.filter(col("v") < col("w"))
          .select(col("v").as("a"), col("w").as("b")))
      init.join(hint(comp.withColumnRenamed("id", "cid")),
          init("id") === col("cid"), "left")
        .select(init("id"),
          coalesce(col("comp"), init("id")).as("cluster"))
    }

  /** Synchronous min-label propagation with DELTA sending: round k only
    * propagates from nodes whose label DECREASED in round k−1 (round 1
    * sends from everyone). Exactly equivalent to the dense synchronous
    * round — labels fall monotonically, so a neighbor whose label did
    * not change last round already contributed that same value earlier
    * and cannot lower anything now — but the big adj-join shuffle
    * shrinks to the frontier after round 1 (the 100 TB shape: cluster
    * interiors go quiet while boundaries keep propagating).
    *
    * Runs at most `fixedRounds` rounds; an empty frontier just means
    * the remaining rounds would be no-ops, so stopping early returns
    * the identical frame. (For TRUE fixpoint clustering use
    * [[dbscanFixpoint]]'s star contraction — min-label needs diameter
    * rounds, the wrong tool past the fixed-round oracle face.) */
  private def propagateMinLabels(adj: DataFrame, init: DataFrame,
                                 fixedRounds: Int,
                                 hint: DataFrame => DataFrame): DataFrame = {
    // `adj` MUST carry a self-loop per core point (dbscanCore adds them):
    // the synchronous round "min over self and neighbors" then collapses
    // to ONE join + ONE map-side-combined min — the label frame is
    // referenced once per round, so the 4-round plan is a LINEAR chain
    // that needs no per-round materialization (a twice-referenced
    // unmaterialized subtree would re-evaluate 2^rounds times; a linear
    // one evaluates once, in a single job). Under dbscanCore's size gate
    // the label side broadcasts; over it the join moves only labels —
    // the adjacency was repartitioned on `v` before its checkpoint.
    var labels = init
    for (_ <- 1 to fixedRounds) {
      labels = adj
        .join(hint(labels.withColumnRenamed("id", "v")), Seq("v"))
        .select(col("w").as("id"), col("cluster"))
        .groupBy("id").agg(min(col("cluster")).as("cluster"))
    }
    labels
  }

  /** Shared DBSCAN pipeline: roles are exact; `propagate` supplies the
    * cluster-label iteration (fixed-round oracle twin or fixpoint).
    * The core→neighbor adjacency (`coreAdj`) materializes ONCE, before
    * the label rounds: the core-core propagation edges are its
    * pid∈core restriction and the border pass its pid∉core remainder,
    * so the (larger) pair frame is semi-joined exactly once instead of
    * re-derived after the loop. */
  private def dbscanCore(points: DataFrame, r: Long, minPts: Int,
                         idCol: String)
                        (propagate: (DataFrame, DataFrame, DataFrame => DataFrame) => DataFrame): DataFrame = PB.scoped {
    // FOUR materializations total (the r9 bundle carried five before the
    // rounds plus one per round, and the extra checkpoint writes — not
    // the delta-sending logic — were the measured regression): the pair
    // frame (reused three times), the per-point degree frame, the
    // self-looped core adjacency the rounds iterate, and the final label
    // frame (referenced by both the border pass and the role union).
    //
    // Scale shape: per-point frames (degree map, core set, labels, role
    // map) ride a SIZE-GATED broadcast — DBSCAN runs over one spatial
    // analysis window, and when the window's point count is measurably
    // under [[broadcastPointBound]] those frames are hinted onto the
    // executors; past the bound the identical plans degrade to shuffle
    // joins and the adjacency is repartitioned+sorted on the round-join
    // key before its one checkpoint (localCheckpoint preserves both), so
    // every label round still moves only the label frame, never the
    // edges — the distributed-graph invariant: state flows, topology
    // stays put.
    val gated = points.queryExecution.optimizedPlan.stats.sizeInBytes
      .isValidLong && points.queryExecution.optimizedPlan.stats.sizeInBytes
      .toLong <= broadcastPointBytes
    val ppf: DataFrame => DataFrame = if (gated) broadcast else identity
    val pairs = radiusJoin(points, r, idCol, hint = ppf).select("id_a", "id_b")
      .transform(PB.localCheckpoint) // reused by degree count, adjacency and (when any
                                     // non-core point exists) the border pass
    val deg = pairs.select(col("id_a").as("id"))
      .unionByName(pairs.select(col("id_b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_nbrs"))
    val ptsObs = org.apache.spark.sql.Observation()
    val pts = points.select(col(idCol).as("id"))
      .join(ppf(deg), Seq("id"), "left")
      .withColumn("n_nbrs", coalesce(col("n_nbrs"), lit(0L)))
      // non-core existence rides the checkpoint as an observed count
      // (r19) — the border short-circuit below costs zero jobs now
      // (was one limit(1) job per run)
      .observe(ptsObs, count(when(col("n_nbrs") < minPts - 1, lit(1)))
        .as("n_noncore"))
      .transform(PB.localCheckpoint)
    val core = pts.filter(col("n_nbrs") >= minPts - 1).select("id")
    val shuffleP = points.sparkSession.sessionState.conf.numShufflePartitions
    // symmetric core-core adjacency + one self-loop per core point (the
    // propagation round's "min over self" term — see propagateMinLabels)
    val adj = pairs
      .join(ppf(core.withColumnRenamed("id", "id_a")), Seq("id_a"), "left_semi")
      .join(ppf(core.withColumnRenamed("id", "id_b")), Seq("id_b"), "left_semi")
      .select(col("id_a").as("v"), col("id_b").as("w"))
    val adjSym0 = adj.unionByName(adj.select(col("w").as("v"), col("v").as("w")))
      .unionByName(core.select(col("id").as("v"), col("id").as("w")))
    val adjSym = (if (gated) adjSym0
      else adjSym0.repartition(shuffleP, col("v")).sortWithinPartitions("v"))
      .transform(PB.localCheckpoint)
    val init = core.withColumn("cluster", col("id"))
    val labels = propagate(adjSym, init, ppf).transform(PB.localCheckpoint)
    val coreL = labels.withColumn("role", lit("core"))
    // Border short-circuit: a border row needs a NON-CORE endpoint, so when
    // the degree frame holds none the whole border pass — two scans of the
    // pair checkpoint, four semi/anti joins and a min-label agg — is
    // provably empty work. Dense analysis windows sit in exactly that
    // regime (at both board scales every point is core: the r18 probe
    // measured the skipped pass at ~1.5 s of a 17 s chain). The gate
    // reads the observation that rode the per-point checkpoint — zero
    // extra jobs (r19; was one limit(1) job). Same adaptive count-gate
    // stance as ivfProbeIndex's serving-batch switch; the declared
    // result — and its oracle — are untouched.
    val hasNonCore = org.apache.spark.sql.graftbridge.PlanBridge
      .awaitObserved(ptsObs)("n_noncore").asInstanceOf[Long] > 0L
    val roleMap = if (!hasNonCore) coreL else {
      // border pass: core endpoint -> non-core neighbor, min adjacent label
      val borderLabels = pairs
        .join(ppf(core.withColumnRenamed("id", "id_a")), Seq("id_a"), "left_semi")
        .join(ppf(core.withColumnRenamed("id", "id_b")), Seq("id_b"), "left_anti")
        .select(col("id_a").as("cid"), col("id_b").as("pid"))
        .unionByName(pairs
          .join(ppf(core.withColumnRenamed("id", "id_b")), Seq("id_b"), "left_semi")
          .join(ppf(core.withColumnRenamed("id", "id_a")), Seq("id_a"), "left_anti")
          .select(col("id_b").as("cid"), col("id_a").as("pid")))
        .join(ppf(labels.withColumnRenamed("id", "cid")), Seq("cid"))
        .groupBy(col("pid").as("id")).agg(min(col("cluster")).as("cluster"))
      coreL.unionByName(borderLabels.withColumn("role", lit("border")))
    }
    pts.join(ppf(roleMap), Seq("id"), "left")
      .select(col("id"), col("n_nbrs"),
        coalesce(col("role"), lit("noise")).as("role"), col("cluster"))
  }

  /** Estimated-size bound under which [[dbscanCore]] hints its per-point
    * frames (degree map, core set, labels, role map) onto the executors —
    * read from the optimizer's plan statistics, so the gate costs zero
    * jobs. 128 MB of estimated input points (~5M rows) broadcasts
    * comfortably at any executor sizing this engine targets; an unknown
    * or larger estimate falls back to co-partitioned shuffle joins —
    * nothing breaks, the constant just grows. */
  private val broadcastPointBytes = 128L * 1024 * 1024

  /** DuckDB oracle for [[dbscan]]: QUADRATIC pair join (losslessness of
    * the grid binning is hash-proven) + the identical unrolled label
    * chain, every CTE MATERIALIZED (the kCore inlining lesson). */
  def dbscanSql(pointsSub: String, r: Long, minPts: Int,
                rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= s"WITH pairs AS MATERIALIZED (SELECT a.id AS id_a, b.id AS id_b " +
      s"FROM $pointsSub a JOIN $pointsSub b ON a.id < b.id " +
      s"WHERE (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) " +
      s"<= ${r * r}), " +
      s"pts AS MATERIALIZED (SELECT p.id, coalesce(d.n_nbrs, 0) AS n_nbrs FROM " +
      s"$pointsSub p LEFT JOIN (SELECT id, CAST(count(*) AS BIGINT) AS n_nbrs " +
      "FROM (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs) u " +
      "GROUP BY id) d ON p.id = d.id), " +
      s"core AS MATERIALIZED (SELECT id FROM pts WHERE n_nbrs >= ${minPts - 1}), " +
      "ce AS MATERIALIZED (SELECT id_a, id_b FROM pairs " +
      "WHERE id_a IN (SELECT id FROM core) AND id_b IN (SELECT id FROM core)), " +
      "adj AS MATERIALIZED (SELECT id_a AS v, id_b AS w FROM ce " +
      "UNION ALL SELECT id_b, id_a FROM ce), " +
      "l0 AS MATERIALIZED (SELECT id, id AS cluster FROM core)"
    for (k <- 1 to rounds) {
      sb ++= s", l$k AS MATERIALIZED (SELECT id, min(cluster) AS cluster FROM " +
        s"(SELECT adj.w AS id, l.cluster FROM adj JOIN l${k - 1} l ON adj.v = l.id " +
        s"UNION ALL SELECT id, cluster FROM l${k - 1}) u GROUP BY id)"
    }
    sb ++= ", ca AS MATERIALIZED (SELECT id_a AS cid, id_b AS pid FROM pairs " +
      "WHERE id_a IN (SELECT id FROM core) " +
      "UNION ALL SELECT id_b, id_a FROM pairs WHERE id_b IN (SELECT id FROM core)), " +
      s"bl AS MATERIALIZED (SELECT ca.pid AS id, min(l.cluster) AS cluster FROM ca " +
      s"JOIN l$rounds l ON ca.cid = l.id " +
      "WHERE ca.pid NOT IN (SELECT id FROM core) GROUP BY ca.pid), " +
      s"roles AS (SELECT id, cluster, 'core' AS role FROM l$rounds " +
      "UNION ALL SELECT id, cluster, 'border' FROM bl) " +
      "SELECT pts.id, pts.n_nbrs, coalesce(roles.role, 'noise') AS role, " +
      "roles.cluster FROM pts LEFT JOIN roles ON pts.id = roles.id"
    sb.toString
  }
}
