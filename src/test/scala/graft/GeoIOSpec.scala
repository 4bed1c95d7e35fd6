package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.MergeOps
import graft.sources.GeoIO

class GeoIOSpec extends SparkSpec {

  test("geo parquet round-trip: WKT geometry, sidecar metadata, restored coords") {
    val dir = Files.createTempDirectory("graft_geo").toString + "/shots"
    val shots = graft.queries.Shots.df(spark, sfDir)
      .select("shot", "lon", "lat", "value").limit(200)
    val expected = shots.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

    val meta = GeoIO.writeGeoParquet(shots, dir)
    assert(meta.crs === "EPSG:4326" && meta.encoding === "WKT")
    val Seq(minx, miny, maxx, maxy) = meta.bbox
    expected.values.foreach { case (lon, lat) =>
      assert(lon >= minx && lon <= maxx && lat >= miny && lat <= maxy)
    }

    val (back, meta2) = GeoIO.readGeoParquet(spark, dir)
    assert(meta2 === meta)
    assert(!spark.read.parquet(dir).columns.contains("lon"),
      "raw lon/lat must be dropped on write (geometry replaces them)")
    val got = back.select("shot", "lon", "lat").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, (lon, lat)) =>
      // WKT carries 6 decimals; restoration is exact to that precision
      assert(math.abs(lon - expected(id)._1) < 5e-7)
      assert(math.abs(lat - expected(id)._2) < 5e-7)
    }
  }

  test("geo merge pre-check: CRS mismatch fails, disjoint bbox fails, match merges") {
    val base = Files.createTempDirectory("graft_geomerge").toString
    val shots = graft.queries.Shots.df(spark, sfDir)
      .select(col("shot"), col("ts").as("acq_time"), col("lon"), col("lat"),
        col("value")).filter(col("shot") <= 100)
    val n = shots.count()
    assert(n > 0)
    GeoIO.writeGeoParquet(shots.withColumnRenamed("value", "rh98"), s"$base/l2a")
    GeoIO.writeGeoParquet(shots.withColumnRenamed("value", "pai"), s"$base/l2b")

    // same AOI, same CRS: pre-checks pass and the merge joins every shot
    val merged = MergeOps.mergeGeoParquet(spark, s"$base/l2a", s"$base/l2b")
    assert(merged.count() === n)
    assert(merged.columns.contains("rh98") && merged.columns.contains("pai"))

    // tamper the sidecar CRS (the reference's CRS-equality failure case)
    val sidecar = java.nio.file.Paths.get(s"$base/l2b", "_geo.json")
    val raw = Files.readString(sidecar)
    Files.writeString(sidecar, raw.replace("EPSG:4326", "EPSG:32633"))
    val e = intercept[IllegalArgumentException] {
      MergeOps.mergeGeoParquet(spark, s"$base/l2a", s"$base/l2b")
    }
    assert(e.getMessage.contains("CRS mismatch"), e.getMessage)

    // disjoint bboxes (different AOIs) must also fail loudly
    Files.writeString(sidecar,
      raw.replaceAll(""""bbox":\[[^\]]*\]""", """"bbox":[500.0,500.0,501.0,501.0]"""))
    val e2 = intercept[IllegalArgumentException] {
      MergeOps.mergeGeoParquet(spark, s"$base/l2a", s"$base/l2b")
    }
    assert(e2.getMessage.contains("disjoint"), e2.getMessage)
  }

  test("geojson AOI reader feeds the multi-AOI polygon subset") {
    val dir = Files.createTempDirectory("graft_aoi").toString
    val geojson =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{"id":"west"},
        | "geometry":{"type":"Polygon","coordinates":[[[-100.5,-40.5],[-60.5,-40.5],[-60.5,40.5],[-100.5,40.5],[-100.5,-40.5]]]}},
        |{"type":"Feature","properties":{"id":"east"},
        | "geometry":{"type":"Polygon","coordinates":[[[20.5,-40.5],[60.5,-40.5],[60.5,40.5],[20.5,40.5],[20.5,-40.5]]]}}
        |]}""".stripMargin
    Files.writeString(java.nio.file.Paths.get(dir, "zones.geojson"), geojson)
    val aois = GeoIO.readAoiGeoJson(spark, s"$dir/zones.geojson")
    assert(aois.map(_._1) === Seq("zones_0", "zones_1"))
    assert(aois.head._2.length === 5)

    // whole-degree coordinates infer as bigint in Spark's JSON reader —
    // the reader must still hand back doubles
    Files.writeString(java.nio.file.Paths.get(dir, "int.geojson"),
      """{"type":"FeatureCollection","features":[{"type":"Feature",
        |"properties":{},"geometry":{"type":"Polygon",
        |"coordinates":[[[0,0],[10,0],[10,10],[0,10],[0,0]]]}}]}""".stripMargin)
    val intAoi = GeoIO.readAoiGeoJson(spark, s"$dir/int.geojson")
    assert(intAoi === Seq("int" -> Seq((0.0, 0.0), (10.0, 0.0), (10.0, 10.0),
      (0.0, 10.0), (0.0, 0.0))))

    val shots = graft.queries.Shots.df(spark, sfDir)
    val tagged = graft.operators.GeoOps.multiAoiPolygon(
      shots, col("lon"), col("lat"), aois)
    val counts = tagged.groupBy("aoi").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // rectangles: membership must equal the bbox predicate
    val westExpect = shots.filter(
      col("lon") > -100.5 && col("lon") < -60.5 && col("lat") > -40.5 && col("lat") < 40.5).count()
    assert(counts.getOrElse("zones_0", 0L) === westExpect)
    assert(counts.getOrElse("zones_1", 0L) > 0)
  }

  test("geojson AOI reader: file: URIs, and named errors for bad features") {
    val dir = Files.createTempDirectory("graft_aoi_uri")
    def write(name: String, features: String): String = {
      val p = dir.resolve(name)
      Files.writeString(p, s"""{"type":"FeatureCollection","features":[$features]}""")
      p.toUri.toString // file:/...
    }
    val uri = write("box.geojson", """{"type":"Feature","properties":{},
      |"geometry":{"type":"Polygon","coordinates":[[[1.5,2],[3,2],[3,4.25],[1.5,2]]]}}""".stripMargin)
    assert(uri.startsWith("file:"))
    assert(GeoIO.readAoiGeoJson(spark, uri) ===
      Seq("box" -> Seq((1.5, 2.0), (3.0, 2.0), (3.0, 4.25), (1.5, 2.0))))

    val point = write("pt.geojson", """{"type":"Feature","properties":{},
      |"geometry":{"type":"Point","coordinates":[1.0,2.0]}}""".stripMargin)
    val e = intercept[IllegalArgumentException](GeoIO.readAoiGeoJson(spark, point))
    assert(e.getMessage.contains("feature 0") && e.getMessage.contains("is Point"), e.getMessage)

    val empty = write("none.geojson", "")
    val e2 = intercept[IllegalArgumentException](GeoIO.readAoiGeoJson(spark, empty))
    assert(e2.getMessage.contains("no features"), e2.getMessage)

    val text = write("txt.geojson", """{"type":"Feature","properties":{},
      |"geometry":{"type":"Polygon","coordinates":[[[1,2],["x",3],[1,2]]]}}""".stripMargin)
    val e3 = intercept[IllegalArgumentException](GeoIO.readAoiGeoJson(spark, text))
    assert(e3.getMessage.contains("vertex 1"), e3.getMessage)
  }

  test("ascii grid raster round-trips rasterized cells with NODATA fill") {
    import spark.implicits._
    val pts = Seq(
      (12.0, 31.0, 1.0), (13.0, 31.0, 2.0), (14.0, 44.0, 3.0),
      (37.0, 31.0, 4.0), (12.5, 31.5, 5.0))
      .toDF("x", "y", "v")
    val res = 25.0
    val cells = graft.operators.GeoOps.rasterize(pts, col("x"), col("y"), res,
      Seq("n" -> count(lit(1)), "sum" -> sum(col("v"))))
    val dir = Files.createTempDirectory("graft_asc").toString
    val written = GeoIO.writeAsciiGrids(cells, Seq("n", "sum"), res, dir)
    assert(written.map(_.split("/").last).toSet === Set("n.asc", "sum.asc"))

    val lines = Files.readAllLines(java.nio.file.Paths.get(dir, "sum.asc"))
    val header = (0 until 6).map(lines.get(_).split("\\s+")).map(a => a(0) -> a(1)).toMap
    // cells: cx in {0 (x<25), 1 (x>=25)}, cy in {1 (y 31ish), 1 (44/25=1)}
    // all y in [31,44] -> cy=1 only; so 1 row, 2 cols
    assert(header("ncols") === "2" && header("nrows") === "1")
    assert(header("xllcorner").toDouble === 0.0)
    assert(header("yllcorner").toDouble === 25.0)
    assert(header("cellsize").toDouble === res)
    val row = lines.get(6).split(" ").map(_.toDouble)
    assert(row(0) === (1.0 + 2.0 + 3.0 + 5.0)) // cx=0 sum
    assert(row(1) === 4.0)                     // cx=1 sum

    // NODATA fill: add an isolated far cell -> gaps become nodata
    val sparse = graft.operators.GeoOps.rasterize(
      pts.union(Seq((112.0, 31.0, 9.0)).toDF("x", "y", "v")),
      col("x"), col("y"), res, Seq("sum" -> sum(col("v"))))
    GeoIO.writeAsciiGrids(sparse, Seq("sum"), res, dir)
    val l2 = Files.readAllLines(java.nio.file.Paths.get(dir, "sum.asc"))
    val r2 = l2.get(6).split(" ").map(_.toDouble)
    assert(r2.length === 5) // cx 0..4
    assert(r2(2) === -9999.0 && r2(3) === -9999.0) // empty middle cells
    assert(r2(4) === 9.0)

    // the size guard fails loudly instead of materializing a continent
    val e = intercept[IllegalArgumentException] {
      GeoIO.writeAsciiGrids(sparse, Seq("sum"), res, dir, maxCells = 3)
    }
    assert(e.getMessage.contains("maxCells"))
  }

  test("bucketed merge joins without any shuffle exchange") {
    val l = Tables.load(spark, sfDir, "lineitem")
    val l2a = l.filter(col("l_linenumber") === 1).select(
      col("l_orderkey").as("shot"), col("l_extendedprice").as("rh98"))
    val l2b = l.filter(col("l_linenumber") === 2).select(
      col("l_orderkey").as("shot"), col("l_tax").as("pai"))
    MergeOps.writeBucketed(l2a, "l2a_bucketed", "shot", 8)
    MergeOps.writeBucketed(l2b, "l2b_bucketed", "shot", 8)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so the assertion is meaningful
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val merged = MergeOps.mergeBucketed(spark, "l2a_bucketed", "l2b_bucketed",
        on = Seq("shot"))
      val plan = merged.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ in:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and it still computes the right thing
      val viaPlain = MergeOps.mergeGdf(l2a, l2b, on = Seq("shot")).count()
      assert(merged.count() === viaPlain)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS l2a_bucketed")
      spark.sql("DROP TABLE IF EXISTS l2b_bucketed")
    }
  }
}
