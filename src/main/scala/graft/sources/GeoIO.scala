package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GeoFunctions

/** Geometry-aware read/write — the Spark-first analogue of gedixr's
  * GeoParquet/GeoPackage I/O (reference xr.py:11-53 `_reader` dispatches on
  * .parquet vs .gpkg; extract.py:196-220 writes GeoParquet).
  *
  * Geometry travels as a WKT string column (engine-neutral, codegen-friendly
  * predicates stay possible on the numeric lon/lat companions), and the
  * GeoParquet-style file metadata ("geo": version, primary column, encoding,
  * CRS, bbox) is written as a `_geo.json` sidecar in the dataset directory —
  * Spark's parquet writer does not expose custom footer metadata, so the
  * sidecar is the honest dataset-level equivalent. The bbox is computed by
  * `observe` on the same job that writes the data: no second pass.
  */
object GeoIO {

  final case class GeoMeta(geometryColumn: String, encoding: String,
                           crs: String, bbox: Seq[Double])

  /** Write a frame with (lon, lat) as WKT-geometry parquet + geo sidecar.
    * Mirrors the reference's write_gdf: lon/lat collapse into `geometry`
    * and are dropped (extract.py:166-171 semantics). */
  def writeGeoParquet(df: DataFrame, path: String,
                      lonCol: String = "lon", latCol: String = "lat"): GeoMeta = {
    val obs = new org.apache.spark.sql.Observation("geo_bbox")
    val withGeom = df
      .observe(obs,
        min(col(lonCol)).as("minx"), min(col(latCol)).as("miny"),
        max(col(lonCol)).as("maxx"), max(col(latCol)).as("maxy"))
      .withColumn("geometry", GeoFunctions.stPointWkt(col(lonCol), col(latCol)))
      .drop(lonCol, latCol)
    withGeom.write.mode("overwrite").parquet(path)
    val m = obs.get
    val meta = GeoMeta("geometry", "WKT", "EPSG:4326",
      Seq("minx", "miny", "maxx", "maxy").map(k => m(k).asInstanceOf[Double]))
    Files.writeString(Paths.get(path, "_geo.json"),
      s"""{"version":"1.0.0","primary_column":"${meta.geometryColumn}",""" +
        s""""encoding":"${meta.encoding}","crs":"${meta.crs}",""" +
        s""""bbox":[${meta.bbox.mkString(",")}]}""" + "\n")
    meta
  }

  /** Read a geo dataset back: parquet + sidecar; restores numeric lon/lat
    * from the WKT geometry (xr.py's read path hands back a GeoDataFrame
    * with live geometry — here that's the numeric companion columns). */
  def readGeoParquet(spark: SparkSession, path: String,
                     lonCol: String = "lon", latCol: String = "lat"): (DataFrame, GeoMeta) = {
    val meta = readMeta(path)
    val df = Tables.readParquet(spark, path)
    require(df.columns.contains(meta.geometryColumn),
      s"geometry column '${meta.geometryColumn}' missing from $path")
    val restored = df
      .withColumn(lonCol, GeoFunctions.wktPointX(col(meta.geometryColumn)))
      .withColumn(latCol, GeoFunctions.wktPointY(col(meta.geometryColumn)))
    (restored, meta)
  }

  /** AOI vector-file input — ref ancillary.py:121-154 `prepare_vec`: each
    * feature of a vector file becomes a named subsetting polygon (name =
    * file stem, or stem_i for multi-feature files). The engine-neutral
    * public format here is GeoJSON (a FeatureCollection of Polygons in
    * EPSG:4326). Returns (name, outer ring) pairs ready for
    * GeoOps.multiAoiPolygon.
    *
    * The AOI list is driver-sized by contract (it becomes a plan-time
    * constant in the broadcast multi-AOI scan), exactly like the
    * reference's in-memory AOI dict — so the file is read on the driver
    * through Hadoop's FileSystem (any `file:`/hdfs/object-store path) and
    * parsed with the Jackson that ships in Spark's jars, not by a Spark
    * JSON scan (which costs a schema-inference job plus a collect job per
    * command). Integer coordinates come back as doubles. */
  def readAoiGeoJson(spark: SparkSession, path: String): Seq[(String, Seq[(Double, Double)])] = {
    val stem = path.split("/").last.split("\\.").head
    val file = new org.apache.hadoop.fs.Path(path)
    val in = file.getFileSystem(spark.sparkContext.hadoopConfiguration).open(file)
    val doc = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    val feats = doc.path("features")
    require(feats.isArray && !feats.isEmpty, s"no features in $path")
    (0 until feats.size).map { i =>
      val geom = feats.get(i).path("geometry")
      val kind = geom.path("type").asText("missing")
      require(kind == "Polygon",
        s"feature $i of $path is $kind — only Polygon AOIs are supported")
      // outer ring, (lon, lat) per vertex
      val ring = geom.path("coordinates").path(0)
      require(ring.isArray && !ring.isEmpty, s"feature $i of $path has no outer ring")
      val name = if (feats.size > 1) s"${stem}_$i" else stem
      (name, (0 until ring.size).map { v =>
        val (x, y) = (ring.get(v).path(0), ring.get(v).path(1))
        require(x.isNumber && y.isNumber,
          s"feature $i of $path: vertex $v is not a numeric [lon, lat] pair: ${ring.get(v)}")
        (x.asDouble, y.asDouble)
      })
    }
  }

  /** Materialize rasterized cells (GeoOps.rasterize output: cy, cx, bands)
    * as ESRI ASCII grid files — one `<name>.asc` per measurement band, the
    * public raster interchange format every GIS reads. This closes the
    * reference's grid-output path (xr.py:144-174 returns an xarray Dataset
    * with one band per measurement that users save as raster).
    *
    * Scale contract (same as the reference's): the CELL AGGREGATION is the
    * distributed part — rasterize shuffles once on the low-cardinality cell
    * key; a single raster grid is an AOI-sized artifact materialized on the
    * driver exactly like the reference's in-memory xarray. `maxCells`
    * guards against accidentally materializing a continent at 1 m
    * resolution (fail loudly; re-rasterize coarser or per-AOI). */
  def writeAsciiGrids(cells: DataFrame, bands: Seq[String], res: Double,
                      outDir: String, nodata: Double = -9999.0,
                      maxCells: Long = 16000000L): Seq[String] = {
    val keyed = cells
      // null cell keys come from null x/y input rows — no location means
      // no raster cell (the parquet cell output keeps them; grids can't)
      .filter(col("cy").isNotNull && col("cx").isNotNull)
    // The guard must fire BEFORE any driver materialization: derive the
    // grid extent from a tiny min/max aggregation first — collecting the
    // cells and then checking would BE the driver OOM the guard documents
    // itself as preventing.
    val ext = keyed.agg(
      min(col("cy")), max(col("cy")), min(col("cx")), max(col("cx"))).head()
    require(!ext.isNullAt(0), "writeAsciiGrids: no cells to rasterize")
    val (y0, y1, x0, x1) =
      (ext.getLong(0), ext.getLong(1), ext.getLong(2), ext.getLong(3))
    val ncols = x1 - x0 + 1
    val nrows = y1 - y0 + 1
    require(ncols * nrows <= maxCells,
      s"writeAsciiGrids: grid ${ncols}x$nrows exceeds maxCells=$maxCells — " +
      "rasterize at a coarser resolution or split per AOI")
    val rows = keyed
      .select((Seq(col("cy"), col("cx")) ++ bands.map(b => col(b).cast("double"))): _*)
      .collect()
    Files.createDirectories(Paths.get(outDir))
    bands.zipWithIndex.map { case (band, bi) =>
      val grid = Array.fill((nrows * ncols).toInt)(nodata)
      rows.foreach { r =>
        if (!r.isNullAt(2 + bi))
          // ASCII grid rows run north (max cy) to south
          grid(((y1 - r.getLong(0)) * ncols + (r.getLong(1) - x0)).toInt) =
            r.getDouble(2 + bi)
      }
      val sb = new StringBuilder
      sb.append(s"ncols $ncols\n").append(s"nrows $nrows\n")
        .append(s"xllcorner ${x0 * res}\n").append(s"yllcorner ${y0 * res}\n")
        .append(s"cellsize $res\n").append(s"NODATA_value $nodata\n")
      var i = 0
      while (i < nrows) {
        var j = 0
        while (j < ncols) {
          if (j > 0) sb.append(' ')
          sb.append(grid((i * ncols + j).toInt))
          j += 1
        }
        sb.append('\n')
        i += 1
      }
      val p = Paths.get(outDir, s"$band.asc")
      Files.writeString(p, sb.toString)
      p.toString
    }
  }

  /** Parse the sidecar (tiny fixed-shape JSON — no JSON lib dependency). */
  def readMeta(path: String): GeoMeta = {
    val raw = Files.readString(Paths.get(path, "_geo.json"))
    def field(k: String): String =
      s""""$k":"([^"]*)"""".r.findFirstMatchIn(raw).map(_.group(1))
        .getOrElse(sys.error(s"missing $k in _geo.json"))
    val bbox = """"bbox":\[([^\]]*)\]""".r.findFirstMatchIn(raw)
      .map(_.group(1).split(",").map(_.trim.toDouble).toSeq)
      .getOrElse(sys.error("missing bbox in _geo.json"))
    GeoMeta(field("primary_column"), field("encoding"), field("crs"), bbox)
  }
}
