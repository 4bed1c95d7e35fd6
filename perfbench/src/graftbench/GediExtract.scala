package graftbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.{Extract, GediCatalog, GeoOps}
import graft.sources.{FixtureGranuleReader, Ingest, Manifest}

/** `gedi_extract`: gedixr's own job on seeded fixture-format granules —
  * `pipeline` L2A (quality + AOI), `pipeline` L2B, `merge` on
  * shot/acq_time/aoi, `rasterize` — through `graft.Cli.run`. */
final class GediExtract(work: String, seed: Long) extends Workload {
  /** Valid granules per product; one more L2A granule is corrupt. */
  val Granules = 7
  val ShotsPerBeam = 1000
  val RhBins = 101
  val Beams: Seq[String] = GediCatalog.beamGroups("all")

  private val granDir = s"$work/granules"
  private val aoiPath = s"$work/aois.geojson"
  private val outA = s"$work/out/l2a"
  private val outB = s"$work/out/l2b"
  private val outM = s"$work/out/merged"
  private val outR = s"$work/out/raster"

  private val rng = new Rng(seed)
  private def granuleId(product: String, g: Int): String = {
    val doy = 100 + g * 7
    f"${GediCatalog.productPrefix(product)}_2019$doy%03d${(g * 37) % 24}%02d${(g * 13) % 60}%02d${(g * 29) % 60}%02d" +
      f"_O${1959 + g}%05d_02_T0${3909 + g}_02_003_01_V002"
  }
  /** Index of the corrupt L2A granule (its L2B twin is valid). */
  private val corrupt = Granules

  // Generated truth, one slot per shot of every granule (valid + corrupt).
  private val nShots = (Granules + 1) * Beams.size * ShotsPerBeam
  private val lon = new Array[Double](nShots)
  private val lat = new Array[Double](nShots)
  private val passA = new Array[Boolean](nShots)
  private val passB = new Array[Boolean](nShots)
  private var aois: Seq[(String, Seq[(Double, Double)])] = Nil

  def itemsPerUnit: Double = (Granules + (Granules + 1)) * Beams.size * ShotsPerBeam.toDouble

  // -- generation ---------------------------------------------------------

  /** Fixed-point decimal text of `v / 10^dec` (no locale, no rounding). */
  private def fixed(sb: java.lang.StringBuilder, v: Long, dec: Int): Unit = {
    if (v < 0) sb.append('-')
    val a = math.abs(v)
    var scale = 1L
    for (_ <- 0 until dec) scale *= 10
    sb.append(a / scale)
    if (dec > 0) {
      sb.append('.')
      val f = (a % scale).toString
      for (_ <- f.length until dec) sb.append('0')
      sb.append(f)
    }
  }
  private def token(v: Long, dec: Int): String = {
    val sb = new java.lang.StringBuilder; fixed(sb, v, dec); sb.toString
  }

  private def writeAois(): Unit = {
    def j(v: Double) = (v * 1e4).round.toLong
    def jitter = rng.between(-800, 800).toLong
    // concave L, pentagon, and a triangle overlapping the pentagon
    val shapes = Seq(
      Seq((9.2, 46.2), (10.6, 46.2), (10.6, 46.9), (9.9, 46.9), (9.9, 48.4), (9.2, 48.4)),
      Seq((11.0, 47.0), (12.4, 47.2), (12.7, 48.3), (11.8, 49.1), (10.9, 48.2)),
      Seq((12.0, 48.0), (12.9, 49.7), (11.2, 49.6)))
    aois = shapes.zipWithIndex.map { case (pts, i) =>
      s"aois_$i" -> pts.map { case (x, y) =>
        (token(j(x) + jitter, 4).toDouble, token(j(y) + jitter, 4).toDouble)
      }
    }
    val feats = aois.map { case (_, ring) =>
      val closed = ring :+ ring.head
      val coords = closed.map { case (x, y) => s"[$x, $y]" }.mkString("[[", ", ", "]]")
      s"""{"type": "Feature", "properties": {}, "geometry": {"type": "Polygon", "coordinates": $coords}}"""
    }
    Files.writeString(Paths.get(aoiPath),
      feats.mkString("{\"type\": \"FeatureCollection\", \"features\": [\n", ",\n", "\n]}\n"))
  }

  def generate(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(granDir))
    writeAois()
    for (g <- 0 to Granules) {
      val a = new BufferedWriter(new FileWriter(s"$granDir/${granuleId("L2A", g)}.h5"), 1 << 20)
      val b = new BufferedWriter(new FileWriter(s"$granDir/${granuleId("L2B", g)}.h5"), 1 << 20)
      a.write("# graft fixture granule v1\n")
      b.write("# graft fixture granule v1\n")
      Beams.zipWithIndex.foreach { case (beam, bi) =>
        val n = ShotsPerBeam
        val base = (g * Beams.size + bi) * n
        val cols = mutable.LinkedHashMap.empty[String, java.lang.StringBuilder]
        def line(w: BufferedWriter, layer: String): java.lang.StringBuilder =
          cols.getOrElseUpdate(s"${if (w eq a) "A" else "B"}$layer",
            new java.lang.StringBuilder(n * 8).append(beam).append(' ').append(layer))
        for (i <- 0 until n) {
          val k = base + i
          val shot = (g + 1) * 1000000000000L + (bi + 1) * 10000000L + i
          val x = token(900000L + rng.int(400000), 5)
          val y = token(4600000L + rng.int(400000), 5)
          lon(k) = x.toDouble
          lat(k) = y.toDouble
          val elevC = 20000L + rng.int(180000)
          val off = if (rng.chance(0.06)) (if (rng.chance(0.5)) 1 else -1) * (10000L + rng.int(20000))
            else (rng.gaussian() * 2000).round
          val elev = token(elevC, 2)
          val dem = token(elevC + off, 2)
          val modes = if (rng.chance(0.05)) 0 else rng.between(1, 6)
          val (qa, da) = (if (rng.chance(0.8)) 1 else 0, if (rng.chance(0.9)) 0 else rng.between(1, 9))
          val (qb, db) = (if (rng.chance(0.85)) 1 else 0, if (rng.chance(0.92)) 0 else rng.between(1, 9))
          val geomOk = modes > 0 && math.abs(elev.toDouble - dem.toDouble) < 100.0
          passA(k) = qa == 1 && da == 0 && geomOk
          passB(k) = qb == 1 && db == 0 && geomOk
          val sens = token(800L + rng.int(200), 3)
          val h = 200L + rng.int(3800) // canopy height, cm
          // L2A layers
          line(a, "shot_number").append(' ').append(shot)
          line(a, "lat_lowestmode").append(' ').append(y)
          line(a, "lon_lowestmode").append(' ').append(x)
          line(a, "elev_lowestmode").append(' ').append(elev)
          line(a, "digital_elevation_model").append(' ').append(dem)
          line(a, "degrade_flag").append(' ').append(da)
          line(a, "quality_flag").append(' ').append(qa)
          line(a, "sensitivity").append(' ').append(sens)
          line(a, "num_detectedmodes").append(' ').append(modes)
          val rh = line(a, "rh").append(' ')
          for (bin <- 0 until RhBins) {
            if (bin > 0) rh.append(',')
            fixed(rh, -300L + (h + 300L) * bin / (RhBins - 1), 2)
          }
          // L2B layers (same shots and geolocation, own quality flags)
          line(b, "shot_number").append(' ').append(shot)
          line(b, "geolocation/lat_lowestmode").append(' ').append(y)
          line(b, "geolocation/lon_lowestmode").append(' ').append(x)
          line(b, "geolocation/elev_lowestmode").append(' ').append(elev)
          line(b, "geolocation/digital_elevation_model").append(' ').append(dem)
          line(b, "geolocation/degrade_flag").append(' ').append(db)
          line(b, "l2b_quality_flag").append(' ').append(qb)
          line(b, "sensitivity").append(' ').append(sens)
          line(b, "num_detectedmodes").append(' ').append(modes)
          fixed(line(b, "cover").append(' '), rng.int(1000).toLong, 3)
          fixed(line(b, "fhd_normal").append(' '), rng.int(4000).toLong, 3)
          fixed(line(b, "pai").append(' '), rng.int(6000).toLong, 3)
          fixed(line(b, "rh100").append(' '), h, 2)
        }
        if (g == corrupt && bi == Beams.size - 1)
          line(a, "num_detectedmodes").append(" 3.x") // unparseable long
        cols.foreach { case (key, sb) =>
          (if (key.startsWith("A")) a else b).append(sb).append('\n')
        }
      }
      a.close()
      b.close()
    }
  }

  // -- the job ------------------------------------------------------------

  private def chain(spark: SparkSession, t: Tracer): Unit = {
    val common = Map("quality" -> "1", "aoi" -> aoiPath, "input" -> granDir)
    t.call("cli", "pipeline_l2a", "cli")(graft.Cli.run(spark, "pipeline",
      common ++ Map("product" -> "L2A", "output" -> outA)))
    t.call("cli", "pipeline_l2b", "cli")(graft.Cli.run(spark, "pipeline",
      common ++ Map("product" -> "L2B", "output" -> outB)))
    t.call("cli", "merge", "cli")(graft.Cli.run(spark, "merge", Map(
      "left" -> outA, "right" -> outB, "output" -> outM, "on" -> "shot,acq_time,aoi")))
    t.call("cli", "rasterize", "cli")(graft.Cli.run(spark, "rasterize", Map(
      "input" -> outM, "output" -> outR, "x" -> "longitude_l2a", "y" -> "latitude_l2a",
      "res" -> "0.05", "sum" -> "rh98")))
  }

  def unit(spark: SparkSession, t: Tracer): Unit = chain(spark, t)

  /** Plain-Scala even-odd ray cast (envelope test, then crossings over
    * the non-horizontal edges), written independently of the program's
    * kernel. */
  private def inside(x: Double, y: Double, ring: Seq[(Double, Double)]): Boolean = {
    val (xs, ys) = (ring.map(_._1), ring.map(_._2))
    if (x < xs.min || x > xs.max || y < ys.min || y > ys.max) return false
    var odd = false
    for (i <- ring.indices) {
      val (xi, yi) = ring(i)
      val (xj, yj) = ring((i + 1) % ring.size)
      if (yi != yj && ((yi > y) != (yj > y)) && x < (xj - xi) * (y - yi) / (yj - yi) + xi)
        odd = !odd
    }
    odd
  }

  def check(spark: SparkSession, t: Tracer): Seq[String] = {
    val perShot = Beams.size * ShotsPerBeam
    def expected(pass: Int => Boolean): Map[String, Long] =
      aois.map { case (name, ring) =>
        name -> (0 until nShots).count(k => pass(k) && inside(lon(k), lat(k), ring)).toLong
      }.toMap
    val validA = (k: Int) => k / perShot != corrupt && passA(k)
    val expA = expected(validA)
    val expB = expected(passB(_))
    val expM = expected(k => validA(k) && passB(k))
    def counts(path: String): Map[String, Long] =
      spark.read.parquet(path).groupBy("aoi").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"gedi_extract $what: got $got, expected $want"
    expect("L2A per-AOI shots", counts(outA), expA.filter(_._2 > 0))
    expect("L2B per-AOI shots", counts(outB), expB.filter(_._2 > 0))
    expect("merged per-AOI rows", counts(outM), expM.filter(_._2 > 0))
    expect("corrupt granule rows",
      spark.read.parquet(outA).filter(col("granule_id") === granuleId("L2A", corrupt)).count(), 0L)
    expect("raster shot total",
      spark.read.parquet(outR).agg(sum("n")).head().getLong(0), expM.values.sum)
    problems.toSeq
  }

  // -- layer probes -------------------------------------------------------

  def probes(spark: SparkSession, t: Tracer, m: mutable.Map[String, Double]): Seq[String] = {
    val pattern = GediCatalog.granulePattern("L2A")
    m("sources.discover_s") = t.span("sources.discover")(
      Layers.timeMedian(3)(Manifest.discover(spark, granDir, pattern).collect()))

    val files = (0 until Granules).map(g => s"$granDir/${granuleId("L2A", g)}.h5").take(2)
    val layers = GediCatalog.defaultBase("L2A").map(_._2) :+ "rh"
    val reader = new FixtureGranuleReader
    val readS = t.span("sources.read")(Layers.timeMedian(3)(
      files.foreach(f => reader.read(f, Beams, layers))))
    m("sources.read_shots_per_s") = files.size * Beams.size * ShotsPerBeam / readS

    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def landed() = Ingest.ingest(spark, granDir, "L2A", "all",
      reader = new FixtureGranuleReader)._1
    val ingestS = t.span("sources.ingest")(Layers.timeMedian(3)(noop(landed())))
    m("sources.ingest_s") = ingestS
    val fused = t.span("operators.quality_aoi")(Layers.timeMedian(3)(noop(
      GeoOps.multiAoiPolygon(Extract.qualityFilter(landed()),
        col("longitude"), col("latitude"), aois))))
    m("operators.quality_aoi_s") = fused - ingestS
    val pipelineS = t.span("sources.write")(Layers.timeMedian(3)(graft.Cli.run(spark, "pipeline",
      Map("quality" -> "1", "aoi" -> aoiPath, "input" -> granDir, "product" -> "L2A",
        "output" -> outA))))
    m("sources.write_s") = pipelineS - fused
    val parts = Files.walk(Paths.get(outA)).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
    m("sources.write_files") = parts.size
    m("sources.write_mb") = parts.map(Files.size).sum / 1048576.0

    val pts = landed().select(col("longitude"), col("latitude")).cache()
    val rows = pts.count()
    val ring = aois.head._2
    m("plans.pip_rows_per_s") = Layers.kernelRate(t, "plans.pip", pts, rows)(
      graft.functions.GeoFunctions.pointInPolygon(col("longitude"), col("latitude"), ring))
    m("plans.pip_tree_rows_per_s") = Layers.kernelRate(t, "plans.pip_tree", pts, rows)(
      graft.functions.GeoFunctions.pointInPolygonColumnTree(col("longitude"), col("latitude"), ring))
    pts.unpersist(blocking = true)

    // the curation probe set: one untraced warm-up chain (checked), one
    // traced chain (the cli.{gopher,dedup,cluster,semdedup}.* metrics),
    // then its kernel and operator probes
    val cur = new Curation(s"$work/curation", seed)
    t.stopTracing()
    cur.generate(spark)
    cur.unit(spark, t)
    val problems = cur.check(spark, t)
    t.startTracing()
    t.span("curation")(cur.unit(spark, t))
    cur.probes(spark, t, m)
    problems
  }
}
