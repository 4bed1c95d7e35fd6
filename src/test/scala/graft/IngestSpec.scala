package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.{Extract, GediCatalog}
import graft.sources.{FixtureGranuleReader, Ingest}

/** End-to-end granule ingest: fixture granules -> shots parquet -> the
  * existing quality/geo pipeline (the reference's extract.py flow). */
class IngestSpec extends SparkSpec {

  /** One fixture granule with the full L2A layer set. Shot i of a beam:
    * lat 10+i, lon 20+i, elev 100+i, dem matching except where `badElev`,
    * quality 1 except shot 0 of coverage beams, rh bin b = b * (i+1) / 1e4. */
  private def writeGranule(dir: String, name: String,
                           beams: Seq[(String, Int, Long)],
                           badElev: Boolean = false, rhBins: Int = 101): String = {
    val sb = new StringBuilder("# graft fixture granule v1\n")
    for ((beam, n, shotBase) <- beams) {
      def line(layer: String, vals: Seq[String]): Unit =
        sb.append(beam).append(' ').append(layer).append(' ')
          .append(vals.mkString(" ")).append('\n')
      val idx = 0 until n
      line("shot_number", idx.map(i => (shotBase + i).toString))
      line("lat_lowestmode", idx.map(i => (10.0 + i).toString))
      line("lon_lowestmode", idx.map(i => (20.0 + i).toString))
      line("elev_lowestmode", idx.map(i => (100.0 + i).toString))
      line("digital_elevation_model",
        idx.map(i => ((if (badElev) 400.0 else 100.0) + i).toString))
      line("degrade_flag", idx.map(_ => "0"))
      line("quality_flag", idx.map(i =>
        if (beam.startsWith("BEAM00") && i == 0) "0" else "1"))
      line("sensitivity", idx.map(_ => "0.95"))
      line("num_detectedmodes", idx.map(_ => "1"))
      line("rh", idx.map(i => (0 until rhBins).map(b => b * (i + 1) / 1e4).mkString(",")))
    }
    val p = Paths.get(dir, name)
    Files.createDirectories(p.getParent)
    Files.writeString(p, sb.toString)
    p.toString
  }

  private def fixtureRoot(): String = {
    val root = Files.createTempDirectory("graft_granules").toString
    // day-of-year 170 = June (month 6); 335 = December
    writeGranule(root, "GEDI02_A_2019170155833_O02932_T02267_02_001_01.h5",
      Seq(("BEAM0101", 3, 1000L), ("BEAM0000", 2, 2000L)))
    writeGranule(root, "GEDI02_A_2019335120000_O04432_T01113_02_001_01.h5",
      Seq(("BEAM0110", 2, 3000L)))
    root
  }

  test("ingest lands beam-group layers with pad/percentile/acq_time semantics") {
    val root = fixtureRoot()
    val (df, errs) = Ingest.ingest(spark, root, "L2A")
    val rows = df.orderBy("shot").collect()
    assert(errs.value === 0)
    assert(rows.length === 7) // 3 + 2 + 2 shots over all beams
    assert(df.columns.toSeq === Seq("granule_id", "beam", "acq_time",
      "shot", "latitude", "longitude", "elev", "elev_dem_tdx",
      "degrade_flag", "quality_flag", "sensitivity", "num_detectedmodes",
      "rh98"))
    val r0 = rows.head
    assert(r0.getAs[String]("shot") === "000000000000001000") // 18-char pad
    assert(r0.getAs[String]("beam") === "BEAM0101")
    // filename 2019170155833 = %Y%j%H%M%S
    assert(r0.getAs[java.sql.Timestamp]("acq_time").toString
      === "2019-06-19 15:58:33.0")
    // rh98 = round(rh[98] * 100) with rh bin b of shot i = b*(i+1)/1e4
    assert(r0.getAs[Long]("rh98") === math.round(98 * 1 / 1e4 * 100))
    val r2 = rows(2) // shot 1002, i=2 in BEAM0101
    assert(r2.getAs[Long]("rh98") === math.round(98 * 3 / 1e4 * 100))
  }

  test("ingest month-filters by filename date and respects beam groups") {
    val root = fixtureRoot()
    val (june, _) = Ingest.ingest(spark, root, "L2A", monthRange = Some((5, 7)))
    assert(june.select("granule_id").distinct().count() === 1)
    assert(june.count() === 5)
    // swapped range normalizes like the reference
    val (swapped, _) = Ingest.ingest(spark, root, "L2A", monthRange = Some((7, 5)))
    assert(swapped.count() === 5)
    val (power, _) = Ingest.ingest(spark, root, "L2A", beamGroup = "power")
    assert(power.select("beam").distinct().collect().map(_.getString(0)).sorted
      === Array("BEAM0101", "BEAM0110"))
  }

  test("corrupt granules are skipped and counted, good ones still land") {
    val root = fixtureRoot()
    Files.writeString(Paths.get(root, "GEDI02_A_2019171000000_corrupt.h5"),
      "BEAM0101 shot_number not_a_number\n")
    val (df, errs) = Ingest.ingest(spark, root, "L2A")
    assert(df.count() === 7)
    assert(errs.value === 1)
  }

  test("a granule whose rh profile lacks the requested bin is counted and skipped") {
    val root = fixtureRoot()
    writeGranule(root, "GEDI02_A_2019171000000_O1_T1_02_001_01.h5",
      Seq(("BEAM0101", 2, 5000L)), rhBins = 60)
    // rh98 projects the read to bin 98: the reader rejects the short
    // profile, the good granules still land
    val (df, errs) = Ingest.ingest(spark, root, "L2A")
    assert(df.count() === 7)
    assert(errs.value === 1)
    // landing the whole vector too: rh98 is checked on the landed profile
    val (mixed, errs2) = Ingest.ingest(spark, root, "L2A",
      extraVars = Some(Seq("rh98" -> "rh98", "rh" -> "rh")))
    assert(mixed.count() === 7)
    assert(errs2.value === 1)
  }

  test("--vars rh=rh lands the whole 101-bin profile beside rhNN") {
    val root = fixtureRoot()
    val out = Files.createTempDirectory("graft_ingest_rh").toString + "/shots"
    Cli.run(spark, "ingest", Map("input" -> root, "output" -> out,
      "product" -> "L2A", "vars" -> "rh=rh,rh97=rh97,rh98=rh98"))
    val rows = spark.read.parquet(out).orderBy("shot").collect()
    assert(rows.length === 7)
    rows.foreach { r =>
      val i = (r.getAs[String]("shot").toLong % 1000).toInt // shot index in its beam
      val rh = r.getAs[collection.Seq[Double]]("rh")
      assert(rh === (0 until 101).map(b => b * (i + 1) / 1e4))
      assert(r.getAs[Long]("rh97") === math.round(rh(97) * 100))
      assert(r.getAs[Long]("rh98") === math.round(rh(98) * 100))
    }
  }

  test("ingested shots run the existing quality + geo pipeline end-to-end") {
    val root = fixtureRoot()
    val (df, _) = Ingest.ingest(spark, root, "L2A", applyQualityFilter = true)
    // coverage-beam shot 0 per granule has quality_flag=0: 7 - 1 = 6 kept
    assert(df.count() === 6)
    assert(!df.columns.contains("quality_flag")) // dropped like the reference
    // q_make_point / bbox subset shape over the landed lon/lat
    val pts = df
      .withColumn("geometry", graft.functions.GeoFunctions.stPointWkt(
        col("longitude"), col("latitude")))
      .filter(graft.functions.GeoFunctions.inBbox(
        col("longitude"), col("latitude"), (20.5, 30.0, 10.5, 30.0)))
    assert(pts.count() > 0 && pts.count() < 6)
    assert(pts.head.getAs[String]("geometry").startsWith("POINT ("))
    // a granule with elev far off the DEM fails the quality predicate
    val root2 = Files.createTempDirectory("graft_granules2").toString
    writeGranule(root2, "GEDI02_A_2019170000000_O1_T1_02_001_01.h5",
      Seq(("BEAM0101", 2, 1L)), badElev = true)
    val (bad, _) = Ingest.ingest(spark, root2, "L2A", applyQualityFilter = true)
    assert(bad.count() === 0)
  }

  test("an empty granule directory fails loudly like the reference") {
    val empty = Files.createTempDirectory("graft_empty").toString
    val e = intercept[IllegalArgumentException] {
      Ingest.ingest(spark, empty, "L2A")
    }
    assert(e.getMessage.contains("no L2A granule files"))
  }

  test("cli pipeline equals the staged ingest -> subset commands (bbox and per-AOI)") {
    val root = fixtureRoot()
    val base = Files.createTempDirectory("graft_pipeline").toString
    def rows(path: String, aoiTag: Boolean = false) = {
      val df = spark.read.parquet(path)
      df.select(df.columns.sorted.map(col): _*).collect()
        .map(_.toSeq).toSet
    }
    // staged: ingest (power beams, quality, june) -> subset (bbox)
    Cli.run(spark, "ingest", Map(
      "input" -> root, "output" -> s"$base/staged_shots",
      "product" -> "L2A", "beams" -> "power", "quality" -> "1",
      "months" -> "5,7"))
    Cli.run(spark, "subset", Map(
      "input" -> s"$base/staged_shots", "output" -> s"$base/staged_sub",
      "x" -> "longitude", "y" -> "latitude", "bbox" -> "20.5,30.0,10.5,30.0"))
    // composed: the same stages in one command, one fused plan
    Cli.run(spark, "pipeline", Map(
      "input" -> root, "output" -> s"$base/one_shot",
      "product" -> "L2A", "beams" -> "power", "quality" -> "1",
      "months" -> "5,7", "bbox" -> "20.5,30.0,10.5,30.0",
      "log" -> s"$base/run.log"))
    assert(rows(s"$base/one_shot") === rows(s"$base/staged_sub"))
    assert(rows(s"$base/one_shot").nonEmpty)
    // --log wrote the run record for the composed command
    val logged = Files.readString(java.nio.file.Paths.get(s"$base/run.log"))
    assert(logged.contains("\"command\": \"pipeline\"") ||
      logged.contains("\"command\":\"pipeline\""))
    // per-AOI fan-out parity: staged subset --aoi vs pipeline --aoi
    val geojson =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{},
        | "geometry":{"type":"Polygon","coordinates":[[[20.0,10.0],[23.0,10.0],[23.0,30.0],[20.0,30.0],[20.0,10.0]]]}}
        |]}""".stripMargin
    Files.writeString(java.nio.file.Paths.get(base, "zone.geojson"), geojson)
    Cli.run(spark, "subset", Map(
      "input" -> s"$base/staged_shots", "output" -> s"$base/staged_aoi",
      "x" -> "longitude", "y" -> "latitude", "aoi" -> s"$base/zone.geojson"))
    Cli.run(spark, "pipeline", Map(
      "input" -> root, "output" -> s"$base/one_shot_aoi",
      "product" -> "L2A", "beams" -> "power", "quality" -> "1",
      "months" -> "5,7", "aoi" -> s"$base/zone.geojson"))
    assert(rows(s"$base/one_shot_aoi") === rows(s"$base/staged_aoi"))
    assert(rows(s"$base/one_shot_aoi").nonEmpty)
  }

  test("cli ingest writes shots parquet from a granule directory") {
    val root = fixtureRoot()
    val out = Files.createTempDirectory("graft_ingest_out").toString + "/shots"
    Cli.run(spark, "ingest", Map(
      "input" -> root, "output" -> out,
      "product" -> "L2A", "beams" -> "power", "quality" -> "1"))
    val got = spark.read.parquet(out)
    assert(got.count() > 0)
    assert(got.columns.contains("rh98") && got.columns.contains("acq_time"))
    assert(got.select("beam").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(GediCatalog.beamGroups("power").toSet))
  }
}
