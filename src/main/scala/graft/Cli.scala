package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.functions.{GeoFunctions, TextFunctions}
import graft.operators.{BloomOps, Dedup, Extract, GediCatalog, GeoOps, GraphOps,
  LateInteraction, MergeOps, Multimodal, PrivacyOps, Sampling, SequenceOps,
  Similarity, SkewOps, SkylineOps, StatsOps, Temporal, TextOps}
import graft.sources.{GeoIO, Ingest, Layout, Manifest}

/** CLI over the engine's ETL surface — the analogue of gedixr's cli.py
  * (R22: extract/download commands). Thin arg-wiring over the operators;
  * every command reads parquet, applies declarative plans, writes parquet.
  *
  * The surface is ONE ordered table of (name, builder) entries: the
  * command list ([[commands]]), the unknown-command error and `main`'s
  * usage line are all derived from it. A synopsis comment sits on its
  * own entry (`P` = a parquet path, `c` = a column name); the builder
  * below it is the full option list. A builder reads its options only
  * through [[Args]], which parses each shared syntax once (`x0,x1,y0,y1`
  * bbox, `lo,hi` months, `out=src` pairs, `name=int` rates, comma lists)
  * and names the command, the `--option` and the bad value when one is
  * missing or malformed. */
object Cli {

  /** The options of one command run, read through typed accessors, plus
    * the run's parquet input/output hooks. Every accessor either returns
    * a well-formed value or throws an IllegalArgumentException naming the
    * command, the `--option` and (when given) the bad value.
    *
    * With `--log`, the FIRST [[in]] of a run and its [[write]] carry the
    * run log's row-count observations; [[side]] inputs never do. */
  final class Args private[Cli] (val spark: SparkSession, cmd: String,
                                 opts: Map[String, String]) {

    def has(k: String): Boolean = opts.contains(k)
    def get(k: String): Option[String] = opts.get(k)
    def missing(k: String): Nothing =
      throw new IllegalArgumentException(s"$cmd: --$k is required")
    def bad(k: String, v: String, want: String): Nothing =
      throw new IllegalArgumentException(s"$cmd: --$k '$v' is not $want")

    /** The one place a raw value is parsed: any failure names the option. */
    private def parsed[T](k: String, want: String)(f: String => T): Option[T] =
      get(k).map(v => try f(v) catch { case NonFatal(_) => bad(k, v, want) })
    private def required[T](k: String, v: Option[T]): T = v.getOrElse(missing(k))
    private def items(v: String): Seq[String] = v.split(",").toSeq
    private def pair(kv: String): (String, String) = kv.split("=", 2) match {
      case Array(n, v) if n.nonEmpty && v.nonEmpty => (n, v)
    }

    /** A presence flag: absent or `false` is off, `true` is on. */
    def flag(k: String): Boolean = get(k) match {
      case None | Some("false") => false
      case Some("true") => true
      case Some(v) => bad(k, v, "true or false")
    }
    def str(k: String): String = required(k, get(k))
    def str(k: String, default: String): String = get(k).getOrElse(default)
    def intOpt(k: String): Option[Int] = parsed(k, "an integer")(_.toInt)
    def int(k: String): Int = required(k, intOpt(k))
    def int(k: String, default: Int): Int = intOpt(k).getOrElse(default)
    private def longOpt(k: String): Option[Long] = parsed(k, "an integer")(_.toLong)
    def long(k: String): Long = required(k, longOpt(k))
    def long(k: String, default: Long): Long = longOpt(k).getOrElse(default)
    private def doubleOpt(k: String): Option[Double] = parsed(k, "a number")(_.toDouble)
    def double(k: String): Double = required(k, doubleOpt(k))
    def double(k: String, default: Double): Double = doubleOpt(k).getOrElse(default)
    /** `a,b,c` */
    def list(k: String): Seq[String] = items(str(k))
    def list(k: String, default: Seq[String]): Seq[String] = get(k).fold(default)(items)
    /** `1,2,3` */
    def longs(k: String): Seq[Long] =
      required(k, parsed(k, "a list of integers")(items(_).map(_.toLong)))
    /** `--bbox x0,x1,y0,y1` */
    def bbox: Option[(Double, Double, Double, Double)] =
      parsed("bbox", "x0,x1,y0,y1")(v => items(v).map(_.toDouble) match {
        case Seq(x0, x1, y0, y1) => (x0, x1, y0, y1)
      })
    /** `--months lo,hi` */
    def months: Option[(Int, Int)] =
      parsed("months", "lo,hi")(v => items(v).map(_.toInt) match {
        case Seq(lo, hi) => (lo, hi)
      })
    /** `out=src,...`, in order */
    def pairs(k: String): Option[Seq[(String, String)]] =
      parsed(k, "a list of name=value pairs")(items(_).map(pair))
    /** `name=int,...`, in order */
    def rates(k: String): Option[Seq[(String, Int)]] =
      parsed(k, "a list of name=integer pairs")(v => items(v).map(pair).map {
        case (n, p) => (n, p.toInt)
      })

    /** The embedding commands' column defaults. */
    def vecId: String = str("id", "vec_id")
    def vecCol: String = str("vec", "embedding")

    private val logged = has("log")
    private val tag = System.nanoTime()
    private val obsIn = new Observation(s"graft_run_in_$tag")
    private val obsOut = new Observation(s"graft_run_out_$tag")
    private var inAttached = false
    private var outAttached = false

    def in(k: String): DataFrame = {
      val df = Tables.readParquet(spark, str(k))
      if (logged && !inAttached) {
        inAttached = true
        df.observe(obsIn, count(lit(1)).as("n_rows"))
      } else df
    }
    /** A secondary parquet input: never observed as the run's input. */
    def side(k: String): DataFrame = Tables.readParquet(spark, str(k))
    /** `--input` with raw catalog int64-nanos event ts normalized — the
      * same rule (and code) as Tables.load. */
    def nanosIn(ts: String): DataFrame = Tables.normalizeNanosTs(in("input"), ts)

    def write(df: DataFrame): Unit = {
      val out =
        if (logged) {
          outAttached = true
          df.observe(obsOut, count(lit(1)).as("n_rows"))
        } else df
      out.write.mode("overwrite").parquet(str("output"))
    }

    // Commands that bypass in()/write() (ingest reads granule files, not
    // parquet; subset --aoi writes via writePerAoi) never ATTACH the
    // observation: -1 without waiting. An attached one that never fired
    // (e.g. an optimizer-pruned side) is -1 too.
    private def rows(o: Observation, attached: Boolean): Long =
      if (!attached) -1L
      else org.apache.spark.sql.graftbridge.PlanBridge.observedAfterAction(o)
        .flatMap(_.get("n_rows")).fold(-1L)(_.asInstanceOf[Long])
    private[Cli] def nInput: Long = rows(obsIn, inAttached)
    private[Cli] def nOutput: Long = rows(obsOut, outAttached)

    /** The granule error counter of an `ingest`/`pipeline` run: it fills
      * during the write, so the run log reads it after the command. */
    private[Cli] var granuleErrors: Option[org.apache.spark.util.LongAccumulator] = None
  }

  private def command(name: String)(build: Args => Unit): (String, Args => Unit) =
    name -> build

  /** Every command, in declaration order — the single list of the
    * surface. CliSpec asserts that each entry dispatches and pins the
    * count, so SURVEY §2.5 can never drift from the code again (the r10
    * prose count had silently included two --algo sub-arms). */
  private val table: Vector[(String, Args => Unit)] = Vector(
    // ingest --input DIR --output P [--product L2A] [--beams power]
    //        [--months lo,hi] [--quality 1] [--vars out=layer,...]
    command("ingest") { a =>
      // granule files -> shots parquet (fixture reader; swap point for a
      // real HDF5-backed GranuleReader — see Ingest scaladoc)
      val (landed, errs) = ingested(a)
      a.write(landed)
      reportIngestErrors(errs, "ingest")
    },
    // pipeline --input DIR --output P [--product L2A] [--beams power]
    //          [--months lo,hi] [--quality 1] [--vars out=layer,...]
    //          [--x longitude --y latitude]
    //          (--bbox x0,x1,y0,y1 | --aoi file.geojson -> per-AOI dirs)
    command("pipeline") { a =>
      // one-shot reference-parity extraction (gedixr `extract`
      // composes discovery -> month filter -> beams -> variables ->
      // quality -> subset -> per-AOI write in one command, cli.py:
      // 17-156): the same stages graft exposes individually, fused.
      // Composition beats the staged commands at scale: the subset
      // predicate and the ingest projections run in the SAME scan
      // stage (no parquet round-trip between stages), so granule
      // bytes are read exactly once.
      val box = a.bbox
      val (landed, errs) = ingested(a)
      val px = col(a.str("x", "longitude"))
      val py = col(a.str("y", "latitude"))
      a.get("aoi") match {
        case Some(geojson) =>
          val aois = GeoIO.readAoiGeoJson(a.spark, geojson)
          GeoOps.writePerAoi(
            GeoOps.multiAoiPolygon(landed, px, py, aois), a.str("output"))
        case None =>
          a.write(box.fold(landed)(b =>
            landed.filter(GeoFunctions.inBbox(px, py, b))))
      }
      reportIngestErrors(errs, "pipeline")
    },
    // extract --input P --output P [--beam-col c --beams a,b]
    //         [--ts-col c --months lo,hi] [--vars out=src,...]
    command("extract") { a =>
      var df = a.in("input")
      for (beams <- a.get("beams"); bc <- a.get("beam-col"))
        df =
          if (GediCatalog.beamGroups.contains(beams.toLowerCase))
            GediCatalog.beamFilterGroup(df, bc, beams)
          else Extract.beamFilter(df, bc, a.list("beams"))
      for (months <- a.months; tc <- a.get("ts-col"))
        df = Extract.monthFilter(df, tc, months)
      for (vars <- a.pairs("vars"))
        df = Extract.selectVariables(df, vars)
      a.write(df)
    },
    // subset --input P --output P --x c --y c
    //        (--bbox x0,x1,y0,y1 | --aoi file.geojson -> per-AOI dirs)
    command("subset") { a =>
      a.get("aoi") match {
        case Some(geojson) =>
          // vector-file subsetting (ref prepare_vec + per-AOI outputs):
          // one tagged pass, partitioned write = one directory per AOI
          val aois = GeoIO.readAoiGeoJson(a.spark, geojson)
          GeoOps.writePerAoi(GeoOps.multiAoiPolygon(a.in("input"),
            col(a.str("x")), col(a.str("y")), aois), a.str("output"))
        case None =>
          val box = a.bbox.getOrElse(a.missing("bbox"))
          a.write(a.in("input").filter(GeoFunctions.inBbox(
            col(a.str("x")), col(a.str("y")), box)))
      }
    },
    // merge --left P --right P --output P [--on k1,k2] [--how inner]
    command("merge") { a =>
      val on = a.list("on", Seq("shot", "acq_time"))
      a.write(MergeOps.mergeGdf(a.in("left"), a.in("right"),
        on = on, how = a.str("how", "inner")))
    },
    // rasterize --input P --output P --x c --y c --res R --sum c [--asc DIR]
    command("rasterize") { a =>
      val res = a.double("res")
      val cells = GeoOps.rasterize(a.in("input"),
        col(a.str("x")), col(a.str("y")), res,
        Seq("n" -> count(lit(1)), "sum" -> sum(col(a.str("sum")))))
      a.write(cells)
      // optional raster materialization: one ESRI ASCII grid per band
      a.get("asc").foreach { dir =>
        GeoIO.writeAsciiGrids(a.side("output"), Seq("n", "sum"), res, dir)
      }
    },
    // manifest --input P --output P [--product PAT] [--months lo,hi]
    //          [--bbox x0,x1,y0,y1]
    command("manifest") { a =>
      a.write(Manifest.prune(a.in("input"), a.get("product"), a.months, a.bbox))
    },
    // dedup --input P --output P --id c --text c
    command("dedup") { a =>
      a.write(Dedup.exactDedup(a.in("input"), a.str("id"), a.str("text")))
    },
    // cluster --input P --output P --id c --text c [--k 16 --bands 4]
    //         [--algo minlabel|logstar]
    command("cluster") { a =>
      val edges = Dedup.lshStarEdges(a.in("input"), a.str("id"), a.str("text"),
        a.int("k", 16), a.int("bands", 4))
      // minlabel: diameter rounds (near-dup clusters are diameter 2-3);
      // logstar: O(log n) rounds for pathological high-diameter graphs
      a.write(a.str("algo", "minlabel") match {
        case "logstar" => Dedup.connectedComponentsLogStar(edges)
        case "minlabel" => Dedup.connectedComponents(edges)
        case other => a.bad("algo", other, "minlabel or logstar")
      })
    },
    // sample --input P --output P --id c --strata c
    //        [--rates en=20,de=50] [--default-pct 100]
    command("sample") { a =>
      val rates = a.rates("rates").getOrElse(Nil).toMap
      a.write(Sampling.stratified(a.in("input"), a.str("id"), a.str("strata"),
        rates, a.int("default-pct", 100)))
    },
    // pack --input P --output P --id c --text c [--budget 256] [--buckets 8]
    command("pack") { a =>
      a.write(TextOps.packSequences(a.in("input"), a.str("id"), a.str("text"),
        a.int("budget", 256),
        a.int("buckets", 8)))
    },
    // sessionize --input P --output P --key c --ts c --tie c --value c
    //            [--gap-sec 1800]
    command("sessionize") { a =>
      a.write(Temporal.sessionize(
        a.nanosIn(a.str("ts")),
        a.str("key"), a.str("ts"),
        a.str("tie"), a.str("value"), a.long("gap-sec", 1800L)))
    },
    // asof --left P --right P --output P --key c --time c --payload c1,c2
    command("asof") { a =>
      a.write(Temporal.asofJoin(a.in("left"), a.in("right"),
        a.str("key"), a.str("time"), a.list("payload")))
    },
    // chunk --input P --output P --id c --text c [--window 32] [--stride 24]
    command("chunk") { a =>
      a.write(TextOps.chunkDocs(a.in("input"), a.str("id"), a.str("text"),
        a.int("window", 32),
        a.int("stride", 24)))
    },
    // cap --input P --output P --id c --group c [--k 10]
    command("cap") { a =>
      a.write(Sampling.perGroupCap(a.in("input"), a.str("id"), a.str("group"),
        a.int("k", 10)))
    },
    // upsert --base P --updates P --output P --keys k1,k2 --version v1,v2
    command("upsert") { a =>
      a.write(MergeOps.latestWinsMerge(a.in("base"), a.in("updates"),
        a.list("keys"), a.list("version")))
    },
    // score --input P --output P --text c
    command("score") { a =>
      // quality + entropy signals in one narrow pass (filtering rides
      // downstream predicates)
      a.write(TextOps.charEntropy(
        TextOps.qualityScore(a.in("input"), a.str("text")), a.str("text")))
    },
    // blockdedup --input P --output P --id c --text c [--block-tokens 32]
    command("blockdedup") { a =>
      a.write(TextOps.blockDedup(a.in("input"), a.str("id"), a.str("text"),
        a.int("block-tokens", 32)))
    },
    // bm25 --input P --output P --id c --text c --terms t1,t2 [--k 5]
    command("bm25") { a =>
      a.write(TextOps.bm25TopDocs(a.in("input"), a.str("id"), a.str("text"),
        a.list("terms"),
        a.int("k", 5)))
    },
    // compact --input P --output P [--target-bytes 134217728]
    command("compact") { a =>
      val (before, after) = Layout.compact(a.spark,
        a.str("input"), a.str("output"),
        a.long("target-bytes", 128L * 1024 * 1024))
      System.err.println(s"[graft] compact: $before files -> $after")
    },
    // semdedup --input P --output P [--centroids 8] [--tau 0.2]
    //          [--id vec_id] [--vec embedding]
    command("semdedup") { a =>
      a.write(Similarity.semDedup(a.in("input"),
        a.int("centroids", 8),
        a.double("tau", 0.2),
        a.vecId, a.vecCol))
    },
    // outliers --input P --output P --group c --value c [--k 3.0]
    command("outliers") { a =>
      a.write(StatsOps.madOutliers(a.in("input"),
        a.str("group"), a.str("value"),
        a.double("k", 3.0)))
    },
    // skyline --input P --output P --min-col c --max-col c
    command("skyline") { a =>
      a.write(SkylineOps.skyline2D(a.in("input"),
        a.str("min-col"), a.str("max-col")))
    },
    // collocations --input P --output P --id c --text c
    //              [--min-count 3] [--k 20]
    command("collocations") { a =>
      a.write(TextOps.collocations(a.in("input"), a.str("id"), a.str("text"),
        a.long("min-count", 3L),
        a.int("k", 20)))
    },
    // profile --input P --output P
    command("profile") { a =>
      a.write(StatsOps.profile(a.in("input")))
    },
    // urldedup --input P --output P --url c [--id c -> elect per canonical]
    command("urldedup") { a =>
      // stamp canonical_url; with --id, elect min id per canonical key
      val canon = TextOps.urlCanonicalize(a.in("input"), a.str("url"))
      a.write(a.get("id") match {
        case Some(id) => canon.groupBy("canonical_url")
          .agg(count(lit(1)).as("n_docs"), min(col(id)).as("keep_id"))
        case None => canon
      })
    },
    // split --input P --output P --id c [--bands train=90,val=5,test=5]
    command("split") { a =>
      // order defines the bands
      val bands = a.rates("bands")
        .getOrElse(Seq("train" -> 90, "val" -> 5, "test" -> 5))
      a.write(Sampling.hashSplit(a.in("input"), a.str("id"), bands))
    },
    // pagerank --input P --output P [--iters 3] [--damping 0.85]
    //          [--src src] [--dst dst]
    command("pagerank") { a =>
      a.write(GraphOps.pageRank(a.in("input"),
        a.int("iters", 3),
        a.double("damping", 0.85),
        a.str("src", "src"), a.str("dst", "dst")))
    },
    // cdc --base P --updates P --output P --keys k1,k2 --version v [--op op]
    command("cdc") { a =>
      // --base snapshot parquet, --updates change-log parquet with an
      // --op column ("log" is taken by the run-log flag)
      a.write(MergeOps.cdcApply(a.in("base"), a.in("updates"),
        a.list("keys"), a.list("version"),
        a.str("op", "op")))
    },
    // scd2 --input P --output P --keys k1,k2 --ts c
    command("scd2") { a =>
      a.write(MergeOps.scd2(a.in("input"),
        a.list("keys"), a.str("ts")))
    },
    // resample --input P --output P --key c --ts c --value c [--unit hour]
    command("resample") { a =>
      a.write(Temporal.resample(
        a.nanosIn(a.str("ts")),
        a.str("key"), a.str("ts"), a.str("value"),
        a.str("unit", "hour")))
    },
    // skewstats --input P --output P --key c
    command("skewstats") { a =>
      a.write(SkewOps.keySkew(a.in("input"), a.str("key")))
    },
    // interpfill --input P --output P --key c --ts c --value c [--unit hour]
    command("interpfill") { a =>
      a.write(Temporal.interpFill(
        a.nanosIn(a.str("ts")),
        a.str("key"), a.str("ts"), a.str("value"),
        a.str("unit", "hour")))
    },
    // labelprop --input P --output P [--iters 3] [--a a] [--b b]
    command("labelprop") { a =>
      a.write(GraphOps.labelProp(a.in("input"),
        a.int("iters", 3),
        a.str("a", "a"), a.str("b", "b")))
    },
    // hits --input P --output P [--iters 3] [--src src] [--dst dst]
    command("hits") { a =>
      a.write(GraphOps.hits(a.in("input"),
        a.int("iters", 3),
        a.str("src", "src"), a.str("dst", "dst")))
    },
    // knngraph --input P --output P [--k 5] [--centroids 16] [--nprobe 2]
    //          [--id vec_id] [--vec embedding]
    command("knngraph") { a =>
      a.write(Similarity.knnGraph(a.in("input"),
        a.int("k", 5),
        a.int("centroids", 16),
        a.int("nprobe", 2),
        a.vecId, a.vecCol))
    },
    // kanon --input P --output P --quasi c1,c2 [--k 10]
    command("kanon") { a =>
      a.write(PrivacyOps.kAnonymize(a.in("input"),
        a.list("quasi"), a.int("k", 10)))
    },
    // basket --input P --output P --basket c --item c
    //        [--min-co 2] [--max-basket 100] [--k 50]
    command("basket") { a =>
      a.write(StatsOps.marketBasket(a.in("input"),
        a.str("basket"), a.str("item"),
        a.long("min-co", 2L),
        a.int("max-basket", 100),
        a.int("k", 50)))
    },
    // gini --input P --output P --group c --weight c
    command("gini") { a =>
      a.write(StatsOps.giniConcentration(a.in("input"),
        a.str("group"), a.str("weight")))
    },
    // welch --input P --output P --group c --value c --a g1 --b g2
    command("welch") { a =>
      a.write(StatsOps.welchT(a.in("input"),
        a.str("group"), a.str("value"), a.str("a"), a.str("b")))
    },
    // cms --input P --output P --term c [--width 256] [--depth 4] [--k 20]
    command("cms") { a =>
      a.write(StatsOps.countMin(a.in("input"), a.str("term"),
        a.int("width", 256),
        a.int("depth", 4),
        a.int("k", 20)))
    },
    // hamming --input P --output P --id c --text c [--bits 30] [--radius 2]
    command("hamming") { a =>
      a.write(Dedup.simhashHammingPairs(a.in("input"), a.str("id"), a.str("text"),
        a.int("bits", 30),
        a.int("radius", 2)))
    },
    // utm --input P --output P [--lon lon --lat lat]
    //     [--inverse true --easting c --northing c --zone c --south c]
    command("utm") { a =>
      // general CRS transform (to_crs parity — ancillary.py:146-147):
      // forward lon/lat -> per-row UTM zone + easting/northing, or
      // --inverse easting/northing/zone/south -> lon/lat
      if (a.flag("inverse")) {
        val (ilon, ilat) = GeoFunctions.utmInverse(
          col(a.str("easting", "easting_m")).cast("double"),
          col(a.str("northing", "northing_m")).cast("double"),
          col(a.str("zone", "utm_zone")),
          col(a.str("south", "south")))
        a.write(a.in("input").withColumn("lon", ilon).withColumn("lat", ilat))
      } else {
        val lon = col(a.str("lon", "lon"))
        val lat = col(a.str("lat", "lat"))
        val (e, n) = GeoFunctions.utmForward(lon, lat)
        a.write(a.in("input")
          .filter(lat.between(-80.0, 84.0))
          .withColumn("utm_zone", GeoFunctions.utmZone(lon))
          .withColumn("south", lat < 0.0)
          .withColumn("easting_m", e)
          .withColumn("northing_m", n))
      }
    },
    command("lcc") { a =>
      // Lambert conformal conic forward (the conic to_crs family):
      // --phi0/--phi1/--phi2/--lon0 declare the cone (defaults: the
      // classic CONUS 33/45 secant cone)
      val lon = col(a.str("lon", "lon"))
      val lat = col(a.str("lat", "lat"))
      val (x, y) = GeoFunctions.lccForward(lon, lat,
        phi0Deg = a.double("phi0", 23.0),
        phi1Deg = a.double("phi1", 33.0),
        phi2Deg = a.double("phi2", 45.0),
        lon0Deg = a.double("lon0", -96.0))
      a.write(a.in("input")
        .filter(lat.between(-80.0, 84.0))
        .withColumn("lcc_x_m", x)
        .withColumn("lcc_y_m", y))
    },
    // admit --corpus P --batch P --output P --id c --text c [--tau 0.5]
    command("admit") { a =>
      // incremental near-dup admission: candidates (batch vs corpus
      // signature join) verified by exact bigram jaccard >= tau
      val id = a.str("id"); val text = a.str("text")
      val corpus = a.in("corpus"); val batch = a.side("batch")
      val cand = Dedup.minhashIncrement(corpus, batch, id, text)
      a.write(Dedup.ngramJaccard(
          cand.select(col("new_id").as("a"), col("dup_of").as("b")),
          corpus.unionByName(batch), id, text)
        .filter(col("jaccard") >= a.double("tau", 0.5))
        .select(col("a").as("new_id"), col("b").as("dup_of"), col("jaccard")))
    },
    command("maxsim") { a =>
      // late-interaction scoring: --queries is a parquet of query-doc
      // token vectors (doc, tok, vec); default tokens-per-doc 4
      val tpd = a.int("tokens", 4)
      val cand = LateInteraction.tokenFrame(a.in("input"), tpd,
        a.vecId, a.vecCol)
      val qs = LateInteraction.tokenFrame(
        a.side("queries"), tpd,
        a.vecId, a.vecCol)
      val k = a.int("k", 5)
      a.write(a.intOpt("token-topn") match {
        case Some(n) => LateInteraction.maxSimRerank(cand, qs, k, n, tpd)
        case None => LateInteraction.maxSim(cand, qs, k, tpd)
      })
    },
    command("hardneg") { a =>
      a.write(LateInteraction.hardNegatives(a.in("input"),
        a.side("queries"),
        a.int("k", 5),
        a.vecId, a.vecCol,
        a.str("label", "label")))
    },
    command("olstrend") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.olsTrend(a.nanosIn(ts),
        a.str("group"), ts, a.str("value")))
    },
    command("cusum") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.cusumChangepoint(a.nanosIn(ts),
        a.str("group"), ts))
    },
    command("ewma") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.ewmaDaily(a.nanosIn(ts),
        a.str("group"), ts, a.str("value"),
        a.double("alpha", 0.25)))
    },
    command("hll") { a =>
      // register-level distinct count: writes the one-row estimate;
      // --registers also persists the mergeable register frame
      val p = a.int("p", 9)
      val regs = StatsOps.hllRegisters(a.in("input"),
        a.str("key"), p)
      a.get("registers").foreach(dir =>
        regs.write.mode("overwrite").parquet(dir))
      a.write(StatsOps.hllEstimate(regs, p))
    },
    command("kmv") { a =>
      // bottom-k distinct sketch: writes the per-group estimate;
      // --sketch also persists the mergeable (grp, hv, rn) frame
      val k = a.int("k", 64)
      val sk = StatsOps.kmvSketch(a.in("input"),
        a.str("group"), a.str("key"), k)
      a.get("sketch").foreach(dir =>
        sk.write.mode("overwrite").parquet(dir))
      a.write(StatsOps.kmvEstimate(sk, a.str("group"), k))
    },
    command("kcore") { a =>
      // input = (a, b) edge parquet. DEFAULT = exact fixpoint peel
      // (correct on any cascade depth); --rounds N opts into the
      // fixed-round oracle-twin form (VERDICT r9: a user who lands on
      // the default must get exact labels, not a truncation).
      a.write(a.intOpt("rounds") match {
        case Some(n) => GraphOps.kCore(a.in("input"),
          a.int("k", 4), n,
          a.str("a", "a"), a.str("b", "b"))
        case None => GraphOps.kCoreFixpoint(a.in("input"),
          a.int("k", 4),
          aCol = a.str("a", "a"), bCol = a.str("b", "b"))
      })
    },
    command("assort") { a =>
      a.write(GraphOps.degreeAssortativity(a.in("input"),
        a.str("a", "a"), a.str("b", "b")))
    },
    command("calibrate") { a =>
      a.write(StatsOps.rankCalibrate(a.in("input"),
        a.str("group"), a.str("score"), a.str("id"),
        a.double("keep", 0.2)))
    },
    command("mmr") { a =>
      // stage-1 exact top-n then MMR-diversified k picks
      val e = a.in("input")
      val ranked = Similarity.cosineTopK(e,
          a.side("queries"),
          a.int("n", 10),
          a.vecId, a.vecCol)
        .withColumnRenamed("cos_sim", "rel")
      a.write(Similarity.mmrRerank(ranked, e,
        a.int("k", 4),
        a.int("lambda-tenths", 7),
        a.vecId, a.vecCol))
    },
    command("seasonal") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.seasonalDow(a.nanosIn(ts),
        a.str("group"), ts,
        a.double("lo", 0.5),
        a.double("hi", 2.0)))
    },
    command("footprint") { a =>
      a.write(GeoOps.footprintCover(a.in("input"),
        col(a.str("x", "lon")), col(a.str("y", "lat")),
        a.double("res"), a.double("r"),
        a.int("sub", 4)))
    },
    command("sq8") { a =>
      a.write(Similarity.sq8TopK(a.in("input"),
        a.side("queries"),
        a.int("k", 5), a.int("n", 20),
        a.vecId, a.vecCol))
    },
    command("linkpredict") { a =>
      a.write(GraphOps.linkPredictRA(a.in("input"),
        a.int("topk", 50),
        a.str("a", "a"), a.str("b", "b")))
    },
    command("mediadedup") { a =>
      // input = documents-shaped parquet (doc_id, text) as media payloads
      a.write(Multimodal.mediaNearDup(
        Multimodal.mediaFromDocuments(a.in("input")),
        a.int("frame", 64),
        a.int("stride", 2),
        a.long("min-shared", 2L)))
    },
    command("ldiversity") { a =>
      a.write(PrivacyOps.lDiversify(a.in("input"),
        a.list("quasi"), a.str("sensitive"),
        a.int("l", 2)))
    },
    command("intervaljoin") { a =>
      // inputs: --input (a_start/a_end us bounds), --right (b_start/b_end)
      a.write(Temporal.intervalJoin(a.in("input"),
        a.side("right"),
        a.str("a-start", "a_start"), a.str("a-end", "a_end"),
        a.str("b-start", "b_start"), a.str("b-end", "b_end"),
        a.long("bin-us", 3600000000L)))
    },
    command("seqmatch") { a =>
      // --patterns name=regex,name=regex (RE2 ∩ java.regex subset)
      val pats = a.pairs("patterns").getOrElse(Seq("m_funnel" -> "v.*c.*p"))
      val ts = a.str("ts", "ts")
      a.write(SequenceOps.seqMatch(
        SequenceOps.codeSequences(a.nanosIn(ts),
          a.str("key", "user_id"), ts,
          a.str("tie", "event_id"),
          substring(col(a.str("code", "event_type")), 1, 1)),
        pats))
    },
    command("paths") { a =>
      val ts = a.str("ts", "ts")
      a.write(SequenceOps.eventPaths(a.nanosIn(ts),
        a.str("key", "user_id"), ts,
        a.str("tie", "event_id"),
        substring(col(a.str("code", "event_type")), 1, 1),
        a.int("n", 5)))
    },
    command("bfs") { a =>
      // --seeds comma-separated node ids. DEFAULT = frontier expansion
      // to exhaustion (true hop distances on any diameter); --rounds N
      // opts into the fixed-round truncated form (the oracle twin).
      val seedDf = a.spark.createDataFrame(a.longs("seeds").map(Tuple1(_))).toDF("node")
      a.write(a.intOpt("rounds") match {
        case Some(n) => GraphOps.bfsHops(a.in("input"),
          seedDf, n,
          a.str("a", "a"), a.str("b", "b"))
        case None => GraphOps.bfsHopsFixpoint(a.in("input"),
          seedDf,
          aCol = a.str("a", "a"), bCol = a.str("b", "b"))
      })
    },
    command("tcloseness") { a =>
      a.write(PrivacyOps.tCloseness(a.in("input"),
        a.list("quasi"), col(a.str("cat")),
        a.double("t", 0.15)))
    },
    command("gopher") { a =>
      a.write(TextOps.gopherRules(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.long("min-words", 20L),
        a.long("max-words", 80L)))
    },
    command("clf") { a =>
      a.write(TextOps.clfMarginFilter(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.long("buckets", 64L)))
    },
    command("dsir") { a =>
      // --target SQL boolean expression over the input's columns
      a.write(TextOps.dsirWeights(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        expr(a.str("target", "lang = 'en'"))))
    },
    command("radiusjoin") { a =>
      a.write(GeoOps.radiusJoin(a.in("input"),
        a.long("r"), a.str("id", "id"),
        a.str("x", "ix"), a.str("y", "iy")))
    },
    command("hexbin") { a =>
      a.write(GeoOps.hexBin(a.in("input"),
        a.long("w", 15000L),
        a.long("h", 26000L),
        Seq("n" -> count(lit(1))),
        a.str("id", "id"),
        a.str("x", "ix"), a.str("y", "iy")))
    },
    command("dbscan") { a =>
      // DEFAULT = exact cluster labels via star-contraction components
      // (correct on elongated clusters whatever the core-graph
      // diameter); --rounds N opts into the fixed-round min-label
      // propagation (the unrolled-SQL oracle twin).
      a.write(a.intOpt("rounds") match {
        case Some(n) => GeoOps.dbscan(a.in("input"),
          a.long("r"), a.int("min-pts", 5),
          n, a.str("id", "id"))
        case None => GeoOps.dbscanFixpoint(a.in("input"),
          a.long("r"), a.int("min-pts", 5),
          a.str("id", "id"))
      })
    },
    command("modularity") { a =>
      // --labels parquet of (node, label); defaults to labelProp rounds
      val edges = a.in("input")
      val labels = if (a.has("labels")) a.side("labels")
        else GraphOps.labelProp(edges,
          a.int("iters", 3),
          a.str("a", "a"), a.str("b", "b"))
      a.write(GraphOps.modularity(edges, labels,
        a.str("a", "a"), a.str("b", "b")))
    },
    command("ppr") { a =>
      val seeds = a.longs("seeds")
      a.write(GraphOps.personalizedPageRank(a.in("input"),
        a.spark.createDataFrame(seeds.map(Tuple1(_))).toDF("node"),
        a.int("iters", 3),
        a.double("damping", 0.85),
        a.str("src", "src"), a.str("dst", "dst")))
    },
    command("theilsen") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.theilSen(a.nanosIn(ts),
        a.str("group", "event_type"), ts))
    },
    command("cdcchunk") { a =>
      a.write(TextOps.cdcChunkProfile(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.int("window", 8),
        a.int("mask-bits", 5)))
    },
    command("rendezvous") { a =>
      a.write(Sampling.rendezvousShards(a.in("input"),
        a.str("id", "doc_id"), a.int("n"),
        a.intOpt("n-new").getOrElse(a.int("n"))))
    },
    command("dpcounts") { a =>
      a.write(PrivacyOps.dpCounts(a.in("input"),
        a.str("group")))
    },
    command("decay") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.decayScore(a.nanosIn(ts),
        a.str("group", "event_type"), ts,
        a.int("half-life-days", 7)))
    },
    command("hbos") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.hbosOutliers(a.nanosIn(ts),
        a.str("id", "event_id"), ts,
        a.str("value", "value"),
        a.double("threshold", 18.0)))
    },
    command("ood") { a =>
      a.write(Similarity.centroidOod(a.in("input"),
        a.str("label", "label"),
        a.double("threshold", 0.5),
        a.vecId, a.vecCol))
    },
    command("linkage") { a =>
      // input: pair parquet with boolean agreement columns (--features)
      a.write(MergeOps.fellegiSunter(a.in("input"),
        a.list("features"),
        a.int("rounds", 2)))
    },
    command("sax") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.saxWords(a.nanosIn(ts),
        a.str("group", "event_type"), ts,
        a.int("seg-days", 4)))
    },
    command("burstiness") { a =>
      val ts = a.str("ts", "ts")
      a.write(StatsOps.burstiness(a.nanosIn(ts),
        a.str("group", "event_type"), ts,
        a.double("threshold", 1.5)))
    },
    command("ndcg") { a =>
      // inputs: --input truth ranking, --approx system ranking —
      // both (qid, vec_id, rank) parquet
      a.write(Similarity.ndcgAtK(a.in("input"),
        a.side("approx"), a.int("k")))
    },
    command("leakage") { a =>
      a.write(TextOps.splitLeakage(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.int("eval-pct", 10),
        a.int("n", 5)))
    },
    command("confusion") { a =>
      a.write(StatsOps.confusionMatrix(a.in("input"),
        a.str("truth"), a.str("pred")))
    },
    command("hilltail") { a =>
      a.write(StatsOps.hillTail(a.in("input"),
        a.str("group", "event_type"),
        a.str("value", "value"),
        a.int("k", 50)))
    },
    command("kendall") { a =>
      // inputs: --input and --right, both (qid, vec_id, rank)
      a.write(Similarity.kendallTau(a.in("input"),
        a.side("right")))
    },
    command("simpson") { a =>
      a.write(StatsOps.simpsonDiversity(a.in("input"),
        a.str("group")))
    },
    command("heaps") { a =>
      a.write(TextOps.heapsLaw(a.in("input"),
        a.str("group", "source"), a.str("text", "text")))
    },
    command("novelty") { a =>
      a.write(TextOps.ngramNovelty(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.int("n", 5)))
    },
    command("wilson") { a =>
      // --flag: boolean SQL expression over the input's columns
      a.write(StatsOps.wilsonInterval(
        a.in("input").withColumn("_flag", expr(a.str("flag"))),
        a.str("group"), "_flag",
        a.double("z", 1.96)))
    },
    command("holt") { a =>
      // Holt double-exponential smoothing per group (level + trend)
      a.write(StatsOps.holtSmooth(a.in("input"),
        a.str("group", "event_type"),
        a.str("ts", "ts")))
    },
    command("bt") { a =>
      // Bradley-Terry strengths from pairwise per-user preferences
      // (the LLM-judge / arena aggregation shape)
      a.write(StatsOps.bradleyTerry(a.in("input"),
        a.str("user", "user_id"),
        a.str("type", "event_type"),
        a.str("ts", "ts"),
        a.int("iters", 2)))
    },
    command("localcc") { a =>
      // per-node local clustering coefficient over an (a, b) edge frame
      a.write(GraphOps.localClusteringCoeff(a.in("input"),
        a.str("a", "a"), a.str("b", "b")))
    },
    command("piidensity") { a =>
      // per-source PII exposure audit (routes scrub priority)
      a.write(TextOps.piiDensity(a.in("input"),
        a.str("source", "source"),
        a.str("text", "text")))
    },
    command("entities") { a =>
      // capitalized-span entity mentions per source (no-model NER)
      a.write(TextOps.entityMentions(a.in("input"),
        a.str("source", "source"),
        a.str("text", "text")))
    },
    command("clfcal") { a =>
      // ECE reliability table of the margin classifier vs the rule gate
      a.write(TextOps.clfCalibration(a.in("input"),
        a.str("id", "doc_id"),
        a.str("text", "text")))
    },
    command("kappa") { a =>
      // Cohen's kappa between two categorical columns
      a.write(StatsOps.cohensKappa(a.in("input"),
        a.str("a"), a.str("b")))
    },
    command("psi") { a =>
      // population stability index; input must carry grp/bin/side
      a.write(StatsOps.psi(a.in("input"),
        a.str("group", "grp"), a.str("bin", "bin"),
        a.str("side", "side"),
        a.int("bins", 10)))
    },
    command("auc") { a =>
      // grouped AUC over pre-bucketed scores (grp, b, y)
      a.write(StatsOps.groupAuc(a.in("input"),
        a.str("group", "grp"), a.str("bucket", "b"),
        a.str("label", "y")))
    },
    command("rbo") { a =>
      // rank-biased overlap between rankings by two integer metrics
      a.write(StatsOps.rbo(a.in("input"),
        a.str("id", "id"),
        col(a.str("metric-a", "ma")),
        col(a.str("metric-b", "mb")),
        a.int("depth", 20),
        a.double("p", 0.9)))
    },
    command("apriori") { a =>
      // frequent triples with a-priori pruning over (bk, it) baskets
      a.write(StatsOps.aprioriTriples(a.in("input"),
        a.str("basket", "bk"), a.str("item", "it"),
        a.long("min-co", 2L),
        a.int("max-basket", 100),
        a.int("k", 50)))
    },
    command("jsdrift") { a =>
      // Jensen-Shannon drift per group vs the corpus
      a.write(TextOps.jsDrift(a.in("input"),
        a.str("group", "source"), a.str("text", "text"),
        a.int("top-v", 200)))
    },
    command("ohlc") { a =>
      // OHLC resample bars per (key, bar)
      a.write(Temporal.ohlcBars(a.in("input"),
        a.str("key", "event_type"), a.str("ts", "ts"),
        a.str("tie", "event_id"), a.str("value", "value"),
        a.str("unit", "hour")))
    },
    command("twa") { a =>
      // time-weighted average per key over irregular samples
      a.write(Temporal.timeWeightedAvg(a.in("input"),
        a.str("key", "event_type"), a.str("ts", "ts"),
        a.str("tie", "event_id"), a.str("value", "value")))
    },
    command("overlapjoin") { a =>
      // lossless prefix-filtered overlap join (containment >= num/den)
      a.write(Dedup.overlapPrefixJoin(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.str("block", "source"),
        a.int("alpha-num", 1),
        a.int("alpha-den", 4)))
    },
    command("srm") { a =>
      // sample-ratio mismatch gate; input yields grp + 0/1 arm
      a.write(StatsOps.sampleRatioMismatch(a.in("input"),
        a.str("group", "grp"), a.str("arm", "arm"),
        a.double("expected0", 0.5)))
    },
    command("changepoint") { a =>
      // single binseg changepoint per group over daily counts
      a.write(StatsOps.changepoint(a.in("input"),
        a.str("group", "event_type"), a.str("ts", "ts")))
    },
    command("louvain") { a =>
      // FULL phase-1 fixpoint by default (gated synchronous sweeps to
      // convergence); --one-sweep true opts into the declared single
      // move-sweep face (node, new_label, gain_num)
      if (a.flag("one-sweep"))
        a.write(GraphOps.louvainMove(a.in("input"),
          a.str("a", "a"), a.str("b", "b")))
      else
        a.write(GraphOps.louvain(a.in("input"),
          a.str("a", "a"), a.str("b", "b"),
          a.int("max-sweeps", 16)))
    },
    command("brier") { a =>
      // Brier score + Murphy decomposition of the clf gate vs rules
      a.write(TextOps.brierDecomposition(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text")))
    },
    command("bloomfpr") { a =>
      // bloom FPR audit: --insert dim parquet, input = probe universe
      a.write(BloomOps.bloomFprAudit(
        a.side("insert"), a.in("input"),
        a.str("insert-key", "o_orderkey"),
        a.str("key", "o_orderkey"),
        a.long("expected", 100000L),
        a.double("fpp", 0.03)))
    },
    command("fleiss") { a =>
      // Fleiss' kappa over an (item, category) multi-rater frame
      a.write(StatsOps.fleissKappa(a.in("input"),
        a.str("item", "it"), a.str("cat", "cat"),
        a.int("max-raters", 256)))
    },
    command("mcnemar") { a =>
      // McNemar's paired test between two 0/1 gate columns
      a.write(StatsOps.mcnemar(a.in("input"),
        a.str("a"), a.str("b")))
    },
    command("distshift") { a =>
      // Hellinger + TV drift per group; input yields grp/bin/side
      a.write(StatsOps.distShift(a.in("input"),
        a.str("group", "grp"), a.str("bin", "bin"),
        a.str("side", "side"),
        a.int("bins", 10)))
    },
    command("bhfdr") { a =>
      // BH FDR control over per-group binned-KS drift tests
      a.write(StatsOps.bhFdr(a.in("input"),
        a.str("group", "grp"), a.str("bin", "bin"),
        a.str("side", "side"),
        a.int("bins", 64),
        a.double("alpha", 0.1)))
    },
    command("avgprec") { a =>
      // average precision per group over bucketed scores (grp, b, y)
      a.write(StatsOps.avgPrecision(a.in("input"),
        a.str("group", "grp"), a.str("bucket", "b"),
        a.str("label", "y")))
    },
    command("jw") { a =>
      // Jaro-Winkler similarity column over two name columns
      a.write(a.in("input").withColumn("jw", round(
        TextFunctions.jaroWinkler(
          col(a.str("a", "na")), col(a.str("b", "nb"))),
        6)))
    },
    command("quantilenorm") { a =>
      // quantile-normalize per-group buckets onto the pooled CDF
      a.write(StatsOps.quantileNorm(a.in("input"),
        a.str("group", "grp"), a.str("bin", "bin"),
        a.int("bins", 64)))
    },
    command("cascade") { a =>
      // rule-gate x clf-gate yield funnel per source
      a.write(TextOps.cascadeYield(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.str("source", "source")))
    },
    command("tokenbudget") { a =>
      // uniform token-budget split priced against per-source inventory
      a.write(TextOps.tokenBudget(a.in("input"),
        a.str("text", "text"), a.str("source", "source"),
        a.long("budget")))
    },
    command("survivors") { a =>
      // dedup survivorship bill per source off the LSH cluster graph
      a.write(Dedup.dedupSurvivors(a.in("input"),
        a.str("id", "doc_id"), a.str("text", "text"),
        a.str("source", "source"),
        a.int("k", 16),
        a.int("bands", 2)))
    },
    command("audiofeat") { a =>
      // typed audio features off the real WAV codec; input yields
      // (media_id, kind, content) — corrupt clips drop (ingest stance)
      import a.spark.implicits._
      a.write(Multimodal.audioFeatures(
        a.in("input").as[Multimodal.MediaRecord]).toDF())
    },
    command("audiodedup") { a =>
      // audio near-dup pairs by energy-contour fingerprint Hamming
      import a.spark.implicits._
      a.write(Multimodal.audioHammingDup(
        Multimodal.audioFeatures(a.in("input").as[Multimodal.MediaRecord]),
        a.int("max-hamming", 3)))
    },
    command("geodesic") { a =>
      // great-circle radius join over (id, lon, lat) via 3D chord bins
      a.write(GeoOps.haversineJoin(a.in("input"),
        a.double("radius-m"),
        a.str("id", "id"), a.str("lon", "lon"),
        a.str("lat", "lat")))
    },
    command("winrate") { a =>
      // pairwise win-rate matrix with Wilson CIs over (user, type)
      a.write(StatsOps.winRateMatrix(a.in("input"),
        a.str("user", "user_id"),
        a.str("type", "event_type"),
        a.double("z", 1.96)))
    },
    command("distinctn") { a =>
      // Distinct-1/Distinct-2 lexical diversity per source
      a.write(TextOps.distinctNgrams(a.in("input"),
        a.str("text", "text"), a.str("source", "source")))
    },
    command("freqdrift") { a =>
      // top-k token-share drift between sides 0/1 of the input
      a.write(TextOps.freqDriftTopK(a.in("input"),
        a.str("side", "side"), a.str("text", "text"),
        a.int("top-v", 200),
        a.int("k", 20)))
    },
    command("benford") { a =>
      // Benford first-digit chi2 audit per group over a measure column
      a.write(StatsOps.benfordAudit(a.in("input"),
        a.str("group", "event_type"),
        a.str("value", "value")))
    },
    command("lorenz") { a =>
      // Lorenz curve points per group (cumulative weight share at
      // item-count deciles)
      a.write(StatsOps.lorenzCurve(a.in("input"),
        a.str("group", "source"), a.str("id", "doc_id"),
        a.str("weight", "n_chars")))
    },
    command("markov") { a =>
      // stationary distribution of the per-user type chain
      a.write(Temporal.markovStationary(a.in("input"),
        a.str("user", "user_id"), a.str("type", "event_type"),
        a.str("ts", "ts"), a.str("tie", "event_id"),
        a.int("rounds", 8)))
    },
    command("km") { a =>
      // Kaplan-Meier survival of per-user inter-event gaps (censored)
      a.write(Temporal.kaplanMeier(a.in("input"),
        a.str("user", "user_id"), a.str("ts", "ts"),
        a.str("tie", "event_id")))
    },
    command("ivf-index") { a =>
      // persisted cell-partitioned ANN index: corpus-derived cells,
      // two-level assignment (the query path's geometry) — a probe
      // against the layout reads only its nprobe cell directories.
      // --train-iters N runs N Lloyd updates first, so the persisted
      // quantizer is trained centroids, not arbitrary low-id rows.
      val iters = a.int("train-iters", 0)
      val nCells = Similarity.writeIvfIndex(a.in("input"), a.str("output"),
        a.long("target-cell", 32L),
        a.vecId, a.vecCol,
        trainIters = iters)
      System.err.println(
        s"[graft] ivf-index: $nCells cells (train-iters=$iters) -> ${a.str("output")}")
    },
    command("ivf-probe") { a =>
      // serving path over an ivf-index layout: queries rank cells
      // against the sidecar quantizer; the index scan is pruned to
      // exactly the probed cell directories
      a.write(Similarity.ivfProbeIndex(a.spark, a.str("index"), a.in("input"),
        a.int("k", 5),
        a.int("nprobe", 4),
        idCol = a.vecId,
        vecCol = a.vecCol))
    },
    command("ivf-append") { a =>
      // incremental maintenance: assign the batch against the FROZEN
      // persisted quantizer and append to the cell partitions; the
      // drift ratio (batch fit / build fit) says when the frozen
      // geometry stopped fitting and a retrained rebuild is due
      val (n, drift) = Similarity.appendToIvfIndex(a.spark, a.str("index"),
        a.in("input"),
        a.vecId, a.vecCol)
      val d = drift.map(v =>
        String.format(java.util.Locale.ROOT, " drift=%.3f", Double.box(v)))
        .getOrElse("")
      System.err.println(s"[graft] ivf-append: $n rows -> ${a.str("index")}$d")
      val warnOver = a.double("warn-drift", 2.0)
      drift.filter(_ > warnOver).foreach { v =>
        System.err.println(String.format(java.util.Locale.ROOT,
          "[graft] ivf-append: WARNING batch drift %.2fx the build fit " +
            "(threshold %.2f) — the frozen quantizer no longer fits " +
            "incoming data; rebuild with ivf-index --train-iters",
          Double.box(v), Double.box(warnOver)))
      }
    },
    command("ivf-compact") { a =>
      // merge-on-write step owed by ivf-append: rewrite every cell
      // partition to one part file, sidecars copied byte-for-byte;
      // out-of-place — the caller swaps the dir (snapshot discipline)
      val (before, after) = Similarity.compactIvfIndex(a.spark,
        a.str("input"), a.str("output"))
      System.err.println(
        s"[graft] ivf-compact: $before cell files -> $after in ${a.str("output")}")
    })

  /** The table's names, in declaration order. */
  val commands: Vector[String] = table.map(_._1)
  private val builders: Map[String, Args => Unit] = table.toMap

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      s"usage: <${commands.mkString("|")}> --opt v ...")
    val cmd = args.head
    val opts = parseOpts(args.tail)
    val spark = session()
    try run(spark, cmd, opts)
    finally spark.stop()
  }

  /** Separated from main so specs can drive commands on a live session.
    *
    * With `--log <file>`, every command appends one JSON line to the run
    * log — command, status, n_input/n_output rows, wall seconds — the
    * analogue of the reference's per-run log handler (ancillary.py:10-118
    * writes a log file with per-granule counts). Counts ride the SAME job
    * as the write (Dataset.observe on the first input and on the output
    * frame): no second pass, exactly-once under task retry. */
  def run(spark: SparkSession, cmd: String, opts: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    val args = new Args(spark, cmd, opts)
    val logPath = args.get("log")
    def wallSec: Double = math.round((System.nanoTime() - t0) / 1e7) / 100.0

    try {
      PB.scoped(builders.getOrElse(cmd, throw new IllegalArgumentException(
        s"unknown command: $cmd (known: ${commands.mkString(", ")})"))(args))
      logPath.foreach(RunLog.append(_, Seq(
        "command" -> cmd, "status" -> "ok",
        "n_input" -> args.nInput,
        "n_output" -> args.nOutput) ++
        args.granuleErrors.map(e => "n_granule_errors" -> e.value) :+
        ("wall_sec" -> wallSec)))
    } catch {
      case e: Throwable =>
        // a log-write failure must not replace the real command failure
        logPath.foreach { p =>
          try RunLog.append(p, Seq(
            "command" -> cmd, "status" -> "error",
            "error" -> e.toString.take(300), "wall_sec" -> wallSec))
          catch { case le: Throwable => e.addSuppressed(le) }
        }
        throw e
    }
  }

  /** Granule ingest for the `ingest` and `pipeline` commands. The error
    * accumulator fills during the WRITE job (the ingest frame is lazy),
    * so callers report it AFTER their action via [[reportIngestErrors]],
    * and `--log` records it as `n_granule_errors`. */
  private def ingested(a: Args): (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val (landed, errs) = Ingest.ingest(
      a.spark, a.str("input"), a.str("product", "L2A"),
      a.str("beams", "all"), a.pairs("vars"),
      new graft.sources.FixtureGranuleReader, a.months,
      a.get("quality").contains("1"))
    a.granuleErrors = Some(errs)
    (landed, errs)
  }

  private def reportIngestErrors(errs: org.apache.spark.util.LongAccumulator,
                                 cmd: String): Unit =
    if (errs.value > 0)
      System.err.println(s"[graft $cmd] ${errs.value} granule errors — " +
        "see preceding log lines")

  private def parseOpts(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case bad => sys.error(s"bad option pair: ${bad.mkString(" ")}")
    }.toMap

  private def session(): SparkSession = {
    val builder = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .appName("graft-cli")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark
  }
}
