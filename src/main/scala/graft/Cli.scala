package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Extract, GeoOps, MergeOps, Sampling, Similarity, Temporal, TextOps}
import graft.sources.Manifest

/** CLI over the engine's ETL surface — the analogue of gedixr's cli.py
  * (R22: extract/download commands). Thin arg-wiring over the operators;
  * every command reads parquet, applies declarative plans, writes parquet.
  *
  * Usage:
  *   ingest    --input DIR --output P [--product L2A] [--beams power]
  *             [--months lo,hi] [--quality 1] [--vars out=layer,...]
  *   pipeline  --input DIR --output P [--product L2A] [--beams power]
  *             [--months lo,hi] [--quality 1] [--vars out=layer,...]
  *             [--x longitude --y latitude]
  *             (--bbox x0,x1,y0,y1 | --aoi file.geojson -> per-AOI dirs)
  *             one-shot gedixr-`extract` parity: ingest -> quality ->
  *             subset -> write in one fused plan
  *   extract   --input P --output P [--beam-col c --beams a,b]
  *             [--ts-col c --months lo,hi] [--vars out=src,...]
  *   subset    --input P --output P --x c --y c
  *             (--bbox x0,x1,y0,y1 | --aoi file.geojson  -> per-AOI dirs)
  *   merge     --left P --right P --output P [--on k1,k2] [--how inner]
  *   rasterize --input P --output P --x c --y c --res R --sum c
  *   manifest  --input P --output P [--product PAT] [--months lo,hi]
  *             [--bbox x0,x1,y0,y1]
  *   dedup     --input P --output P --id c --text c
  *   cluster   --input P --output P --id c --text c [--k 16 --bands 4]
  *             [--algo minlabel|logstar]
  *   sample    --input P --output P --id c --strata c
  *             [--rates en=20,de=50] [--default-pct 100]
  *   pack      --input P --output P --id c --text c
  *             [--budget 256] [--buckets 8]
  *   sessionize --input P --output P --key c --ts c --tie c --value c
  *             [--gap-sec 1800]
  *   asof      --left P --right P --output P --key c --time c
  *             --payload c1,c2
  *   chunk     --input P --output P --id c --text c
  *             [--window 32] [--stride 24]
  *   cap       --input P --output P --id c --group c [--k 10]
  *   upsert    --base P --updates P --output P --keys k1,k2
  *             --version v1,v2
  *   score     --input P --output P --text c
  *   blockdedup --input P --output P --id c --text c [--block-tokens 32]
  *   bm25      --input P --output P --id c --text c --terms t1,t2 [--k 5]
  *   compact   --input P --output P [--target-bytes 134217728]
  *   semdedup  --input P --output P [--centroids 8] [--tau 0.2]
  *             [--id vec_id] [--vec embedding]
  *   outliers  --input P --output P --group c --value c [--k 3.0]
  *   skyline   --input P --output P --min-col c --max-col c
  *   collocations --input P --output P --id c --text c
  *             [--min-count 3] [--k 20]
  *   profile   --input P --output P
  *   urldedup  --input P --output P --url c [--id c -> elect per canonical]
  *   split     --input P --output P --id c [--bands train=90,val=5,test=5]
  *   pagerank  --input P --output P [--iters 3] [--damping 0.85]
  *             [--src src] [--dst dst]
  *   utm       --input P --output P [--lon lon --lat lat]
  *             [--inverse true --easting c --northing c --zone c --south c]
  *   cdc       --base P --updates P --output P --keys k1,k2 --version v
  *             [--op op]
  *   scd2      --input P --output P --keys k1,k2 --ts c
  *   resample  --input P --output P --key c --ts c --value c [--unit hour]
  *   skewstats --input P --output P --key c
  *   interpfill --input P --output P --key c --ts c --value c [--unit hour]
  *   labelprop --input P --output P [--iters 3] [--a a] [--b b]
  *   hits      --input P --output P [--iters 3] [--src src] [--dst dst]
  *   knngraph  --input P --output P [--k 5] [--centroids 16] [--nprobe 2]
  *             [--id vec_id] [--vec embedding]
  *   kanon     --input P --output P --quasi c1,c2 [--k 10]
  *   basket    --input P --output P --basket c --item c
  *             [--min-co 2] [--max-basket 100] [--k 50]
  *   gini      --input P --output P --group c --weight c
  *   welch     --input P --output P --group c --value c --a g1 --b g2
  *   cms       --input P --output P --term c [--width 256] [--depth 4]
  *             [--k 20]
  *   hamming   --input P --output P --id c --text c [--bits 30] [--radius 2]
  *   admit     --corpus P --batch P --output P --id c --text c
  *             [--tau 0.5] (near-dup admission: batch vs corpus + verify)
  */
object Cli {

  /** Every command `run` dispatches, in case-arm order — the single
    * source of truth for the surface: the usage message renders it, the
    * unknown-command error names it, and CliSpec asserts that each entry
    * dispatches (and the count, so SURVEY §2.5 can never drift from the
    * code again — the r10 prose count had silently included two --algo
    * sub-arms). */
  val commands: Vector[String] = Vector(
    "ingest", "pipeline", "extract", "subset", "merge", "rasterize", "manifest",
    "dedup", "cluster", "sample", "pack", "sessionize", "asof", "chunk",
    "cap", "upsert", "score", "blockdedup", "bm25", "compact", "semdedup",
    "outliers", "skyline", "collocations", "profile", "urldedup", "split",
    "pagerank", "cdc", "scd2", "resample", "skewstats", "interpfill",
    "labelprop", "hits", "knngraph", "kanon", "basket", "gini", "welch",
    "cms", "hamming", "utm", "lcc", "admit", "maxsim", "hardneg", "olstrend",
    "cusum", "ewma", "hll", "kmv", "kcore", "assort", "calibrate", "mmr",
    "seasonal", "footprint", "sq8", "linkpredict", "mediadedup", "ldiversity",
    "intervaljoin", "seqmatch", "paths", "bfs", "tcloseness", "gopher", "clf",
    "dsir", "radiusjoin", "hexbin", "dbscan", "modularity", "ppr", "theilsen",
    "cdcchunk", "rendezvous", "dpcounts", "decay", "hbos", "ood", "linkage",
    "sax", "burstiness", "ndcg", "leakage", "confusion", "hilltail",
    "kendall", "simpson", "heaps", "novelty", "wilson", "holt", "bt",
    "localcc", "piidensity", "entities", "clfcal", "kappa", "psi", "auc",
    "rbo", "apriori", "jsdrift", "ohlc", "twa", "overlapjoin", "srm",
    "changepoint", "louvain", "brier", "bloomfpr", "fleiss", "mcnemar",
    "distshift", "bhfdr", "avgprec", "jw", "quantilenorm", "cascade",
    "tokenbudget", "survivors", "audiofeat", "audiodedup", "geodesic",
    "winrate", "distinctn", "freqdrift", "benford", "lorenz", "markov",
    "km", "ivf-index", "ivf-probe", "ivf-append", "ivf-compact")

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
    val logPath = opts.get("log")
    val obsIn = new org.apache.spark.sql.Observation(s"graft_run_in_$t0")
    val obsOut = new org.apache.spark.sql.Observation(s"graft_run_out_$t0")
    var inObserved = false
    var outObserved = false
    def in(k: String): DataFrame = {
      val df = spark.read.parquet(opts(k))
      if (logPath.isDefined && !inObserved) {
        inObserved = true
        df.observe(obsIn, count(lit(1)).as("n_rows"))
      } else df
    }
    def write(df: DataFrame): Unit = {
      val out =
        if (logPath.isDefined) {
          outObserved = true
          df.observe(obsOut, count(lit(1)).as("n_rows"))
        } else df
      out.write.mode("overwrite").parquet(opts("output"))
    }
    // Commands that bypass in()/write() (ingest reads granule files, not
    // parquet; subset --aoi writes via writePerAoi) never ATTACH the
    // observation: -1 without waiting. An attached one that never fired
    // (e.g. an optimizer-pruned side) is -1 too.
    def metric(o: org.apache.spark.sql.Observation, attached: Boolean): Long =
      if (!attached) -1L
      else org.apache.spark.sql.graftbridge.PlanBridge.observedAfterAction(o)
        .flatMap(_.get("n_rows")).fold(-1L)(_.asInstanceOf[Long])
    def wallSec: Double = math.round((System.nanoTime() - t0) / 1e7) / 100.0

    try {
      dispatch(spark, cmd, in, write, opts)
      logPath.foreach(RunLog.append(_, Seq(
        "command" -> cmd, "status" -> "ok",
        "n_input" -> metric(obsIn, inObserved),
        "n_output" -> metric(obsOut, outObserved),
        "wall_sec" -> wallSec)))
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

  private def dispatch(spark: SparkSession, cmd: String,
                       in: String => DataFrame, write: DataFrame => Unit,
                       opts: Map[String, String]): Unit =
    cmd match {
      case "ingest" =>
        // granule files -> shots parquet (fixture reader; swap point for a
        // real HDF5-backed GranuleReader — see Ingest scaladoc)
        val (landed, errs) = parseAndIngest(spark, opts)
        write(landed)
        reportIngestErrors(errs, "ingest")

      case "pipeline" =>
        // one-shot reference-parity extraction (gedixr `extract`
        // composes discovery -> month filter -> beams -> variables ->
        // quality -> subset -> per-AOI write in one command, cli.py:
        // 17-156): the same stages graft exposes individually, fused.
        // Composition beats the staged commands at scale: the subset
        // predicate and the ingest projections run in the SAME scan
        // stage (no parquet round-trip between stages), so granule
        // bytes are read exactly once.
        val (landed, errs) = parseAndIngest(spark, opts)
        val px = col(opts.getOrElse("x", "longitude"))
        val py = col(opts.getOrElse("y", "latitude"))
        opts.get("aoi") match {
          case Some(geojson) =>
            val aois = graft.sources.GeoIO.readAoiGeoJson(spark, geojson)
            GeoOps.writePerAoi(
              GeoOps.multiAoiPolygon(landed, px, py, aois), opts("output"))
          case None =>
            write(opts.get("bbox") match {
              case Some(b) =>
                val Array(x0, x1, y0, y1) = b.split(",").map(_.toDouble)
                landed.filter(graft.functions.GeoFunctions.inBbox(
                  px, py, (x0, x1, y0, y1)))
              case None => landed
            })
        }
        reportIngestErrors(errs, "pipeline")

      case "extract" =>
        var df = in("input")
        for (beams <- opts.get("beams"); bc <- opts.get("beam-col"))
          df =
            if (operators.GediCatalog.beamGroups.contains(beams.toLowerCase))
              operators.GediCatalog.beamFilterGroup(df, bc, beams)
            else Extract.beamFilter(df, bc, beams.split(",").toSeq)
        for (months <- opts.get("months"); tc <- opts.get("ts-col")) {
          val Array(lo, hi) = months.split(",").map(_.toInt)
          df = Extract.monthFilter(df, tc, (lo, hi))
        }
        for (vars <- opts.get("vars"))
          df = Extract.selectVariables(df,
            vars.split(",").toSeq.map { kv =>
              val Array(o, s) = kv.split("="); (o, s)
            })
        write(df)

      case "subset" =>
        opts.get("aoi") match {
          case Some(geojson) =>
            // vector-file subsetting (ref prepare_vec + per-AOI outputs):
            // one tagged pass, partitioned write = one directory per AOI
            val aois = graft.sources.GeoIO.readAoiGeoJson(spark, geojson)
            GeoOps.writePerAoi(GeoOps.multiAoiPolygon(in("input"),
              col(opts("x")), col(opts("y")), aois), opts("output"))
          case None =>
            val Array(x0, x1, y0, y1) = opts("bbox").split(",").map(_.toDouble)
            write(in("input").filter(graft.functions.GeoFunctions.inBbox(
              col(opts("x")), col(opts("y")), (x0, x1, y0, y1))))
        }

      case "merge" =>
        val on = opts.getOrElse("on", "shot,acq_time").split(",").toSeq
        write(MergeOps.mergeGdf(in("left"), in("right"),
          on = on, how = opts.getOrElse("how", "inner")))

      case "rasterize" =>
        val res = opts("res").toDouble
        val cells = GeoOps.rasterize(in("input"),
          col(opts("x")), col(opts("y")), res,
          Seq("n" -> count(lit(1)), "sum" -> sum(col(opts("sum")))))
        write(cells)
        // optional raster materialization: one ESRI ASCII grid per band
        opts.get("asc").foreach { dir =>
          graft.sources.GeoIO.writeAsciiGrids(
            spark.read.parquet(opts("output")), Seq("n", "sum"), res, dir)
        }

      case "manifest" =>
        val bbox = opts.get("bbox").map { b =>
          val Array(x0, x1, y0, y1) = b.split(",").map(_.toDouble)
          (x0, x1, y0, y1)
        }
        val months = opts.get("months").map { m =>
          val Array(lo, hi) = m.split(",").map(_.toInt); (lo, hi)
        }
        write(Manifest.prune(in("input"), opts.get("product"), months, bbox))

      case "dedup" =>
        write(Dedup.exactDedup(in("input"), opts("id"), opts("text")))

      case "cluster" =>
        val edges = Dedup.lshStarEdges(in("input"), opts("id"), opts("text"),
          opts.getOrElse("k", "16").toInt, opts.getOrElse("bands", "4").toInt)
        // minlabel: diameter rounds (near-dup clusters are diameter 2-3);
        // logstar: O(log n) rounds for pathological high-diameter graphs
        write(opts.getOrElse("algo", "minlabel") match {
          case "logstar" => Dedup.connectedComponentsLogStar(edges)
          case "minlabel" => Dedup.connectedComponents(edges)
          case other => sys.error(
            s"unknown --algo '$other' (use minlabel or logstar)")
        })

      case "sample" =>
        val rates = opts.get("rates").map(_.split(",").map { kv =>
          val Array(s, p) = kv.split("="); s -> p.toInt
        }.toMap).getOrElse(Map.empty[String, Int])
        write(Sampling.stratified(in("input"), opts("id"), opts("strata"),
          rates, opts.getOrElse("default-pct", "100").toInt))

      case "pack" =>
        write(TextOps.packSequences(in("input"), opts("id"), opts("text"),
          opts.getOrElse("budget", "256").toInt,
          opts.getOrElse("buckets", "8").toInt))

      case "sessionize" =>
        // raw catalog parquet stores event ts as int64 nanos — same
        // normalization rule (and code) as Tables.load
        write(Temporal.sessionize(
          Tables.normalizeNanosTs(in("input"), opts("ts")),
          opts("key"), opts("ts"),
          opts("tie"), opts("value"), opts.getOrElse("gap-sec", "1800").toLong))

      case "asof" =>
        write(Temporal.asofJoin(in("left"), in("right"),
          opts("key"), opts("time"), opts("payload").split(",").toSeq))

      case "chunk" =>
        write(TextOps.chunkDocs(in("input"), opts("id"), opts("text"),
          opts.getOrElse("window", "32").toInt,
          opts.getOrElse("stride", "24").toInt))

      case "cap" =>
        write(Sampling.perGroupCap(in("input"), opts("id"), opts("group"),
          opts.getOrElse("k", "10").toInt))

      case "upsert" =>
        write(MergeOps.latestWinsMerge(in("base"), in("updates"),
          opts("keys").split(",").toSeq, opts("version").split(",").toSeq))

      case "score" =>
        // quality + entropy signals in one narrow pass (filtering rides
        // downstream predicates)
        write(TextOps.charEntropy(
          TextOps.qualityScore(in("input"), opts("text")), opts("text")))

      case "blockdedup" =>
        write(TextOps.blockDedup(in("input"), opts("id"), opts("text"),
          opts.getOrElse("block-tokens", "32").toInt))

      case "bm25" =>
        write(TextOps.bm25TopDocs(in("input"), opts("id"), opts("text"),
          opts("terms").split(",").toSeq,
          opts.getOrElse("k", "5").toInt))

      case "compact" =>
        val (before, after) = graft.sources.Layout.compact(spark,
          opts("input"), opts("output"),
          opts.getOrElse("target-bytes", (128L * 1024 * 1024).toString).toLong)
        System.err.println(s"[graft] compact: $before files -> $after")

      case "ivf-index" =>
        // persisted cell-partitioned ANN index: corpus-derived cells,
        // two-level assignment (the query path's geometry) — a probe
        // against the layout reads only its nprobe cell directories.
        // --train-iters N runs N Lloyd updates first, so the persisted
        // quantizer is trained centroids, not arbitrary low-id rows.
        val iters = opts.getOrElse("train-iters", "0").toInt
        val nCells = Similarity.writeIvfIndex(in("input"), opts("output"),
          opts.getOrElse("target-cell", "32").toLong,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"),
          trainIters = iters)
        System.err.println(
          s"[graft] ivf-index: $nCells cells (train-iters=$iters) -> ${opts("output")}")

      case "ivf-append" =>
        // incremental maintenance: assign the batch against the FROZEN
        // persisted quantizer and append to the cell partitions; the
        // drift ratio (batch fit / build fit) says when the frozen
        // geometry stopped fitting and a retrained rebuild is due
        val (n, drift) = Similarity.appendToIvfIndex(spark, opts("index"),
          in("input"),
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"))
        val d = drift.map(v =>
          String.format(java.util.Locale.ROOT, " drift=%.3f", Double.box(v)))
          .getOrElse("")
        System.err.println(s"[graft] ivf-append: $n rows -> ${opts("index")}$d")
        val warnOver = opts.getOrElse("warn-drift", "2.0").toDouble
        drift.filter(_ > warnOver).foreach { v =>
          System.err.println(String.format(java.util.Locale.ROOT,
            "[graft] ivf-append: WARNING batch drift %.2fx the build fit " +
              "(threshold %.2f) — the frozen quantizer no longer fits " +
              "incoming data; rebuild with ivf-index --train-iters",
            Double.box(v), Double.box(warnOver)))
        }

      case "ivf-compact" =>
        // merge-on-write step owed by ivf-append: rewrite every cell
        // partition to one part file, sidecars copied byte-for-byte;
        // out-of-place — the caller swaps the dir (snapshot discipline)
        val (before, after) = Similarity.compactIvfIndex(spark,
          opts("input"), opts("output"))
        System.err.println(
          s"[graft] ivf-compact: $before cell files -> $after in ${opts("output")}")

      case "ivf-probe" =>
        // serving path over an ivf-index layout: queries rank cells
        // against the sidecar quantizer; the index scan is pruned to
        // exactly the probed cell directories
        write(Similarity.ivfProbeIndex(spark, opts("index"), in("input"),
          opts.getOrElse("k", "5").toInt,
          opts.getOrElse("nprobe", "4").toInt,
          idCol = opts.getOrElse("id", "vec_id"),
          vecCol = opts.getOrElse("vec", "embedding")))

      case "semdedup" =>
        write(Similarity.semDedup(in("input"),
          opts.getOrElse("centroids", "8").toInt,
          opts.getOrElse("tau", "0.2").toDouble,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding")))

      case "outliers" =>
        write(graft.operators.StatsOps.madOutliers(in("input"),
          opts("group"), opts("value"),
          opts.getOrElse("k", "3.0").toDouble))

      case "skyline" =>
        write(graft.operators.SkylineOps.skyline2D(in("input"),
          opts("min-col"), opts("max-col")))

      case "collocations" =>
        write(TextOps.collocations(in("input"), opts("id"), opts("text"),
          opts.getOrElse("min-count", "3").toLong,
          opts.getOrElse("k", "20").toInt))

      case "profile" =>
        write(graft.operators.StatsOps.profile(in("input")))

      case "urldedup" =>
        // stamp canonical_url; with --id, elect min id per canonical key
        val canon = TextOps.urlCanonicalize(in("input"), opts("url"))
        write(opts.get("id") match {
          case Some(id) => canon.groupBy("canonical_url")
            .agg(count(lit(1)).as("n_docs"), min(col(id)).as("keep_id"))
          case None => canon
        })

      case "split" =>
        // --bands train=90,val=5,test=5 (order defines the bands)
        val bands = opts.getOrElse("bands", "train=90,val=5,test=5")
          .split(",").toSeq.map { kv =>
            val Array(n, p) = kv.split("="); (n, p.toInt)
          }
        write(Sampling.hashSplit(in("input"), opts("id"), bands))

      case "pagerank" =>
        write(graft.operators.GraphOps.pageRank(in("input"),
          opts.getOrElse("iters", "3").toInt,
          opts.getOrElse("damping", "0.85").toDouble,
          opts.getOrElse("src", "src"), opts.getOrElse("dst", "dst")))

      case "cdc" =>
        // --base snapshot parquet, --updates change-log parquet with an
        // --op column ("log" is taken by the run-log flag)
        write(MergeOps.cdcApply(in("base"), in("updates"),
          opts("keys").split(",").toSeq, opts("version").split(",").toSeq,
          opts.getOrElse("op", "op")))

      case "scd2" =>
        write(MergeOps.scd2(in("input"),
          opts("keys").split(",").toSeq, opts("ts")))

      case "resample" =>
        write(Temporal.resample(
          Tables.normalizeNanosTs(in("input"), opts("ts")),
          opts("key"), opts("ts"), opts("value"),
          opts.getOrElse("unit", "hour")))

      case "skewstats" =>
        write(graft.operators.SkewOps.keySkew(in("input"), opts("key")))

      case "interpfill" =>
        write(Temporal.interpFill(
          Tables.normalizeNanosTs(in("input"), opts("ts")),
          opts("key"), opts("ts"), opts("value"),
          opts.getOrElse("unit", "hour")))

      case "labelprop" =>
        write(graft.operators.GraphOps.labelProp(in("input"),
          opts.getOrElse("iters", "3").toInt,
          opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))

      case "hits" =>
        write(graft.operators.GraphOps.hits(in("input"),
          opts.getOrElse("iters", "3").toInt,
          opts.getOrElse("src", "src"), opts.getOrElse("dst", "dst")))

      case "knngraph" =>
        write(Similarity.knnGraph(in("input"),
          opts.getOrElse("k", "5").toInt,
          opts.getOrElse("centroids", "16").toInt,
          opts.getOrElse("nprobe", "2").toInt,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding")))

      case "kanon" =>
        write(graft.operators.PrivacyOps.kAnonymize(in("input"),
          opts("quasi").split(",").toSeq, opts.getOrElse("k", "10").toInt))

      case "basket" =>
        write(graft.operators.StatsOps.marketBasket(in("input"),
          opts("basket"), opts("item"),
          opts.getOrElse("min-co", "2").toLong,
          opts.getOrElse("max-basket", "100").toInt,
          opts.getOrElse("k", "50").toInt))

      case "gini" =>
        write(graft.operators.StatsOps.giniConcentration(in("input"),
          opts("group"), opts("weight")))

      case "welch" =>
        write(graft.operators.StatsOps.welchT(in("input"),
          opts("group"), opts("value"), opts("a"), opts("b")))

      case "cms" =>
        write(graft.operators.StatsOps.countMin(in("input"), opts("term"),
          opts.getOrElse("width", "256").toInt,
          opts.getOrElse("depth", "4").toInt,
          opts.getOrElse("k", "20").toInt))

      case "hamming" =>
        write(Dedup.simhashHammingPairs(in("input"), opts("id"), opts("text"),
          opts.getOrElse("bits", "30").toInt,
          opts.getOrElse("radius", "2").toInt))

      case "utm" =>
        // general CRS transform (to_crs parity — ancillary.py:146-147):
        // forward lon/lat -> per-row UTM zone + easting/northing, or
        // --inverse easting/northing/zone/south -> lon/lat
        if (opts.contains("inverse")) {
          val (ilon, ilat) = graft.functions.GeoFunctions.utmInverse(
            col(opts.getOrElse("easting", "easting_m")).cast("double"),
            col(opts.getOrElse("northing", "northing_m")).cast("double"),
            col(opts.getOrElse("zone", "utm_zone")),
            col(opts.getOrElse("south", "south")))
          write(in("input").withColumn("lon", ilon).withColumn("lat", ilat))
        } else {
          val lon = col(opts.getOrElse("lon", "lon"))
          val lat = col(opts.getOrElse("lat", "lat"))
          val (e, n) = graft.functions.GeoFunctions.utmForward(lon, lat)
          write(in("input")
            .filter(lat.between(-80.0, 84.0))
            .withColumn("utm_zone", graft.functions.GeoFunctions.utmZone(lon))
            .withColumn("south", lat < 0.0)
            .withColumn("easting_m", e)
            .withColumn("northing_m", n))
        }

      case "lcc" =>
        // Lambert conformal conic forward (the conic to_crs family):
        // --phi0/--phi1/--phi2/--lon0 declare the cone (defaults: the
        // classic CONUS 33/45 secant cone)
        val lon = col(opts.getOrElse("lon", "lon"))
        val lat = col(opts.getOrElse("lat", "lat"))
        val (x, y) = graft.functions.GeoFunctions.lccForward(lon, lat,
          phi0Deg = opts.getOrElse("phi0", "23.0").toDouble,
          phi1Deg = opts.getOrElse("phi1", "33.0").toDouble,
          phi2Deg = opts.getOrElse("phi2", "45.0").toDouble,
          lon0Deg = opts.getOrElse("lon0", "-96.0").toDouble)
        write(in("input")
          .filter(lat.between(-80.0, 84.0))
          .withColumn("lcc_x_m", x)
          .withColumn("lcc_y_m", y))

      case "admit" =>
        // incremental near-dup admission: candidates (batch vs corpus
        // signature join) verified by exact bigram jaccard >= tau
        val id = opts("id"); val text = opts("text")
        val corpus = in("corpus"); val batch = spark.read.parquet(opts("batch"))
        val cand = Dedup.minhashIncrement(corpus, batch, id, text)
        write(Dedup.ngramJaccard(
            cand.select(col("new_id").as("a"), col("dup_of").as("b")),
            corpus.unionByName(batch), id, text)
          .filter(col("jaccard") >= opts.getOrElse("tau", "0.5").toDouble)
          .select(col("a").as("new_id"), col("b").as("dup_of"), col("jaccard")))

      case "maxsim" =>
        // late-interaction scoring: --queries is a parquet of query-doc
        // token vectors (doc, tok, vec); default tokens-per-doc 4
        val tpd = opts.getOrElse("tokens", "4").toInt
        val cand = graft.operators.LateInteraction.tokenFrame(in("input"), tpd,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"))
        val qs = graft.operators.LateInteraction.tokenFrame(
          spark.read.parquet(opts("queries")), tpd,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"))
        val k = opts.getOrElse("k", "5").toInt
        write(opts.get("token-topn") match {
          case Some(n) => graft.operators.LateInteraction
            .maxSimRerank(cand, qs, k, n.toInt, tpd)
          case None => graft.operators.LateInteraction.maxSim(cand, qs, k, tpd)
        })

      case "hardneg" =>
        write(graft.operators.LateInteraction.hardNegatives(in("input"),
          spark.read.parquet(opts("queries")),
          opts.getOrElse("k", "5").toInt,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"),
          opts.getOrElse("label", "label")))

      case "olstrend" =>
        write(graft.operators.StatsOps.olsTrend(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts("group"), opts.getOrElse("ts", "ts"), opts("value")))

      case "cusum" =>
        write(graft.operators.StatsOps.cusumChangepoint(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts("group"), opts.getOrElse("ts", "ts")))

      case "ewma" =>
        write(graft.operators.StatsOps.ewmaDaily(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts("group"), opts.getOrElse("ts", "ts"), opts("value"),
          opts.getOrElse("alpha", "0.25").toDouble))

      case "hll" =>
        // register-level distinct count: writes the one-row estimate;
        // --registers also persists the mergeable register frame
        val p = opts.getOrElse("p", "9").toInt
        val regs = graft.operators.StatsOps.hllRegisters(in("input"),
          opts("key"), p)
        opts.get("registers").foreach(dir =>
          regs.write.mode("overwrite").parquet(dir))
        write(graft.operators.StatsOps.hllEstimate(regs, p))

      case "kmv" =>
        // bottom-k distinct sketch: writes the per-group estimate;
        // --sketch also persists the mergeable (grp, hv, rn) frame
        val k = opts.getOrElse("k", "64").toInt
        val sk = graft.operators.StatsOps.kmvSketch(in("input"),
          opts("group"), opts("key"), k)
        opts.get("sketch").foreach(dir =>
          sk.write.mode("overwrite").parquet(dir))
        write(graft.operators.StatsOps.kmvEstimate(sk, opts("group"), k))

      case "kcore" =>
        // input = (a, b) edge parquet. DEFAULT = exact fixpoint peel
        // (correct on any cascade depth); --rounds N opts into the
        // fixed-round oracle-twin form (VERDICT r9: a user who lands on
        // the default must get exact labels, not a truncation).
        write(opts.get("rounds") match {
          case Some(n) => graft.operators.GraphOps.kCore(in("input"),
            opts.getOrElse("k", "4").toInt, n.toInt,
            opts.getOrElse("a", "a"), opts.getOrElse("b", "b"))
          case None => graft.operators.GraphOps.kCoreFixpoint(in("input"),
            opts.getOrElse("k", "4").toInt,
            aCol = opts.getOrElse("a", "a"), bCol = opts.getOrElse("b", "b"))
        })

      case "assort" =>
        write(graft.operators.GraphOps.degreeAssortativity(in("input"),
          opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))

      case "calibrate" =>
        write(graft.operators.StatsOps.rankCalibrate(in("input"),
          opts("group"), opts("score"), opts("id"),
          opts.getOrElse("keep", "0.2").toDouble))

      case "mmr" =>
        // stage-1 exact top-n then MMR-diversified k picks
        val e = in("input")
        val ranked = graft.operators.Similarity.cosineTopK(e,
            spark.read.parquet(opts("queries")),
            opts.getOrElse("n", "10").toInt,
            opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding"))
          .withColumnRenamed("cos_sim", "rel")
        write(graft.operators.Similarity.mmrRerank(ranked, e,
          opts.getOrElse("k", "4").toInt,
          opts.getOrElse("lambda-tenths", "7").toInt,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding")))

      case "seasonal" =>
        write(graft.operators.StatsOps.seasonalDow(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts("group"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("lo", "0.5").toDouble,
          opts.getOrElse("hi", "2.0").toDouble))

      case "footprint" =>
        write(graft.operators.GeoOps.footprintCover(in("input"),
          col(opts.getOrElse("x", "lon")), col(opts.getOrElse("y", "lat")),
          opts("res").toDouble, opts("r").toDouble,
          opts.getOrElse("sub", "4").toInt))

      case "sq8" =>
        write(graft.operators.Similarity.sq8TopK(in("input"),
          spark.read.parquet(opts("queries")),
          opts.getOrElse("k", "5").toInt, opts.getOrElse("n", "20").toInt,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding")))

      case "linkpredict" =>
        write(graft.operators.GraphOps.linkPredictRA(in("input"),
          opts.getOrElse("topk", "50").toInt,
          opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))

      case "mediadedup" =>
        // input = documents-shaped parquet (doc_id, text) as media payloads
        write(graft.operators.Multimodal.mediaNearDup(
          graft.operators.Multimodal.mediaFromDocuments(in("input")),
          opts.getOrElse("frame", "64").toInt,
          opts.getOrElse("stride", "2").toInt,
          opts.getOrElse("min-shared", "2").toLong))

      case "ldiversity" =>
        write(graft.operators.PrivacyOps.lDiversify(in("input"),
          opts("quasi").split(",").toSeq, opts("sensitive"),
          opts.getOrElse("l", "2").toInt))

      case "intervaljoin" =>
        // inputs: --input (a_start/a_end us bounds), --right (b_start/b_end)
        write(graft.operators.Temporal.intervalJoin(in("input"),
          spark.read.parquet(opts("right")),
          opts.getOrElse("a-start", "a_start"), opts.getOrElse("a-end", "a_end"),
          opts.getOrElse("b-start", "b_start"), opts.getOrElse("b-end", "b_end"),
          opts.getOrElse("bin-us", "3600000000").toLong))

      case "seqmatch" =>
        // --patterns name=regex,name=regex (RE2 ∩ java.regex subset)
        val pats = opts.getOrElse("patterns", "m_funnel=v.*c.*p").split(",")
          .toSeq.map { p =>
            val Array(n, re) = p.split("=", 2); (n, re)
          }
        write(graft.operators.SequenceOps.seqMatch(
          graft.operators.SequenceOps.codeSequences(
            Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
            opts.getOrElse("key", "user_id"), opts.getOrElse("ts", "ts"),
            opts.getOrElse("tie", "event_id"),
            substring(col(opts.getOrElse("code", "event_type")), 1, 1)),
          pats))

      case "paths" =>
        write(graft.operators.SequenceOps.eventPaths(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts.getOrElse("key", "user_id"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("tie", "event_id"),
          substring(col(opts.getOrElse("code", "event_type")), 1, 1),
          opts.getOrElse("n", "5").toInt))

      case "bfs" =>
        // --seeds comma-separated node ids. DEFAULT = frontier expansion
        // to exhaustion (true hop distances on any diameter); --rounds N
        // opts into the fixed-round truncated form (the oracle twin).
        val seeds = opts("seeds").split(",").toSeq.map(_.toLong)
        val seedDf = spark.createDataFrame(seeds.map(Tuple1(_))).toDF("node")
        write(opts.get("rounds") match {
          case Some(n) => graft.operators.GraphOps.bfsHops(in("input"),
            seedDf, n.toInt,
            opts.getOrElse("a", "a"), opts.getOrElse("b", "b"))
          case None => graft.operators.GraphOps.bfsHopsFixpoint(in("input"),
            seedDf,
            aCol = opts.getOrElse("a", "a"), bCol = opts.getOrElse("b", "b"))
        })

      case "tcloseness" =>
        write(graft.operators.PrivacyOps.tCloseness(in("input"),
          opts("quasi").split(",").toSeq, col(opts("cat")),
          opts.getOrElse("t", "0.15").toDouble))

      case "gopher" =>
        write(graft.operators.TextOps.gopherRules(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("min-words", "20").toLong,
          opts.getOrElse("max-words", "80").toLong))

      case "clf" =>
        write(graft.operators.TextOps.clfMarginFilter(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("buckets", "64").toLong))

      case "dsir" =>
        // --target SQL boolean expression over the input's columns
        write(graft.operators.TextOps.dsirWeights(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          expr(opts.getOrElse("target", "lang = 'en'"))))

      case "radiusjoin" =>
        write(graft.operators.GeoOps.radiusJoin(in("input"),
          opts("r").toLong, opts.getOrElse("id", "id"),
          opts.getOrElse("x", "ix"), opts.getOrElse("y", "iy")))

      case "hexbin" =>
        write(graft.operators.GeoOps.hexBin(in("input"),
          opts.getOrElse("w", "15000").toLong,
          opts.getOrElse("h", "26000").toLong,
          Seq("n" -> count(lit(1))),
          opts.getOrElse("id", "id"),
          opts.getOrElse("x", "ix"), opts.getOrElse("y", "iy")))

      case "dbscan" =>
        // DEFAULT = exact cluster labels via star-contraction components
        // (correct on elongated clusters whatever the core-graph
        // diameter); --rounds N opts into the fixed-round min-label
        // propagation (the unrolled-SQL oracle twin).
        write(opts.get("rounds") match {
          case Some(n) => graft.operators.GeoOps.dbscan(in("input"),
            opts("r").toLong, opts.getOrElse("min-pts", "5").toInt,
            n.toInt, opts.getOrElse("id", "id"))
          case None => graft.operators.GeoOps.dbscanFixpoint(in("input"),
            opts("r").toLong, opts.getOrElse("min-pts", "5").toInt,
            opts.getOrElse("id", "id"))
        })

      case "modularity" =>
        // --labels parquet of (node, label); defaults to labelProp rounds
        val edges = in("input")
        val labels = opts.get("labels")
          .map(spark.read.parquet(_))
          .getOrElse(graft.operators.GraphOps.labelProp(edges,
            opts.getOrElse("iters", "3").toInt,
            opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))
        write(graft.operators.GraphOps.modularity(edges, labels,
          opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))

      case "ppr" =>
        val seeds = opts("seeds").split(",").toSeq.map(_.toLong)
        write(graft.operators.GraphOps.personalizedPageRank(in("input"),
          spark.createDataFrame(seeds.map(Tuple1(_))).toDF("node"),
          opts.getOrElse("iters", "3").toInt,
          opts.getOrElse("damping", "0.85").toDouble,
          opts.getOrElse("src", "src"), opts.getOrElse("dst", "dst")))

      case "theilsen" =>
        write(graft.operators.StatsOps.theilSen(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts.getOrElse("group", "event_type"), opts.getOrElse("ts", "ts")))

      case "cdcchunk" =>
        write(graft.operators.TextOps.cdcChunkProfile(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("window", "8").toInt,
          opts.getOrElse("mask-bits", "5").toInt))

      case "rendezvous" =>
        write(graft.operators.Sampling.rendezvousShards(in("input"),
          opts.getOrElse("id", "doc_id"), opts("n").toInt,
          opts.getOrElse("n-new", opts("n")).toInt))

      case "dpcounts" =>
        write(graft.operators.PrivacyOps.dpCounts(in("input"),
          opts("group")))

      case "decay" =>
        write(graft.operators.StatsOps.decayScore(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts.getOrElse("group", "event_type"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("half-life-days", "7").toInt))

      case "hbos" =>
        write(graft.operators.StatsOps.hbosOutliers(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts.getOrElse("id", "event_id"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("value", "value"),
          opts.getOrElse("threshold", "18.0").toDouble))

      case "ood" =>
        write(graft.operators.Similarity.centroidOod(in("input"),
          opts.getOrElse("label", "label"),
          opts.getOrElse("threshold", "0.5").toDouble,
          opts.getOrElse("id", "vec_id"), opts.getOrElse("vec", "embedding")))

      case "linkage" =>
        // input: pair parquet with boolean agreement columns (--features)
        write(graft.operators.MergeOps.fellegiSunter(in("input"),
          opts("features").split(",").toSeq,
          opts.getOrElse("rounds", "2").toInt))

      case "sax" =>
        write(graft.operators.StatsOps.saxWords(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts.getOrElse("group", "event_type"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("seg-days", "4").toInt))

      case "burstiness" =>
        write(graft.operators.StatsOps.burstiness(
          Tables.normalizeNanosTs(in("input"), opts.getOrElse("ts", "ts")),
          opts.getOrElse("group", "event_type"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("threshold", "1.5").toDouble))

      case "ndcg" =>
        // inputs: --input truth ranking, --approx system ranking —
        // both (qid, vec_id, rank) parquet
        write(graft.operators.Similarity.ndcgAtK(in("input"),
          spark.read.parquet(opts("approx")), opts("k").toInt))

      case "leakage" =>
        write(graft.operators.TextOps.splitLeakage(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("eval-pct", "10").toInt,
          opts.getOrElse("n", "5").toInt))

      case "confusion" =>
        write(graft.operators.StatsOps.confusionMatrix(in("input"),
          opts("truth"), opts("pred")))

      case "hilltail" =>
        write(graft.operators.StatsOps.hillTail(in("input"),
          opts.getOrElse("group", "event_type"),
          opts.getOrElse("value", "value"),
          opts.getOrElse("k", "50").toInt))

      case "kendall" =>
        // inputs: --input and --right, both (qid, vec_id, rank)
        write(graft.operators.Similarity.kendallTau(in("input"),
          spark.read.parquet(opts("right"))))

      case "simpson" =>
        write(graft.operators.StatsOps.simpsonDiversity(in("input"),
          opts("group")))

      case "heaps" =>
        write(graft.operators.TextOps.heapsLaw(in("input"),
          opts.getOrElse("group", "source"), opts.getOrElse("text", "text")))

      case "novelty" =>
        write(graft.operators.TextOps.ngramNovelty(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("n", "5").toInt))

      case "wilson" =>
        // --flag: boolean SQL expression over the input's columns
        write(graft.operators.StatsOps.wilsonInterval(
          in("input").withColumn("_flag", expr(opts("flag"))),
          opts("group"), "_flag",
          opts.getOrElse("z", "1.96").toDouble))

      case "holt" =>
        // Holt double-exponential smoothing per group (level + trend)
        write(graft.operators.StatsOps.holtSmooth(in("input"),
          opts.getOrElse("group", "event_type"),
          opts.getOrElse("ts", "ts")))

      case "bt" =>
        // Bradley-Terry strengths from pairwise per-user preferences
        // (the LLM-judge / arena aggregation shape)
        write(graft.operators.StatsOps.bradleyTerry(in("input"),
          opts.getOrElse("user", "user_id"),
          opts.getOrElse("type", "event_type"),
          opts.getOrElse("ts", "ts"),
          opts.getOrElse("iters", "2").toInt))

      case "localcc" =>
        // per-node local clustering coefficient over an (a, b) edge frame
        write(graft.operators.GraphOps.localClusteringCoeff(in("input"),
          opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))

      case "piidensity" =>
        // per-source PII exposure audit (routes scrub priority)
        write(graft.operators.TextOps.piiDensity(in("input"),
          opts.getOrElse("source", "source"),
          opts.getOrElse("text", "text")))

      case "entities" =>
        // capitalized-span entity mentions per source (no-model NER)
        write(graft.operators.TextOps.entityMentions(in("input"),
          opts.getOrElse("source", "source"),
          opts.getOrElse("text", "text")))

      case "clfcal" =>
        // ECE reliability table of the margin classifier vs the rule gate
        write(graft.operators.TextOps.clfCalibration(in("input"),
          opts.getOrElse("id", "doc_id"),
          opts.getOrElse("text", "text")))

      case "kappa" =>
        // Cohen's kappa between two categorical columns
        write(graft.operators.StatsOps.cohensKappa(in("input"),
          opts("a"), opts("b")))

      case "psi" =>
        // population stability index; input must carry grp/bin/side
        write(graft.operators.StatsOps.psi(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("bin", "bin"),
          opts.getOrElse("side", "side"),
          opts.getOrElse("bins", "10").toInt))

      case "auc" =>
        // grouped AUC over pre-bucketed scores (grp, b, y)
        write(graft.operators.StatsOps.groupAuc(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("bucket", "b"),
          opts.getOrElse("label", "y")))

      case "rbo" =>
        // rank-biased overlap between rankings by two integer metrics
        write(graft.operators.StatsOps.rbo(in("input"),
          opts.getOrElse("id", "id"),
          col(opts.getOrElse("metric-a", "ma")),
          col(opts.getOrElse("metric-b", "mb")),
          opts.getOrElse("depth", "20").toInt,
          opts.getOrElse("p", "0.9").toDouble))

      case "apriori" =>
        // frequent triples with a-priori pruning over (bk, it) baskets
        write(graft.operators.StatsOps.aprioriTriples(in("input"),
          opts.getOrElse("basket", "bk"), opts.getOrElse("item", "it"),
          opts.getOrElse("min-co", "2").toLong,
          opts.getOrElse("max-basket", "100").toInt,
          opts.getOrElse("k", "50").toInt))

      case "jsdrift" =>
        // Jensen-Shannon drift per group vs the corpus
        write(graft.operators.TextOps.jsDrift(in("input"),
          opts.getOrElse("group", "source"), opts.getOrElse("text", "text"),
          opts.getOrElse("top-v", "200").toInt))

      case "ohlc" =>
        // OHLC resample bars per (key, bar)
        write(graft.operators.Temporal.ohlcBars(in("input"),
          opts.getOrElse("key", "event_type"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("tie", "event_id"), opts.getOrElse("value", "value"),
          opts.getOrElse("unit", "hour")))

      case "twa" =>
        // time-weighted average per key over irregular samples
        write(graft.operators.Temporal.timeWeightedAvg(in("input"),
          opts.getOrElse("key", "event_type"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("tie", "event_id"), opts.getOrElse("value", "value")))

      case "overlapjoin" =>
        // lossless prefix-filtered overlap join (containment >= num/den)
        write(graft.operators.Dedup.overlapPrefixJoin(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("block", "source"),
          opts.getOrElse("alpha-num", "1").toInt,
          opts.getOrElse("alpha-den", "4").toInt))

      case "srm" =>
        // sample-ratio mismatch gate; input yields grp + 0/1 arm
        write(graft.operators.StatsOps.sampleRatioMismatch(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("arm", "arm"),
          opts.getOrElse("expected0", "0.5").toDouble))

      case "changepoint" =>
        // single binseg changepoint per group over daily counts
        write(graft.operators.StatsOps.changepoint(in("input"),
          opts.getOrElse("group", "event_type"), opts.getOrElse("ts", "ts")))

      case "louvain" =>
        // FULL phase-1 fixpoint by default (gated synchronous sweeps to
        // convergence); --one-sweep opts into the declared single
        // move-sweep face (node, new_label, gain_num)
        if (opts.contains("one-sweep"))
          write(graft.operators.GraphOps.louvainMove(in("input"),
            opts.getOrElse("a", "a"), opts.getOrElse("b", "b")))
        else
          write(graft.operators.GraphOps.louvain(in("input"),
            opts.getOrElse("a", "a"), opts.getOrElse("b", "b"),
            opts.getOrElse("max-sweeps", "16").toInt))

      case "brier" =>
        // Brier score + Murphy decomposition of the clf gate vs rules
        write(graft.operators.TextOps.brierDecomposition(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text")))

      case "bloomfpr" =>
        // bloom FPR audit: --insert dim parquet, input = probe universe
        write(graft.operators.BloomOps.bloomFprAudit(
          spark.read.parquet(opts("insert")), in("input"),
          opts.getOrElse("insert-key", "o_orderkey"),
          opts.getOrElse("key", "o_orderkey"),
          opts.getOrElse("expected", "100000").toLong,
          opts.getOrElse("fpp", "0.03").toDouble))

      case "fleiss" =>
        // Fleiss' kappa over an (item, category) multi-rater frame
        write(graft.operators.StatsOps.fleissKappa(in("input"),
          opts.getOrElse("item", "it"), opts.getOrElse("cat", "cat"),
          opts.getOrElse("max-raters", "256").toInt))

      case "mcnemar" =>
        // McNemar's paired test between two 0/1 gate columns
        write(graft.operators.StatsOps.mcnemar(in("input"),
          opts("a"), opts("b")))

      case "distshift" =>
        // Hellinger + TV drift per group; input yields grp/bin/side
        write(graft.operators.StatsOps.distShift(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("bin", "bin"),
          opts.getOrElse("side", "side"),
          opts.getOrElse("bins", "10").toInt))

      case "bhfdr" =>
        // BH FDR control over per-group binned-KS drift tests
        write(graft.operators.StatsOps.bhFdr(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("bin", "bin"),
          opts.getOrElse("side", "side"),
          opts.getOrElse("bins", "64").toInt,
          opts.getOrElse("alpha", "0.1").toDouble))

      case "avgprec" =>
        // average precision per group over bucketed scores (grp, b, y)
        write(graft.operators.StatsOps.avgPrecision(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("bucket", "b"),
          opts.getOrElse("label", "y")))

      case "jw" =>
        // Jaro-Winkler similarity column over two name columns
        write(in("input").withColumn("jw", round(
          graft.functions.TextFunctions.jaroWinkler(
            col(opts.getOrElse("a", "na")), col(opts.getOrElse("b", "nb"))),
          6)))

      case "quantilenorm" =>
        // quantile-normalize per-group buckets onto the pooled CDF
        write(graft.operators.StatsOps.quantileNorm(in("input"),
          opts.getOrElse("group", "grp"), opts.getOrElse("bin", "bin"),
          opts.getOrElse("bins", "64").toInt))

      case "cascade" =>
        // rule-gate x clf-gate yield funnel per source
        write(graft.operators.TextOps.cascadeYield(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("source", "source")))

      case "tokenbudget" =>
        // uniform token-budget split priced against per-source inventory
        write(graft.operators.TextOps.tokenBudget(in("input"),
          opts.getOrElse("text", "text"), opts.getOrElse("source", "source"),
          opts("budget").toLong))

      case "survivors" =>
        // dedup survivorship bill per source off the LSH cluster graph
        write(graft.operators.Dedup.dedupSurvivors(in("input"),
          opts.getOrElse("id", "doc_id"), opts.getOrElse("text", "text"),
          opts.getOrElse("source", "source"),
          opts.getOrElse("k", "16").toInt,
          opts.getOrElse("bands", "2").toInt))

      case "audiofeat" =>
        // typed audio features off the real WAV codec; input yields
        // (media_id, kind, content) — corrupt clips drop (ingest stance)
        write {
          val spark0 = in("input").sparkSession
          import spark0.implicits._
          graft.operators.Multimodal.audioFeatures(
            in("input").as[graft.operators.Multimodal.MediaRecord]).toDF()
        }

      case "audiodedup" =>
        // audio near-dup pairs by energy-contour fingerprint Hamming
        write {
          val spark0 = in("input").sparkSession
          import spark0.implicits._
          graft.operators.Multimodal.audioHammingDup(
            graft.operators.Multimodal.audioFeatures(
              in("input").as[graft.operators.Multimodal.MediaRecord]),
            opts.getOrElse("max-hamming", "3").toInt)
        }

      case "geodesic" =>
        // great-circle radius join over (id, lon, lat) via 3D chord bins
        write(graft.operators.GeoOps.haversineJoin(in("input"),
          opts("radius-m").toDouble,
          opts.getOrElse("id", "id"), opts.getOrElse("lon", "lon"),
          opts.getOrElse("lat", "lat")))

      case "winrate" =>
        // pairwise win-rate matrix with Wilson CIs over (user, type)
        write(graft.operators.StatsOps.winRateMatrix(in("input"),
          opts.getOrElse("user", "user_id"),
          opts.getOrElse("type", "event_type"),
          opts.getOrElse("z", "1.96").toDouble))

      case "distinctn" =>
        // Distinct-1/Distinct-2 lexical diversity per source
        write(graft.operators.TextOps.distinctNgrams(in("input"),
          opts.getOrElse("text", "text"), opts.getOrElse("source", "source")))

      case "freqdrift" =>
        // top-k token-share drift between sides 0/1 of the input
        write(graft.operators.TextOps.freqDriftTopK(in("input"),
          opts.getOrElse("side", "side"), opts.getOrElse("text", "text"),
          opts.getOrElse("top-v", "200").toInt,
          opts.getOrElse("k", "20").toInt))

      case "benford" =>
        // Benford first-digit chi2 audit per group over a measure column
        write(graft.operators.StatsOps.benfordAudit(in("input"),
          opts.getOrElse("group", "event_type"),
          opts.getOrElse("value", "value")))

      case "lorenz" =>
        // Lorenz curve points per group (cumulative weight share at
        // item-count deciles)
        write(graft.operators.StatsOps.lorenzCurve(in("input"),
          opts.getOrElse("group", "source"), opts.getOrElse("id", "doc_id"),
          opts.getOrElse("weight", "n_chars")))

      case "markov" =>
        // stationary distribution of the per-user type chain
        write(graft.operators.Temporal.markovStationary(in("input"),
          opts.getOrElse("user", "user_id"), opts.getOrElse("type", "event_type"),
          opts.getOrElse("ts", "ts"), opts.getOrElse("tie", "event_id"),
          opts.getOrElse("rounds", "8").toInt))

      case "km" =>
        // Kaplan-Meier survival of per-user inter-event gaps (censored)
        write(graft.operators.Temporal.kaplanMeier(in("input"),
          opts.getOrElse("user", "user_id"), opts.getOrElse("ts", "ts"),
          opts.getOrElse("tie", "event_id")))

      case other => sys.error(
        s"unknown command: $other (known: ${commands.mkString(", ")})")
    }

  /** Shared ingest-option parsing + granule ingest for the `ingest` and
    * `pipeline` commands — ONE definition of the option syntax
    * (--months lo,hi; --vars out=layer,...; --quality 1). The error
    * accumulator fills during the WRITE job (the ingest frame is lazy),
    * so callers report it AFTER their action via
    * [[reportIngestErrors]]. */
  private def parseAndIngest(spark: SparkSession, opts: Map[String, String])
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val months = opts.get("months").map { m =>
      val Array(lo, hi) = m.split(",").map(_.toInt); (lo, hi)
    }
    val vars = opts.get("vars").map(_.split(",").toSeq.map { kv =>
      val Array(o, s) = kv.split("="); (o, s)
    })
    graft.sources.Ingest.ingest(
      spark, opts("input"), opts.getOrElse("product", "L2A"),
      opts.getOrElse("beams", "all"), vars,
      new graft.sources.FixtureGranuleReader, months,
      opts.get("quality").contains("1"))
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
