package graft.sources

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.operators.{Extract, GediCatalog}

/** Granule ingest — the reference's actual entry point re-expressed for
  * Spark (ref extract.py:100-299: walk granule files, month-filter by
  * filename date, open each with h5py, pull beam-group layers into a
  * DataFrame, pad shot numbers, index rh percentiles, stamp acq_time,
  * optionally quality-filter).
  *
  * Spark-first shape: the ONLY imperative boundary is `GranuleReader`
  * (one granule file -> per-beam primitive column arrays), driven by
  * `mapPartitions` over the granule path list — one task per granule
  * bundle, shots streamed out, nothing collected on the driver. The read
  * is projected: only the plan's layers, and of the `rh` vector only the
  * bins its `rhNN` variables index (the whole vector when a variable
  * lands it, `--vars rh=rh`); the projection never weakens the reader's
  * validation (see [[Ingest.GranuleReader.read]]). Everything
  * after the reader is declarative: shot padding, rh-percentile indexing,
  * acq_time stamping and the quality predicate are codegen'd projections
  * fused into the SAME stage as the read (no extra pass, no shuffle).
  * At 100 TB this scales by granule count: 1000 executors ingest 1000
  * granules at a time, and the landing write is the stage boundary.
  *
  * HDF5 status: this container has no HDF5 jar (offline, no egress) and
  * the policy is no new deps, so the shipped reader is
  * [[FixtureGranuleReader]] — a tiny self-defined text granule format used
  * by the specs. The swap point for real granules is exactly one class: a
  * jHDF-backed (pure-JVM, public) `GranuleReader` reading `BEAMxxxx/<layer>`
  * datasets — the interface and everything downstream stay unchanged.
  */
object Ingest {

  /** One beam group's layer columns (all arrays share length `n`).
    * Layers land typed by [[layerKind]]: int-ish layers (shot_number,
    * *_flag, num_detectedmodes) as longs, the L2A `rh` profile as a
    * per-shot vector, everything else as doubles. */
  final case class BeamLayers(beam: String, n: Int,
                              longs: Map[String, Array[Long]],
                              doubles: Map[String, Array[Double]],
                              vectors: Map[String, Array[Array[Double]]]) {
    require(longs.values.forall(_.length == n) &&
      doubles.values.forall(_.length == n) &&
      vectors.values.forall(_.length == n),
      s"beam $beam: layer lengths differ from n=$n")
  }

  /** One granule file -> per-beam layer columns. Implementations must be
    * serializable (they run inside executor tasks) and cheap to construct
    * (one instance is shipped per job, opened per file). */
  trait GranuleReader extends Serializable {
    /** Read `layers` for each of `beams` present in the granule; beams
      * missing from the file are silently skipped (ref extract.py:272-275
      * logs and continues). A missing LAYER is an error.
      *
      * `bins` projects vector layers: a layer keyed there comes back with
      * only those bins of each shot's vector (0-based, ascending, distinct
      * — see [[checkedBins]]), in that order, and a shot lacking one is an
      * error naming path, beam, layer and shot ([[missingBin]]). Vector
      * layers not keyed come back whole. Projection narrows what is
      * CONVERTED and returned, never what is VALIDATED: every value of a
      * requested layer of a requested beam is still checked exactly as a
      * full read would check it, so a granule is rejected by a projected
      * read iff a full read rejects it (or it lacks a requested bin). This
      * is the hyperslab seam — a jHDF reader reads `rh[:, bins]` here
      * instead of the whole dataset. */
    def read(path: String, beams: Seq[String], layers: Seq[String],
             bins: Map[String, Seq[Int]] = Map.empty): Seq[BeamLayers]
  }

  /** A reader's view of a bin selection: each list as an array, checked
    * ascending, distinct and non-negative (readers walk bins in one
    * forward pass). */
  def checkedBins(bins: Map[String, Seq[Int]]): Map[String, Array[Int]] =
    bins.map { case (layer, bs) =>
      require(bs.nonEmpty && bs.head >= 0 && bs.zip(bs.tail).forall { case (a, b) => a < b },
        s"bin selection for $layer must be ascending, distinct and non-negative: $bs")
      layer -> bs.toArray
    }

  /** The error a projected read raises when shot `shot` (0-based within
    * its beam) of `layer` holds `has` bins and bin `bin` was requested —
    * the reader throws it so `ingestPaths` counts and skips the granule. */
  def missingBin(path: String, beam: String, layer: String, shot: Int,
                 has: Int, bin: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"$path $beam/$layer shot $shot: has $has bins, bin $bin requested")

  sealed trait LayerKind
  case object LongKind extends LayerKind
  case object DoubleKind extends LayerKind
  case object VectorKind extends LayerKind

  /** Storage class of a GEDI layer (public L2A/L2B dataset dtypes):
    * shot_number and the flag/count layers are integers, `rh` is the
    * 101-bin percentile profile vector, all else is floating geolocation /
    * measurement data. */
  def layerKind(layer: String): LayerKind =
    if (layer == "rh") VectorKind
    else if (layer.endsWith("shot_number") || layer.endsWith("_flag") ||
      layer.endsWith("num_detectedmodes")) LongKind
    else DoubleKind

  private val rhVar = "^rh([0-9]+)$".r

  /** Per-variable ingest plan: which layer to read and how the landing
    * column derives from it. `rhNN` on L2A reads the `rh` vector layer and
    * indexes bin NN (ref extract.py:280-286); `shot` zero-pads to 18 chars
    * (ref extract.py:287-290); everything else lands as read. */
  private final case class VarPlan(out: String, srcLayer: String,
                                   kind: LayerKind, rhIdx: Option[Int])

  private def plan(product: String, vars: Seq[(String, String)]): Seq[VarPlan] =
    vars.map {
      case (out, rhVar(idx)) if product == "L2A" =>
        VarPlan(out, "rh", VectorKind, Some(idx.toInt))
      case (out, src) => VarPlan(out, src, layerKind(src), None)
    }

  /** Granule filename date, driver-side — the SAME pattern/format
    * constants as Extract.granuleDate's column-side parse (one contract,
    * two evaluation sites). None when the name carries no date. */
  def granuleDate(name: String): Option[java.time.LocalDateTime] = {
    val m = java.util.regex.Pattern
      .compile(Extract.granuleIdDatePattern).matcher(name)
    if (!m.find()) None
    else scala.util.Try(java.time.LocalDateTime.parse(m.group(1),
      java.time.format.DateTimeFormatter.ofPattern(Extract.granuleDateFormat)))
      .toOption
  }

  /** Ingest explicit granule paths. Returns the landing frame plus the
    * per-granule error counter (the reference's error_tracker,
    * ancillary.py:121-141 — corrupt granules are logged, counted, and
    * skipped rather than failing the whole extraction). */
  def ingestPaths(spark: SparkSession, paths: Seq[String], product: String,
                  beams: Seq[String], vars: Seq[(String, String)],
                  reader: GranuleReader,
                  monthRange: Option[(Int, Int)] = None,
                  applyQualityFilter: Boolean = false,
                  skipCorrupt: Boolean = true): (DataFrame, LongAccumulator) = {
    require(GediCatalog.products.contains(product), s"unknown product $product")
    val errors = spark.sparkContext.longAccumulator("graft_ingest_errors")

    // Month prune by FILENAME date, before any file is opened (ref
    // extract.py:137-146) — driver-side like every DataSource's partition
    // pruning; the granule list is manifest-sized, not data-sized.
    val named = paths.map(p => (p.split("/").last.replaceAll("\\.[A-Za-z0-9]+$", ""), p))
    val kept = monthRange match {
      case None => named
      case Some((a, b)) =>
        val (lo, hi) = if (a > b) (b, a) else (a, b)
        named.filter { case (gid, path) =>
          granuleDate(gid) match {
            case Some(d) => d.getMonthValue >= lo && d.getMonthValue <= hi
            case None =>
              errors.add(1)
              System.err.println(s"[graft ingest] no filename date, skipping $path")
              false
          }
        }
    }

    val plans = plan(product, vars)
    val needed = plans.map(_.srcLayer).distinct
    // Bin projection: a vector layer that only rhNN plans read is read as
    // the sorted distinct bins they index (L2A's default `rh98` converts 1
    // of 101 bins per shot); a plan landing the whole vector (`--vars
    // rh=rh`) keeps it whole, and then the bins its rhNN siblings index
    // are checked on the landed vector instead.
    val bins: Map[String, Seq[Int]] = plans.filter(_.kind == VectorKind)
      .groupBy(_.srcLayer).collect {
        case (layer, ps) if ps.forall(_.rhIdx.isDefined) =>
          layer -> ps.flatMap(_.rhIdx).distinct.sorted
      }
    val wholeIndexed: Map[String, Int] = plans
      .collect { case VarPlan(_, layer, _, Some(idx)) if !bins.contains(layer) => layer -> idx }
      .groupMapReduce(_._1)(_._2)(math.max)
    val beamList = beams
    val rawSchema = StructType(
      StructField("granule_id", StringType, nullable = false) +:
      StructField("beam", StringType, nullable = false) +:
      plans.map(p => StructField("r_" + p.out, p.kind match {
        case LongKind => LongType
        case DoubleKind => DoubleType
        case VectorKind => ArrayType(DoubleType, containsNull = false)
      }, nullable = false)))

    // one partition per granule: task = granule, so a corrupt/slow file
    // retries alone instead of re-running a whole multi-granule slice,
    // and the scheduler load-balances heterogeneous granule sizes
    val slices = math.max(1, kept.size)
    val rdd = spark.sparkContext.parallelize(kept, slices).mapPartitions { it =>
      it.flatMap { case (gid, path) =>
        try {
          val read = reader.read(path, beamList, needed, bins)
          for (bl <- read; (layer, bin) <- wholeIndexed) {
            val vs = bl.vectors(layer)
            vs.indices.find(vs(_).length <= bin).foreach { i =>
              throw Ingest.missingBin(path, bl.beam, layer, i, vs(i).length, bin)
            }
          }
          read.iterator.flatMap { bl =>
            (0 until bl.n).iterator.map { i =>
              val vals: Seq[Any] = plans.map { p =>
                p.kind match {
                  case LongKind => bl.longs(p.srcLayer)(i)
                  case DoubleKind => bl.doubles(p.srcLayer)(i)
                  case VectorKind => bl.vectors(p.srcLayer)(i).toSeq
                }
              }
              Row.fromSeq(gid +: bl.beam +: vals)
            }
          }
        } catch {
          case NonFatal(e) if skipCorrupt =>
            errors.add(1)
            System.err.println(s"[graft ingest] skipping corrupt granule $path: $e")
            Iterator.empty
        }
      }
    }

    val raw = spark.createDataFrame(rdd, rawSchema)
    val stamped = Extract.stampAcqTime(raw, "granule_id")
    val outCols =
      Seq(col("granule_id"), col("beam"), col("acq_time")) ++ plans.map { p =>
        if (p.srcLayer.endsWith("shot_number"))
          Extract.padShot(col("r_" + p.out)).as(p.out)
        else p.rhIdx match {
          // rh bin NN is 0-based in the profile, at its position in the
          // projected vector when the read was narrowed; element_at is 1-based
          case Some(idx) =>
            val pos = bins.get(p.srcLayer).fold(idx)(_.indexOf(idx))
            Extract.rhPercentile(col("r_" + p.out), pos + 1).as(p.out)
          case None => col("r_" + p.out).as(p.out)
        }
      }
    val landed = stamped.select(outCols: _*)
    (if (applyQualityFilter) Extract.qualityFilter(landed) else landed, errors)
  }

  /** Reference-parity entry: discover granules under `root` for `product`
    * (Manifest.discover with the catalog's filename glob), read the
    * catalog's default base + measurement layers, and land shots. */
  def ingest(spark: SparkSession, root: String, product: String,
             beamGroup: String = "all",
             extraVars: Option[Seq[(String, String)]] = None,
             reader: GranuleReader = new FixtureGranuleReader,
             monthRange: Option[(Int, Int)] = None,
             applyQualityFilter: Boolean = false): (DataFrame, LongAccumulator) = {
    val paths = Manifest.discover(spark, root, GediCatalog.granulePattern(product))
      .select("path").collect().map(_.getString(0)).toSeq.sorted
    // ref extract.py:130-132 raises when the directory holds no granules
    if (paths.isEmpty)
      throw new IllegalArgumentException(
        s"no $product granule files (${GediCatalog.granulePattern(product)}) found under $root")
    val beams = GediCatalog.beamGroups.getOrElse(beamGroup.toLowerCase,
      beamGroup.split(",").toSeq)
    val vars = GediCatalog.defaultBase(product) ++
      extraVars.getOrElse(GediCatalog.defaultVariables(product))
    ingestPaths(spark, paths, product, beams, vars, reader,
      monthRange, applyQualityFilter)
  }
}

/** Self-defined text granule format standing in for HDF5 (see the
  * [[Ingest]] scaladoc for why). One file = one granule:
  *
  * {{{
  * # graft fixture granule v1        (comment lines ignored)
  * BEAM0101 shot_number 12 34 56    (scalar layer: one value per shot)
  * BEAM0101 lat_lowestmode 1.5 2.5 3.5
  * BEAM0101 rh 0.1,0.2 0.3,0.4 0.5,0.6   (vector layer: bins comma-joined)
  * }}}
  *
  * Layer tokens may contain '/' (L2B's geolocation/... paths). Scalar vs
  * long vs vector typing follows [[Ingest.layerKind]] — the same contract
  * a real HDF5 reader satisfies from the datasets' dtypes.
  *
  * Grammar and validation are those of `readAllLines`, `trim`,
  * `split("\\s+")`, `toLong`/`toDouble` and, for bins, `split(",")` —
  * computed by one index-based scan of the file text instead. Lines of
  * unwanted beams or layers are cut only as far as their beam and layer
  * tokens; every value of a wanted line is checked against its kind's
  * parse (plain decimals convert in place, every other token goes to
  * `Long.parseLong`/`Double.parseDouble`); only the requested bins of a
  * projected vector layer are converted. */
final class FixtureGranuleReader extends Ingest.GranuleReader {

  /** Manifest.discover hands back Hadoop-style `file:` URIs; this reader
    * is local-filesystem only (a production HDF5 reader would stream via
    * Hadoop's FileSystem API for hdfs/s3 paths). */
  private def localPath(path: String): java.nio.file.Path =
    if (path.startsWith("file:"))
      java.nio.file.Paths.get(new java.net.URI(path).getPath)
    else java.nio.file.Paths.get(path)

  override def read(path: String, beams: Seq[String], layers: Seq[String],
                    bins: Map[String, Seq[Int]]): Seq[Ingest.BeamLayers] = {
    val wanted = layers.toSet
    val wantedBeams = beams.toSet
    val sel = Ingest.checkedBins(bins)
    val text = new FixtureGranuleReader.Scan(
      java.nio.file.Files.readString(localPath(path)))
    // beam -> layer -> [start, end) of its value tokens; a repeated layer
    // line replaces the earlier one
    val spans = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.Map[String, (Int, Int)]]
    text.lines(path) { (beam, layer, from, to) =>
      if (wanted(layer) && wantedBeams(beam))
        spans.getOrElseUpdate(beam, scala.collection.mutable.Map.empty)
          .put(layer, (from, to))
    }
    spans.toSeq.map { case (beam, byLayer) =>
      val missing = wanted -- byLayer.keySet
      require(missing.isEmpty, s"$path $beam: missing layers $missing")
      var longs = Map.empty[String, Array[Long]]
      var doubles = Map.empty[String, Array[Double]]
      var vectors = Map.empty[String, Array[Array[Double]]]
      byLayer.foreach { case (layer, (from, to)) =>
        Ingest.layerKind(layer) match {
          case Ingest.LongKind => longs += layer -> text.longs(from, to)
          case Ingest.DoubleKind => doubles += layer -> text.doubles(from, to)
          case Ingest.VectorKind =>
            val pick = sel.getOrElse(layer, null)
            vectors += layer -> text.vectors(from, to, pick,
              (shot, has) => Ingest.missingBin(path, beam, layer, shot, has,
                pick.find(_ >= has).get))
        }
      }
      val n = (longs.values.map(_.length) ++ doubles.values.map(_.length) ++
        vectors.values.map(_.length)).head
      Ingest.BeamLayers(beam, n, longs, doubles, vectors)
    }
  }
}

object FixtureGranuleReader {

  private val pow10 = Array.tabulate(23)(math.pow(10, _))

  /** One index-based pass over a granule's text. `pos` is where the last
    * value scan stopped (the end of the token or bin it parsed). */
  private final class Scan(s: String) {
    private val len = s.length
    private var pos = 0

    /** `split("\\s+")`'s separator set within one line. */
    private def isSep(c: Char): Boolean = c == ' ' || c == '\t' || c == '\u000b' || c == '\f'

    private def tokenEnd(from: Int, to: Int): Int = {
      var i = from
      while (i < to && !isSep(s.charAt(i))) i += 1
      i
    }

    private def skipSeps(from: Int, to: Int): Int = {
      var i = from
      while (i < to && isSep(s.charAt(i))) i += 1
      i
    }

    /** Every non-blank, non-comment line as (beam, layer, values from, to):
      * `readAllLines`' line breaks, `trim`'s bounds, `split("\\s+")`'s
      * tokens. The values are not looked at here, so unwanted lines cost
      * only their line-break search. */
    def lines(path: String)(f: (String, String, Int, Int) => Unit): Unit = {
      var nextCr = s.indexOf('\r')
      var at = 0
      while (at < len) {
        if (nextCr >= 0 && nextCr < at) nextCr = s.indexOf('\r', at)
        val nl = s.indexOf('\n', at)
        val eol = math.min(if (nl < 0) len else nl, if (nextCr < 0) len else nextCr)
        var a = at
        var b = eol
        while (a < b && s.charAt(a) <= ' ') a += 1
        while (b > a && s.charAt(b - 1) <= ' ') b -= 1
        if (a < b && s.charAt(a) != '#') {
          val beamEnd = tokenEnd(a, b)
          val layerStart = skipSeps(beamEnd, b)
          require(layerStart < b, s"bad fixture line in $path: ${s.substring(a, b)}")
          val layerEnd = tokenEnd(layerStart, b)
          f(s.substring(a, beamEnd), s.substring(layerStart, layerEnd),
            skipSeps(layerEnd, b), b)
        }
        at = eol + 1
      }
    }

    private def isDigit(c: Char): Boolean = c >= '0' && c <= '9'

    /** `toLong` of the token at `from`: a sign and up to 18 ASCII digits
      * convert in place, any other token goes to `parseLong`, so the
      * accept/reject set is parseLong's. */
    private def longAt(from: Int, to: Int): Long = {
      var i = from
      val neg = i < to && s.charAt(i) == '-'
      if (i < to && (neg || s.charAt(i) == '+')) i += 1
      val digits = i
      var v = 0L
      while (i < to && isDigit(s.charAt(i))) { v = v * 10 + (s.charAt(i) - '0'); i += 1 }
      if ((i == to || isSep(s.charAt(i))) && i > digits && i - digits <= 18) {
        pos = i
        if (neg) -v else v
      } else {
        pos = tokenEnd(i, to)
        java.lang.Long.parseLong(s.substring(from, pos))
      }
    }

    /** `toDouble` of the value at `from`, which ends at a separator, at
      * `to`, or (for a bin, `comma`) at a comma; converted only when `keep`.
      * A plain `[+-]digits[.digits]` value with a mantissa of at most 2^53
      * is exact as mantissa / 10^frac (both operands exact, one correctly
      * rounded division: the double parseDouble returns). Any other value
      * goes to `parseDouble`, so `1.0E-4` and `NaN` still parse and `3.x`
      * still throws. Without `keep`, a plain value is only checked. */
    private def doubleAt(from: Int, to: Int, comma: Boolean, keep: Boolean): Double = {
      var i = from
      val neg = i < to && s.charAt(i) == '-'
      if (i < to && (neg || s.charAt(i) == '+')) i += 1
      val intStart = i
      var m = 0L
      while (i < to && isDigit(s.charAt(i))) { m = m * 10 + (s.charAt(i) - '0'); i += 1 }
      val intDigits = i - intStart
      var frac = -1 // no '.'
      if (i < to && s.charAt(i) == '.') {
        i += 1
        val fracStart = i
        while (i < to && isDigit(s.charAt(i))) { m = m * 10 + (s.charAt(i) - '0'); i += 1 }
        frac = i - fracStart
      }
      val ends = i == to || isSep(s.charAt(i)) || (comma && s.charAt(i) == ',')
      if (ends && intDigits > 0 && frac != 0 && intDigits + math.max(frac, 0) <= 18 &&
          m <= (1L << 53)) {
        pos = i
        if (!keep) 0.0
        else {
          val v = if (frac <= 0) m.toDouble else m.toDouble / pow10(frac)
          if (neg) -v else v
        }
      } else {
        var e = i
        while (e < to && !isSep(s.charAt(e)) && !(comma && s.charAt(e) == ',')) e += 1
        pos = e
        java.lang.Double.parseDouble(s.substring(from, e))
      }
    }

    def longs(from: Int, to: Int): Array[Long] = {
      val out = Array.newBuilder[Long]
      var a = from
      while (a < to) { out += longAt(a, to); a = skipSeps(pos, to) }
      out.result()
    }

    def doubles(from: Int, to: Int): Array[Double] = {
      val out = Array.newBuilder[Double]
      var a = from
      while (a < to) { out += doubleAt(a, to, comma = false, keep = true); a = skipSeps(pos, to) }
      out.result()
    }

    /** One shot per token, bins comma-joined. Like `split(",")`, trailing
      * empty bins are dropped and any other empty bin is rejected (by
      * parseDouble). With a selection `pick` (null: whole vectors) every
      * bin is still checked, only the picked ones are converted, and a
      * shot with too few bins throws `missing(shot, bins it has)`. */
    def vectors(from: Int, to: Int, pick: Array[Int],
                missing: (Int, Int) => Exception): Array[Array[Double]] = {
      val out = Array.newBuilder[Array[Double]]
      var whole = new Array[Double](if (pick == null) 128 else 0)
      var shot = 0
      var a = from
      while (a < to) {
        val vs = if (pick == null) null else new Array[Double](pick.length)
        var bin = 0
        var j = 0 // next picked slot
        var f = a
        var more = true
        while (more) {
          val c = if (f < to) s.charAt(f) else ' '
          if (c == ',' || isSep(c)) {
            // an empty bin: trailing ones end the shot, others are errors
            var k = f
            while (k < to && s.charAt(k) == ',') k += 1
            if (k < to && !isSep(s.charAt(k))) java.lang.Double.parseDouble("")
            pos = k
            more = false
          } else if (pick == null) {
            if (bin == whole.length) whole = java.util.Arrays.copyOf(whole, bin * 2)
            whole(bin) = doubleAt(f, to, comma = true, keep = true)
            bin += 1
          } else {
            val hit = j < pick.length && pick(j) == bin
            val v = doubleAt(f, to, comma = true, keep = hit)
            if (hit) { vs(j) = v; j += 1 }
            bin += 1
          }
          if (more) {
            if (pos < to && s.charAt(pos) == ',') f = pos + 1 else more = false
          }
        }
        if (pick == null) out += java.util.Arrays.copyOf(whole, bin)
        else if (j < pick.length) throw missing(shot, bin)
        else out += vs
        shot += 1
        a = skipSeps(pos, to)
      }
      out.result()
    }
  }
}
