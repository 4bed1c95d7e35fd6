package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge

/** Benchmark main: times every declared query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line (stdout) plus the same JSON to a file (sbt's noisy
  * stdout made r1's line unparseable — the file is the reliable channel).
  *
  * Two r1 fixes: failures are RECORDED per query (value -1, listed under
  * "errors") instead of silently benched as fast successes; and the
  * top-level ORDER BY every query carries for oracle determinism is
  * stripped (PlanBridge), so timings measure the operator, not a global
  * sort of the full output.
  *
  * The file (and its bench_history.jsonl copy) also carries each row's
  * Spark job and completed-stage count, of the run whose time it reports
  * (`"jobs"`, `"stages"`; -1 for an error).
  */
object Bench {

  /** Per-query MEDIAN of prior committed runs at the same sf, parsed from
    * bench_history.jsonl (our own append-only full-detail log). Tolerant
    * by construction: lines without a matching `"sf"` or a `"queries"`
    * object (e.g. the harness-died artifact) are skipped, error values
    * (-1) are dropped, and a missing/corrupt file yields an empty map —
    * adjudication then simply has no history trigger, never a crash.
    * Values inside the queries object are plain `"name":number` pairs
    * with no nesting, so a brace-free regex scan is exact. */
  private[graft] def historyMedians(path: String, sf: String): Map[String, Double] = {
    val f = Paths.get(path)
    if (!Files.exists(f)) return Map.empty
    val qObj = "\"queries\":\\{([^}]*)\\}".r
    val qPair = "\"([^\"]+)\":(-?[0-9][0-9.eE+-]*)".r
    val vals = scala.collection.mutable.Map.empty[String, List[Double]]
    try {
      Files.readAllLines(f).forEach { line =>
        if (line.contains(s""""sf":"$sf"""")) {
          qObj.findFirstMatchIn(line).foreach { m =>
            qPair.findAllMatchIn(m.group(1)).foreach { p =>
              val v = try p.group(2).toDouble catch { case _: Throwable => -1.0 }
              if (v > 0)
                vals(p.group(1)) = v :: vals.getOrElse(p.group(1), Nil)
            }
          }
        }
      }
    } catch { case _: Throwable => return Map.empty }
    vals.map { case (k, vs) =>
      val s = vs.sorted
      k -> s((s.size - 1) / 2)
    }.toMap
  }

  /** Spark jobs started and stages completed since the last [[reset]],
    * from one listener. Both calls drain the listener bus, so a finished
    * action's events are all counted and none of an earlier one leaks in. */
  private[graft] final class JobCounter(spark: SparkSession) {
    private val jobs = new AtomicInteger
    private val stages = new AtomicInteger
    private val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)

    def reset(): Unit = {
      PlanBridge.drainListenerBus(spark)
      jobs.set(0)
      stages.set(0)
    }

    /** (jobs, stages) since the last reset. */
    def counts(): (Int, Int) = {
      PlanBridge.drainListenerBus(spark)
      (jobs.get, stages.get)
    }

    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    // Warm-up: one untimed pass of EVERY query (JIT, codegen caches,
    // parquet footers), then the timed pass — so timings measure steady-
    // state plans, not first-use compilation of whichever query runs first.
    def runOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[String] =
      try {
        // noop sink materializes every output column (count() would let
        // Spark prune the projections away).
        PlanBridge.scoped(PlanBridge.stripTopSort(fn(spark, sfDir))
          .write.format("noop").mode("overwrite").save())
        None
      } catch { case e: Throwable => Some(e.toString.take(200)) }
    // Crash honesty (r9 lesson): when the shared SparkContext dies mid-board
    // (sf1 OOM killed the JVM's executor threads), every later runOnce fails
    // with "Cannot call methods on a stopped SparkContext" and the artifact
    // LOOKS like N query failures. Detect the dead harness after every query,
    // record ONE distinct harness-died artifact naming the query that was
    // running when it died, and abort — a dead JVM must never masquerade as
    // per-query errors again.
    def assertAlive(lastQuery: String): Unit =
      if (spark.sparkContext.isStopped) {
        val died =
          s"""{"harness":"died","last_query":"$lastQuery","reason":"SparkContext stopped mid-board (likely OOM)","sf":"$sfDir"}"""
        Files.writeString(Paths.get(outPath), died + "\n")
        Files.writeString(Paths.get("bench_history.jsonl"),
          s"""{"at":"${java.time.Instant.now()}",""" + died.stripPrefix("{") + "\n",
          java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
        println(died)
        System.out.flush()
        sys.exit(2)
      }
    // Local profiling knobs (driver uses the defaults): ONLY runs a subset,
    // REPS>1 times each query REPS times and reports the minimum (steady
    // state, GC/JIT noise removed).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // Default best-of-3: r1-r3 showed single-shot timings are dominated by
    // GC/JIT/neighbor noise (the "slow five" were a different set each
    // round) — min over three runs reports the plan, not the collector.
    // "spread" (worst/best per query) is emitted alongside so a noisy host
    // is visible in the official artifact instead of argued about later.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    // SPARK_GRAFT_BENCH_SHARD=i/n runs only the i-th (0-based) of n
    // round-robin interleaved shards of the name-sorted board (idx % n ==
    // i — interleaving balances load across shards better than contiguous
    // slices would). At sf1 the full 200+ board in one JVM accumulates
    // enough shuffle/cache residue to OOM local[32]; two half-board JVMs
    // whose JSON the caller merges keep each run honest.
    val shard = sys.env.get("SPARK_GRAFT_BENCH_SHARD").map { s =>
      val Array(i, n) = s.split("/").map(_.trim.toInt); (i, n)
    }
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .zipWithIndex
      .filter { case (_, idx) => shard.forall { case (i, n) => idx % n == i } }
      .map(_._1)
    // Test hook for the crash path (kill-test): stop the context right
    // after warming the named query, exactly what an executor OOM looks
    // like to the rest of the loop. Never set by the driver.
    val killAfter = sys.env.get("SPARK_GRAFT_BENCH_KILL_AFTER")
    ordered.foreach { case (name, fn) =>
      runOnce(fn)
      if (killAfter.contains(name)) spark.stop()
      assertAlive(name)
    }
    // jobs and stages of every timed run (the bus drains outside the clock)
    val counter = new JobCounter(spark)
    val boardCounts = scala.collection.mutable.Map.empty[String, (Int, Int)]
    val boardResults = ordered.map { case (name, fn) =>
      val runs = (1 to reps).map { _ =>
        counter.reset()
        val t0 = System.nanoTime()
        val err = runOnce(fn)
        assertAlive(name)
        val t = (System.nanoTime() - t0) / 1e9
        (t, err, counter.counts())
      }
      val ok = runs.collect { case (t, None, c) => (t, c) }
      // A query is an error only if EVERY rep failed; a transient single-rep
      // failure with a successful best run is a success (best-of-N intent).
      val err = if (ok.isEmpty) runs.flatMap(_._2).headOption else None
      val best = if (ok.nonEmpty) ok.map(_._1).min else -1.0
      val worst = if (ok.nonEmpty) ok.map(_._1).max else -1.0
      // the counts of the best run: the plan the reported time measured
      if (ok.nonEmpty) boardCounts(name) = ok.minBy(_._1)._2
      (name, best, worst, err)
    }
    // SELF-ADJUDICATION (r16, widened r17): three consecutive rounds
    // shipped boards whose noisy movers were adjudicated only in side
    // files (bench_iso_r13/r15) a cold reader never opens. Queries are
    // re-probed HERE, after the full board (quieter JVM: no interleaved
    // neighbors), on EITHER trigger:
    //  - in-board spread (r16): worst/best > adjSpread — catches a burst
    //    that hit one rep;
    //  - history (r17): board best > adjHist × this query's median over
    //    prior committed runs at the SAME sf (bench_history.jsonl) — the
    //    r16 blind spot was a SUSTAINED burst hitting every rep
    //    (q_feature_hash 10.8 s in-board both reps vs 3.24 s isolated),
    //    which shows spread ≈ 1 and sailed through.
    // The official per-query value is min over board ∪ iso runs, and —
    // fixing the r16 asymmetry — worst/spread are recomputed over that
    // SAME run population, so the published spread always matches the
    // official best's runs. Raw board number, iso best, iso run count,
    // and the history median (when the r17 trigger could fire) are all
    // recorded under "adjudication" for audit.
    val adjSpread = sys.env.getOrElse("SPARK_GRAFT_BENCH_ADJ_SPREAD", "2.5").toDouble
    val adjMinSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_ADJ_MINSEC", "0.5").toDouble
    // 1.5 is the value the sf1 board of record runs at (r17 shipped the
    // default at 2.5 while the official board used 1.5 via env — the
    // committed artifact must be reproducible without reading NOTES).
    val adjHist = sys.env.getOrElse("SPARK_GRAFT_BENCH_ADJ_HIST", "1.5").toDouble
    val hist = historyMedians("bench_history.jsonl", sfDir)
    // History medians were taken in OTHER host windows and windows swing
    // 2-3.5x (bench_history), so in a slow window most of the board can
    // exceed adjHist x median and every hit pays 2 extra isolation reps.
    // Normalize the trigger by the RUN's overall slowdown vs history
    // (ratio of best-of-board totals over the queries that have history,
    // floored at 1) so it fires on per-query anomalies, not on the
    // window being slow. Reported values stay min-over-union either way.
    val histPairs = boardResults.collect {
      case (name, best, _, None) if best > 0 && hist.contains(name) =>
        (best, hist(name))
    }
    val histRatio =
      if (histPairs.isEmpty) 1.0
      else math.max(1.0, histPairs.map(_._1).sum / histPairs.map(_._2).sum)
    val byName = ordered.toMap
    val adjudicated = boardResults.collect {
      case (name, best, worst, None)
          if best > 0 &&
            ((worst / best > adjSpread && worst - best > adjMinSec) ||
              hist.get(name).exists(md =>
                best > md * adjHist * histRatio && best - md > adjMinSec)) =>
        val iso = (1 to 2).flatMap { _ =>
          val t0 = System.nanoTime()
          val err = runOnce(byName(name))
          assertAlive(name)
          if (err.isEmpty) Some((System.nanoTime() - t0) / 1e9) else None
        }
        name -> (best, iso)
    }.toMap
    val results = boardResults.map { case (name, best, worst, err) =>
      adjudicated.get(name) match {
        case Some((_, iso)) if iso.nonEmpty =>
          (name, math.min(best, iso.min), math.max(worst, iso.max), err)
        case _ => (name, best, worst, err)
      }
    }
    // stdout gets a COMPACT line; the file gets full detail. The driver
    // parses the line out of noisy captured sbt output with a bounded
    // tail window: r4 (83 queries, ~3.2 KB) and r6 (104 queries, ~2.6 KB
    // even at ms precision) both came back parsed:null while r3/r5
    // (<2 KB) parsed — so the official channel must stay a few hundred
    // bytes REGARDLESS of board size. The stdout line therefore carries
    // the totals plus only the top-5 slowest queries; the complete
    // per-query map, spreads, and error details live in bench_out.json.
    // Locale.ROOT: the default-locale formatter writes comma decimal
    // separators under e.g. de_DE, which would corrupt the JSON line
    def ms(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qjson(f: Double => String) = results
      .map { case (k, v, _, err) => s""""$k":${if (err.isDefined) -1 else f(v)}""" }
      .mkString("{", ",", "}")
    val spreads = results.collect { case (_, b, w, None) if b > 0 => w / b }
    val spreadMax =
      if (spreads.isEmpty) 1.0 else math.round(spreads.max * 100) / 100.0
    val spread = results.collect { case (k, b, w, None) if b > 0 =>
      s""""$k":${math.round(w / b * 100) / 100.0}"""
    }.mkString("{", ",", "}")
    def countJson(pick: ((Int, Int)) => Int) = results
      .map { case (k, _, _, _) => s""""$k":${boardCounts.get(k).fold(-1)(pick)}""" }
      .mkString("{", ",", "}")
    val errs = results.collect { case (k, _, _, Some(e)) =>
      RunLog.toJson(Seq(k -> e)).stripPrefix("{").stripSuffix("}")
    }.mkString("{", ",", "}")
    val total = results.collect { case (_, v, _, None) => v }.sum
    val nErr = results.count(_._4.isDefined)
    val top5 = results.filter(_._4.isEmpty).sortBy(-_._2).take(5)
      .map { case (k, v, _, _) => s""""$k":${ms(v)}""" }
      .mkString("{", ",", "}")
    val adjJson = adjudicated.toSeq.sortBy(_._1).map { case (k, (b, iso)) =>
      val isoBest = if (iso.nonEmpty) iso.min else b
      val hm = hist.get(k).map(v => s""","hist_median":${ms(v)}""").getOrElse("")
      s""""$k":{"board_best":${ms(b)},"iso_best":${ms(isoBest)},"iso_n":${iso.size}$hm}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec","queries":$top5,"n_queries":${results.size},"reps":$reps,"spread_max":$spreadMax,"n_adjudicated":${adjudicated.size},"n_errors":$nErr,"sf":"$sfDir"}"""
    def r2(v: Double): String = (math.round(v * 100) / 100.0).toString
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${qjson(_.toString)},"jobs":${countJson(_._1)},"stages":${countJson(_._2)},"spread":$spread,"reps":$reps,"adj_hist":$adjHist,"adj_spread":$adjSpread,"hist_ratio":${r2(histRatio)},"adjudication":$adjJson,"errors":$errs,"n_errors":$nErr,"sf":"$sfDir"}"""
    Files.writeString(Paths.get(outPath), full + "\n")
    // bench_out.json is overwritten every run, which made r6-vs-r7
    // per-query comparisons unreproducible (ADVICE r7). Append the full
    // detail to a history log too, stamped, so every run's map survives.
    val stamped = s"""{"at":"${java.time.Instant.now()}",""" + full.stripPrefix("{")
    Files.writeString(Paths.get("bench_history.jsonl"), stamped + "\n",
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.APPEND)
    println(line)
    System.out.flush()
    spark.stop()
  }
}
