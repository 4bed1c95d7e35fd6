package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** A benchmark workload: seeded inputs plus a closed loop of calls into
  * the program's public entry points (`graft.Cli.run`,
  * `graft.SparkEntry.queries`). */
trait Workload {
  /** Write the seeded inputs under the work directory. */
  def generate(spark: SparkSession): Unit
  /** The cold first iteration that set-up time includes. */
  def cold(spark: SparkSession, t: Tracer): Unit = unit(spark, t)
  /** Untimed output checks after the last set-up's first iteration;
    * returns the failed checks (empty when every output is correct). */
  def check(spark: SparkSession, t: Tracer): Seq[String]
  /** One timed unit of work (a command chain or one query). */
  def unit(spark: SparkSession, t: Tracer): Unit
  /** Items one unit processes (shots, documents or queries). */
  def itemsPerUnit: Double
  /** Per-layer probes (traced run); returns failed output checks. */
  def probes(spark: SparkSession, t: Tracer, m: mutable.Map[String, Double]): Seq[String]
}

object Main {
  /** Set-up is re-measured at least this many times per run, each in a
    * restarted session of the warm JVM, and more (up to the maximum) while
    * the samples sum to less than the budget; `setup_s` is their median. */
  val RestartSamples = 2
  val MaxRestartSamples = 9
  val RestartBudgetS = 2.5
  /** Untimed units run before the window. */
  val WarmupUnits = 2

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "items_per_s" -> "1/s", "call_p90_s" -> "s")

  val cliCommands: Seq[String] = Seq(
    "pipeline_l2a", "pipeline_l2b", "merge", "rasterize",
    "gopher", "dedup", "cluster", "semdedup")
  val cliFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "plan_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "task_s" -> "s", "task_util" -> "ratio", "gc_s" -> "s", "shuffle_mb" -> "MB")

  /** Every per-layer metric, in output order. A workload that never calls
    * into a layer reports 0 for that layer's metrics. */
  val perLayer: Seq[(String, String)] = Seq(
    "call.count" -> "count", "bench.gen_s" -> "s", "setup.cold_s" -> "s", "bench.steal_pct" -> "%",
    "fail_ratio" -> "ratio", "trace.overhead_pct" -> "%", "trace.spans" -> "count",
    "graftbridge.persistent_rdds" -> "count", "graftbridge.retained_mb" -> "MB",
    "graftbridge.leaky_calls" -> "count", "graftbridge.max_call_delta_mb" -> "MB",
    "sources.discover_s" -> "s", "sources.read_shots_per_s" -> "1/s",
    "sources.ingest_s" -> "s", "operators.quality_aoi_s" -> "s",
    "sources.write_s" -> "s", "sources.write_files" -> "count", "sources.write_mb" -> "MB",
    "plans.pip_rows_per_s" -> "1/s", "plans.pip_tree_rows_per_s" -> "1/s",
    "functions.tokens_rows_per_s" -> "1/s", "functions.tokencodes_rows_per_s" -> "1/s",
    "functions.minhash_rows_per_s" -> "1/s", "functions.charhash_rows_per_s" -> "1/s",
    "functions.charhash_hof_rows_per_s" -> "1/s", "functions.dot_rows_per_s" -> "1/s",
    "functions.dot_hof_rows_per_s" -> "1/s",
    "operators.lsh_edges" -> "count", "operators.edge_yield" -> "ratio",
    "operators.cc_jobs" -> "count", "operators.cluster_recall" -> "ratio",
    "operators.semdedup_recall" -> "ratio", "operators.cluster_max_component" -> "count",
    "operators.cluster_unplanted_docs" -> "count", "operators.semdedup_unplanted_flags" -> "count") ++
    cliCommands.flatMap(c => cliFields.map { case (f, u) => s"cli.$c.$f" -> u }) ++ Seq(
    "queries.plan_s" -> "s", "queries.driver_s" -> "s", "queries.jobs_per_query" -> "count",
    "queries.stages_per_query" -> "count", "queries.task_util" -> "ratio",
    "queries.task_s" -> "s", "queries.shuffle_mb" -> "MB", "queries.gc_s" -> "s") ++
    Board.groups.map { case (g, _) => s"queries.${g}_s" -> "s" }

  private def parse(args: Array[String]): Map[String, String] = {
    val flags = Set("--calibrate", "--dump-pool")
    var out = Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      if (flags(args(i))) { out += args(i).drop(2) -> "1"; i += 1 }
      else { out += args(i).drop(2) -> args(i + 1); i += 2 }
    }
    out
  }

  def session(cores: Int, work: String): SparkSession = {
    // configured like graft.Cli's own session: Tables.sessionConfs and
    // GraftExtensions.register, at local[cores]
    val b = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    graft.Tables.sessionConfs.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    if (args.sameElements(Array("--list-metrics"))) {
      def list(ms: Seq[(String, String)]) = ms.map { case (k, u) =>
        Json.obj(Seq("name" -> Json.str(k), "unit" -> Json.str(u)))
      }.mkString("[", ",", "]")
      println(Json.obj(Seq("end_to_end" -> list(endToEnd), "per_layer" -> list(perLayer))))
      return
    }
    val a = parse(args)
    val cores = a("cores").toInt
    val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val name = a("workload")
    Files.createDirectories(Paths.get(work))
    if (a.contains("calibrate") || a.contains("dump-pool")) {
      val spark = session(cores, work)
      try {
        if (a.contains("calibrate")) Board.calibrate(spark, a("expect"))
        else Board.dumpPool(spark, a("expect"))
      } finally spark.stop()
      return
    }
    val wl: Workload = name match {
      case "gedi_extract" => new GediExtract(work, seed)
      case "board_sample" => new BoardSample(a("expect"), seed)
    }
    val runId = s"$name-$seed-${System.currentTimeMillis()}"
    // a run must end well inside its 180 s budget
    val hardStop = System.nanoTime() + 110L * 1000000000L
    var failed = 0L
    var attempted = 0L
    def tally(t: Tracer): Unit = {
      attempted += t.calls.size
      failed += t.calls.count(!_.ok)
    }

    // Set-up = session start + extension registration + the first
    // iteration. The JVM-cold sample is taken here (`setup.cold_s`) and its
    // session carries on into the timed window; the `setup_s` samples (the
    // session stopped and started again in the warm JVM) are taken after
    // the window, which a restarted context would slow. Input generation
    // runs inside the first session, timed apart.
    var genS = 0.0
    var spark: SparkSession = null
    def setup(first: Boolean): Double = {
      val t0 = System.nanoTime()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("WARN")
      if (first) {
        val g0 = System.nanoTime()
        wl.generate(spark)
        genS = (System.nanoTime() - g0) / 1e9
      }
      val t = new Tracer(spark, runId)
      val c0 = System.nanoTime()
      wl.cold(spark, t)
      System.err.println(f"[perfbench] set-up: session ${(c0 - t0) / 1e9}%.2f s, calls " +
        t.calls.map(c => f"${c.name} ${c.wallS}%.2f").mkString(", "))
      tally(t)
      (System.nanoTime() - t0) / 1e9 - (if (first) genS else 0.0)
    }
    val coldS = setup(first = true)

    val tracer = new Tracer(spark, runId)
    val w0 = System.nanoTime()
    val problems =
      try wl.check(spark, tracer)
      catch { case scala.util.control.NonFatal(e) => Seq(s"output check threw: $e") }
    System.err.println(f"[perfbench] gen ${genS}%.2f s, set-up ${coldS}%.2f s, check ${(System.nanoTime() - w0) / 1e9}%.2f s")
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))

    // Untimed warm-up units: the checks run other plans than the timed
    // units, and with fewer warm-up units the window's first units still
    // ran the timed plans JIT-cold, getting faster from one to the next.
    val u0 = System.nanoTime()
    (1 to WarmupUnits).foreach(_ => wl.unit(spark, tracer))
    System.err.println(f"[perfbench] warm-up: $WarmupUnits units, ${(System.nanoTime() - u0) / 1e9}%.2f s")

    // Closed loop, one client thread: the next unit starts when the last
    // ends. `before(i)` runs ahead of unit i, outside its timing.
    var stealPct = 0.0
    def window(secs: Double, floor: Int)(before: Int => Unit): Seq[(Double, Seq[Call])] = {
      val out = mutable.ArrayBuffer.empty[(Double, Seq[Call])]
      val steal0 = Steal.read()
      val end = System.nanoTime() + (secs * 1e9).toLong
      while (out.size < floor || (System.nanoTime() < end && System.nanoTime() < hardStop)) {
        before(out.size)
        val from = tracer.calls.size
        val t0 = System.nanoTime()
        wl.unit(spark, tracer)
        out += (((System.nanoTime() - t0) / 1e9, tracer.calls.drop(from).toSeq))
      }
      stealPct = Steal.pct(steal0, Steal.read())
      System.err.println(f"[perfbench] window: ${out.size} units, CPU steal $stealPct%.1f%%")
      out.toSeq
    }
    def summary(units: Seq[(Double, Seq[Call])]): Map[String, Double] = {
      val walls = units.map(_._1)
      val calls = units.flatMap(_._2)
      // each call's typical wall: its median across the window's units, so
      // a stall of the shared box during one call moves neither metric
      val typicalBy = calls.groupBy(_.name).toSeq
        .map { case (n, cs) => (n, Stats.median(cs.map(_.wallS)), cs.map(_.wallS)) }.sortBy(-_._2)
      // a unit's typical wall: the sum of its calls' typical walls
      val typical = typicalBy.map(_._2).sum
      System.err.println(f"[perfbench] units ${walls.map(w => f"$w%.2f").mkString(" ")} s, typical $typical%.2f s")
      System.err.println("[perfbench] slowest calls: " + typicalBy.take(4)
        .map { case (n, _, ws) => n + " " + ws.map(w => f"$w%.3f").mkString("/") }.mkString(", "))
      Map("items_per_s" -> wl.itemsPerUnit / typical,
        "unit_p50_s" -> Stats.median(walls),
        // p90 across the unit's distinct calls (commands or queries) of
        // their typical walls: the tail of the call mix, not of one
        // call's repetitions
        "call_p90_s" -> Stats.quantile(typicalBy.map(_._2), 0.9))
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val s = summary(window(seconds, 1)(_ => ()))
        tally(tracer)
        val setups = mutable.ArrayBuffer.empty[Double]
        while (setups.size < RestartSamples ||
               (setups.sum < RestartBudgetS && setups.size < MaxRestartSamples)) {
          spark.stop()
          setups += setup(first = false)
        }
        spark.stop()
        val all = s + ("setup_s" -> Stats.median(setups.toSeq))
        endToEnd.map { case (k, u) => (k, all(k), u) }
      } else {
        val m = mutable.Map.empty[String, Double].withDefaultValue(0.0)
        // alternate untraced and traced units, so the tracing overhead is
        // not confounded with warm-up order
        val units = window(seconds, 2) { i =>
          if (i % 2 == 1) tracer.startTracing() else tracer.stopTracing()
        }
        val (traced, plain) = units.partition(_._2.exists(_.stats.isDefined))
        tracer.startTracing()
        val from = tracer.calls.size
        val probeProblems = tracer.span("probes")(wl.probes(spark, tracer, m))
        val probeCalls = tracer.calls.drop(from).toSeq.filter(_.stats.isDefined)
        tracer.stopTracing()
        val (p, q) = (summary(plain)("unit_p50_s"), summary(traced)("unit_p50_s"))
        m("trace.overhead_pct") = (q - p) / p * 100
        m("call.count") = traced.map(_._2.size).sum
        Layers.fill(m, traced.flatMap(_._2) ++ probeCalls.filter(_.layer == "cli"), cores)
        m("bench.gen_s") = genS
        m("setup.cold_s") = coldS
        m("bench.steal_pct") = stealPct
        Layers.residue(spark, tracer, m)
        spark.stop()
        m("trace.spans") = tracer.spans.size
        val path = Paths.get(a("out"), s"$name-seed$seed-spans.jsonl")
        Files.write(path, tracer.spansJson().mkString("", "\n", "\n").getBytes("UTF-8"))
        System.err.println(s"[perfbench] spans -> $path")
        tally(tracer)
        failed += probeProblems.size
        m("fail_ratio") = (failed + problems.size).toDouble / attempted
        perLayer.map { case (k, u) => (k, m(k), u) }
      }

    val result = Json.obj(Seq(
      "correct" -> (problems.isEmpty && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> (failed + problems.size).toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(result)
    System.out.flush()
  }
}
