package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-layer metrics derived from the traced calls, plus the helpers the
  * workloads' layer probes share. */
object Layers {

  /** `cli.<cmd>.*` (median over a command's traced executions),
    * `queries.*` (mean per traced query), `queries.<group>_s` (where the
    * session's time went) and the per-call residue counters. */
  def fill(m: mutable.Map[String, Double], calls: Seq[Call], cores: Int): Unit = {
    calls.filter(_.layer == "cli").groupBy(_.name).foreach { case (cmd, cs) =>
      def med(f: Call => Double) = Stats.median(cs.map(f))
      val p = s"cli.$cmd."
      m(p + "wall_s") = med(_.wallS)
      m(p + "plan_s") = med(_.stats.get.planS)
      m(p + "driver_s") = med(_.driverS)
      m(p + "jobs") = med(_.stats.get.jobs.toDouble)
      m(p + "task_s") = med(_.stats.get.taskS)
      m(p + "task_util") = med(_.taskUtil(cores))
      m(p + "gc_s") = med(_.stats.get.gcS)
      m(p + "shuffle_mb") = med(_.stats.get.shuffleMb)
    }
    val qs = calls.filter(_.layer == "queries")
    if (qs.nonEmpty) {
      def mean(f: Call => Double) = Stats.mean(qs.map(f))
      m("queries.plan_s") = mean(_.stats.get.planS)
      m("queries.driver_s") = mean(_.driverS)
      m("queries.jobs_per_query") = mean(_.stats.get.jobs.toDouble)
      m("queries.stages_per_query") = mean(_.stats.get.stages.toDouble)
      m("queries.task_util") = mean(_.taskUtil(cores))
      m("queries.task_s") = mean(_.stats.get.taskS)
      m("queries.shuffle_mb") = mean(_.stats.get.shuffleMb)
      m("queries.gc_s") = mean(_.stats.get.gcS)
      qs.groupBy(_.group).foreach { case (g, cs) => m(s"queries.${g}_s") = cs.map(_.wallS).sum }
    }
    val st = calls.flatMap(_.stats)
    m("graftbridge.leaky_calls") = st.count(s => s.rddsAfter > s.rddsBefore)
    m("graftbridge.max_call_delta_mb") =
      (0.0 +: st.map(s => s.mbAfter - s.mbBefore)).max
  }

  /** Storage still held after the last call: read after a forced GC and
    * once Spark's asynchronous cleanup of unreachable RDDs has settled
    * (three identical readings 100 ms apart, at most 5 s). */
  def residue(spark: SparkSession, t: Tracer, m: mutable.Map[String, Double]): Unit = {
    System.gc()
    var last = t.storage()
    var same = 0
    val deadline = System.nanoTime() + 5000000000L
    while (same < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      System.gc()
      val now = t.storage()
      same = if (now == last) same + 1 else 0
      last = now
    }
    m("graftbridge.persistent_rdds") = last._1
    m("graftbridge.retained_mb") = last._2
  }

  /** Median wall seconds of `reps` runs of `body` (after one warm run). */
  def timeMedian(reps: Int)(body: => Unit): Double = {
    body
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    })
  }

  /** Rows/s of one expression over a cached frame, materialized into a
    * `noop` sink (median of 3 after a warm run). */
  def kernelRate(t: Tracer, name: String, frame: DataFrame, rows: Long)
                (expr: org.apache.spark.sql.Column): Double =
    t.span(name) {
      rows / timeMedian(3)(frame.select(expr.as("_k")).write.format("noop").mode("overwrite").save())
    }
}
