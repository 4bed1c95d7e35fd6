package graft

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, Project, Sort, SubqueryAlias, Tail}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan shapes the benchmark and the CLI pay for: an operator returns its
  * rows unsorted and the catalog query sorts last, so the one sort Verify
  * needs is the top-level sort `PlanBridge.stripTopSort` removes. */
class PlanShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Global sorts no limit reads: a sort under a limit is a top-k. */
  private def determinismSorts(plan: LogicalPlan): Seq[Sort] = {
    def topK(p: LogicalPlan): Option[Sort] = p match {
      case s: Sort => Some(s)
      case _: Project | _: LocalLimit | _: SubqueryAlias => topK(p.children.head)
      case _ => None
    }
    val limited = plan.collectWithSubqueries {
      case l @ (_: GlobalLimit | _: LocalLimit | _: Tail) => topK(l.children.head)
    }.flatten
    plan.collectWithSubqueries { case s: Sort if s.global => s }
      .filterNot(s => limited.exists(_ eq s))
  }

  test("no catalog query keeps a global sort after stripTopSort") {
    val failures = mutable.Buffer[String]()
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = PlanBridge.analyzedPlan(PlanBridge.stripTopSort(fn(spark, sfDir)))
        val sorts = determinismSorts(plan)
        if (sorts.nonEmpty)
          failures += s"$name: ${sorts.size} global sort(s) on " +
            sorts.map(_.order.map(_.child.sql).mkString("(", ", ", ")")).mkString(" ")
      } catch {
        case e: Throwable => failures += s"$name: plan construction failed: $e"
      }
    }
    assert(SparkEntry.queries.size === 258)
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  /** Query executions that finished while `body` ran. */
  private def executionsDuring(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    PlanBridge.drainListenerBus(spark)
    spark.listenerManager.register(l)
    try {
      body
      PlanBridge.drainListenerBus(spark)
    } finally spark.listenerManager.unregister(l)
    scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala.toSeq
  }

  private def noop(df: DataFrame): Unit =
    PlanBridge.stripTopSort(df).write.format("noop").mode("overwrite").save()

  test("q_benford is one aggregation: one events scan, at most two jobs") {
    val q = SparkEntry.queries("q_benford")
    noop(q(spark, sfDir)) // warm: footers and codegen
    var qes = Seq.empty[QueryExecution]
    val counter = new Bench.JobCounter(spark)
    val jobs = try {
      counter.reset()
      val n = jobsDuring { qes = executionsDuring(noop(q(spark, sfDir))) }
      // Bench's per-row count sees the same jobs
      assert(counter.counts()._1 === n)
      assert(counter.counts()._2 >= n)
      n
    } finally counter.close()
    assert(jobs <= 2, s"q_benford ran $jobs jobs")
    assert(qes.size === 1)
    val scans = collectWithSubqueries(qes.head.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.mkString(",")
    }
    assert(scans.size === 1, scans.mkString("\n"))
    assert(scans.head.contains("events"))
  }
}
