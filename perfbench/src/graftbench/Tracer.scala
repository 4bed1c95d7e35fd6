package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side cost of one call, read from outside the program: the
  * benchmark's own SparkListener / QueryExecutionListener and the
  * block-manager storage before and after the call. */
final case class CallStats(planS: Double, jobs: Int, stages: Int,
                           jobWallS: Double, taskS: Double, gcS: Double, shuffleMb: Double,
                           rddsBefore: Int, rddsAfter: Int,
                           mbBefore: Double, mbAfter: Double)

/** One call into the program: a CLI command or a catalog query.
  * `stats` is present only while tracing. */
final case class Call(layer: String, name: String, group: String,
                      wallS: Double, ok: Boolean, stats: Option[CallStats]) {
  /** Driver-side time: the call's wall time minus the part of it that
    * Spark jobs cover (its self time in the span tree). */
  def driverS: Double = stats.fold(0.0)(s => math.max(0.0, wallS - s.jobWallS))
  def taskUtil(cores: Int): Double =
    stats.fold(0.0)(s => if (s.jobWallS > 0) s.taskS / (s.jobWallS * cores) else 0.0)
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** Records calls, and while `tracing` also spans and Spark-side counters.
  * One client thread drives every call; the listeners run on Spark's
  * listener bus, which is drained before and after each traced call so
  * that every event lands in the call that caused it. */
final class Tracer(spark: SparkSession, val runId: String) {
  val calls = ArrayBuffer.empty[Call]
  val spans = ArrayBuffer.empty[Span]
  private var tracing = false
  private var nextId = 1
  private var parents = List(0) // innermost open span first

  // listener state, written on the bus thread
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val jobSpans = new ConcurrentLinkedQueue[(Int, Long, Long)]()
  private val planPhases = new ConcurrentLinkedQueue[(String, Long, Long)]()
  private val stages = new AtomicLong
  private val runMs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleBytes = new AtomicLong

  private val jobListener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobStarts.put(j.jobId, j.time)
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(j.jobId)
      if (s != null) jobSpans.add((j.jobId, s.longValue, j.time))
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val m = s.stageInfo.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (phase, s) =>
        planPhases.add((phase, s.startTimeMs, s.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def startTracing(): Unit = if (!tracing) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    PlanBridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    tracing = false
  }

  private def nowMs: Double = System.currentTimeMillis().toDouble

  private def addSpan(parent: Int, name: String, start: Double, end: Double): Int = {
    val id = nextId
    nextId += 1
    spans += Span(id, parent, name, start, end)
    id
  }

  /** A span around a block that is not itself a call (a run phase or a
    * probe). Spans are kept in memory only while tracing. */
  def span[T](name: String)(body: => T): T = {
    if (!tracing) return body
    val id = nextId
    nextId += 1
    val start = nowMs
    parents = id :: parents
    try body
    finally {
      parents = parents.tail
      spans += Span(id, parents.head, name, start, nowMs)
    }
  }

  /** Persistent RDD count and block-manager storage (MB) right now. */
  def storage(): (Int, Double) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size,
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }

  private def resetCounters(): Unit = {
    Seq(stages, runMs, gcMs, shuffleBytes).foreach(_.set(0L))
    jobSpans.clear()
    planPhases.clear()
  }

  /** Run one call into the program and record it. A throwing call is
    * recorded as failed and does not propagate. */
  def call(layer: String, name: String, group: String)(body: => Unit): Call = {
    val before = if (tracing) {
      PlanBridge.drainListenerBus(spark)
      resetCounters()
      Some(storage())
    } else None
    val startMs = nowMs
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $layer.$name failed: $e")
        false
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val stats = before.map { case (rddsBefore, mbBefore) =>
      PlanBridge.drainListenerBus(spark)
      val id = addSpan(parents.head, s"$layer.$name", startMs, startMs + wall * 1000)
      val jobs = jobSpans.asScala.toSeq
      jobs.foreach { case (j, s, e) => addSpan(id, s"spark.job.$j", s.toDouble, e.toDouble) }
      val phases = planPhases.asScala.toSeq
      phases.foreach { case (p, s, e) => addSpan(id, s"plan.$p", s.toDouble, e.toDouble) }
      val (rddsAfter, mbAfter) = storage()
      CallStats(
        planS = phases.map { case (_, s, e) => e - s }.sum / 1e3,
        jobs = jobs.size, stages = stages.get.toInt,
        jobWallS = Tracer.covered(jobs.map { case (_, s, e) => (s.toDouble, e.toDouble) }) / 1e3,
        taskS = runMs.get / 1e3, gcS = gcMs.get / 1e3,
        shuffleMb = shuffleBytes.get / 1048576.0,
        rddsBefore = rddsBefore, rddsAfter = rddsAfter,
        mbBefore = mbBefore, mbAfter = mbAfter)
    }
    val c = Call(layer, name, group, wall, ok, stats)
    calls += c
    c
  }

  /** Spans as JSON lines; self time = span minus its children's union. */
  def spansJson(): Seq[String] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.sortBy(_.id).map { s =>
      val kids = children.get(s.id).fold(Seq.empty[Span])(_.toSeq).map(k =>
        (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      val self = (s.endMs - s.startMs) - Tracer.covered(kids)
      Json.obj(Seq("run" -> Json.str(runId), "id" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(math.max(0.0, self))))
    }
  }
}

object Tracer {
  /** Length of the union of [start, end] intervals. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
