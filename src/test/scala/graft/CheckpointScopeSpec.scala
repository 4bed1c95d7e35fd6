package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** `PlanBridge.scoped` is the one owner of localCheckpoint blocks: a scope
  * releases what its result does not read, hands the rest to the
  * enclosing scope, and releases everything on an exception. */
class CheckpointScopeSpec extends SparkSpec {

  /** Whether the RDD behind a checkpointed frame is still persisted. */
  private def persisted(df: DataFrame): Boolean = PB.analyzedPlan(df) match {
    case lr: LogicalRDD => spark.sparkContext.getPersistentRDDs.contains(lr.rdd.id)
    case other => fail(s"not a checkpoint: ${other.nodeName}")
  }

  private def ids(n: Long): DataFrame = spark.range(n).toDF("x")

  test("an intermediate the result does not read is released at exit; the result still collects") {
    var mid: DataFrame = null
    var kept: DataFrame = null
    val out = PB.scoped {
      mid = PB.localCheckpoint(ids(100))
      kept = PB.freshLocalCheckpoint(mid.filter(col("x") % 2 === 0))
      kept.select((col("x") * 2).as("y"))
    }
    assert(!persisted(mid))
    assert(persisted(kept))
    assert(out.agg(sum("y")).head.getLong(0) === 4900L)
  }

  test("a lazy shared checkpoint in the result keeps its unmaterialized parents") {
    var parent: DataFrame = null
    var unread: DataFrame = null
    var shared: DataFrame = null
    val out = PB.scoped {
      parent = PB.localCheckpoint(ids(50))
      unread = PB.localCheckpoint(ids(5))
      shared = PB.sharedLocalCheckpoint(parent.filter(col("x") < 10))
      shared.select(col("x"))
    }
    assert(persisted(shared) && persisted(parent))
    assert(!persisted(unread))
    // the first action materializes the shared checkpoint from its parent
    assert(out.count() === 10L)
  }

  test("a nested scope hands what it keeps to the outer one; an outer Unit scope releases it") {
    var innerMid: DataFrame = null
    var inner: DataFrame = null
    PB.scoped {
      val r = PB.scoped {
        innerMid = PB.localCheckpoint(ids(20))
        inner = PB.localCheckpoint(innerMid.select((col("x") + 1).as("x")))
        inner
      }
      assert(!persisted(innerMid))
      assert(persisted(inner))
      assert(r.count() === 20L)
      ()
    }
    assert(!persisted(inner))
  }

  test("an exception exit releases everything, frames handed up by inner scopes included") {
    var inner: DataFrame = null
    var own: DataFrame = null
    intercept[IllegalStateException](PB.scoped[DataFrame] {
      inner = PB.scoped(PB.localCheckpoint(ids(10)))
      own = PB.localCheckpoint(inner.filter(col("x") > 3))
      throw new IllegalStateException("boom")
    })
    assert(!persisted(inner))
    assert(!persisted(own))
  }

  test("with no active scope on the thread, nothing is registered") {
    val outside = PB.localCheckpoint(ids(10))
    var otherThread: DataFrame = null
    PB.scoped {
      // a scope releases only what was made inside it on its own thread
      assert(outside.count() === 10L)
      val t = new Thread(() => otherThread = PB.localCheckpoint(ids(7)))
      t.start()
      t.join()
    }
    assert(persisted(outside))
    assert(persisted(otherThread))
    assert(otherThread.count() === 7L)
  }

  test("release frees a superseded round inside a scope") {
    var first: DataFrame = null
    val out = PB.scoped {
      first = PB.localCheckpoint(ids(10))
      val second = PB.freshLocalCheckpoint(first.select((col("x") * 3).as("x")))
      PB.release(first)
      assert(!persisted(first))
      second
    }
    assert(out.agg(sum("x")).head.getLong(0) === 135L)
  }

  test("tasks still computing a lazy checkpoint report to live metrics (no lost accumulator updates)") {
    import spark.implicits._
    // louvain's sweep reads its lazy label checkpoints from AQE stages
    // that run as concurrent jobs; the first to finish truncates the
    // checkpoint's lineage while the others' tasks are still running. A
    // driver GC in that window used to collect the origin plan's SQL
    // metrics before those tasks reported them.
    def clique(ids: Seq[Long]) = for (i <- ids; j <- ids if i < j) yield (i, j)
    // built first: a session created after the appender is attached
    // would reconfigure logging and drop it
    val graphs = Seq(
      clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) :+ ((3L, 10L)),
      (0L until 120L).map(i => ((i * 7919L + 131L) % 28L, (i * 104729L + 37L) % 28L))
        .filter { case (a, b) => a != b })
      .map(_.toDF("a", "b"))
    val lost = new java.util.concurrent.atomic.AtomicInteger
    val appender = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "lost-accumulators", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.contains("Failed to update accumulator"))
          lost.incrementAndGet()
    }
    appender.start()
    val logger = org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[org.apache.logging.log4j.core.Logger]
    @volatile var collecting = true
    val gc = new Thread(() => while (collecting) { System.gc(); Thread.sleep(30) })
    gc.setDaemon(true)
    logger.addAppender(appender)
    gc.start()
    try {
      graphs.foreach(g => assert(graft.operators.GraphOps.louvain(g).collect().nonEmpty))
      PB.drainListenerBus(spark)
    } finally {
      collecting = false
      gc.join()
      logger.removeAppender(appender)
    }
    assert(lost.get === 0, "DAGScheduler lost task metrics of a collected accumulator")
  }

  test("every checkpoint in src/main/scala/graft is made and released through PlanBridge") {
    val direct = """\.(localCheckpoint|unpersist|persist|cache)\(""".r
    val files = Files.walk(Paths.get("src/main/scala/graft"))
    val hits = try files.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if direct.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
    finally files.close()
    assert(hits.isEmpty)
    assert(Files.exists(Paths.get("src/main/scala/graft/operators/GraphOps.scala")))
  }
}
