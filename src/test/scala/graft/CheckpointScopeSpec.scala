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
