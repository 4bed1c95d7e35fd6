package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (sf0.001 test data). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides so no event of an earlier test leaks in). */
  protected def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.sql.graftbridge.PlanBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      body
      org.apache.spark.sql.graftbridge.PlanBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val builder = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val s = builder.getOrCreate()
    graft.plans.GraftExtensions.register(s)
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
