package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

/** The query catalog as the board workload sees it: every
  * `SparkEntry.queries` entry, its catalog group, and the committed
  * expectation (row count + order-insensitive content hash) at sf0.1. */
object Board {
  /** The sf0.1 catalog tables, as the repository's TESTDATA.md lists them
    * (runs start from the repository root). */
  lazy val sfDir: String = {
    val row = """\|\s*0\.1\s*\|\s*`([^`]+)`""".r
    Files.readAllLines(Paths.get("TESTDATA.md")).asScala
      .flatMap(l => row.findFirstMatchIn(l).map(_.group(1))).headOption
      .getOrElse(sys.error("TESTDATA.md lists no sf0.1 tables")).stripSuffix("/")
  }

  val groups: Seq[(String, Seq[graft.queries.Q])] = {
    import graft.queries._
    Seq("core" -> CoreQueries.defs, "analytics" -> AnalyticsQueries.defs,
      "temporal" -> TemporalQueries.defs, "text" -> TextQueries.defs,
      "dedup" -> DedupQueries.defs, "similarity" -> SimilarityQueries.defs,
      "source" -> SourceQueries.defs, "eval" -> EvalQueries.defs,
      "audit" -> AuditQueries.defs)
  }
  lazy val groupOf: Map[String, String] =
    groups.flatMap { case (g, qs) => qs.map(_.name -> g) }.toMap

  /** Row count and an order-insensitive content hash: the decimal sum of
    * per-row xxhash64 over normalized columns. Floating values are
    * compared at 10 significant digits, so last-bit differences in
    * reduction order cannot fail a correct query. */
  def contentHash(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
      case _: ArrayType | _: MapType | _: StructType => to_json(c)
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f =>
      norm(col("`" + f.name.replace("`", "``") + "`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("_h"))
      .agg(count(lit(1)), sum(col("_h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).fold("0")(_.toPlainString))
  }

  def noop(df: DataFrame): Unit =
    PlanBridge.stripTopSort(df).write.format("noop").mode("overwrite").save()

  /** The board_sample pool: bit-stable queries whose calibrated warm time
    * is at most this (the sub-second tail of the board), plus each catalog
    * group's fastest stable query, so that every group is represented. */
  val PoolMaxS = 0.2

  def pool(expect: Seq[Expect]): Seq[Expect] =
    expect.filter(e => e.stable && e.calibS > 0).groupBy(_.group).toSeq.sortBy(_._1)
      .flatMap { case (_, es) =>
        val sorted = es.sortBy(e => (e.calibS, e.name))
        sorted.head +: sorted.tail.filter(_.calibS <= PoolMaxS)
      }

  /** Full (sorted) output of each named query, for the DuckDB cross-check
    * (perfbench/oracle_xcheck.py), plus every oracle's SQL. */
  private def dumpDir(expectPath: String) =
    Paths.get(expectPath).toAbsolutePath.getParent.getParent.resolve(".bench_out/calibrate")
  private def dumpOne(spark: SparkSession, dir: java.nio.file.Path, sf: String,
                      name: String): Unit =
    graft.SparkEntry.queries(name)(spark, sf).coalesce(1).write.mode("overwrite")
      .parquet(dir.resolve(name).toString)
  private def writeOracles(dir: java.nio.file.Path): Unit = {
    Files.createDirectories(dir)
    Files.writeString(dir.resolve("oracle_sql.json"), Json.obj(
      graft.SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
  }

  /** Maintenance: dump the outputs of the pool's queries only. */
  def dumpPool(spark: SparkSession, expectPath: String): Unit = {
    val dir = dumpDir(expectPath)
    val names = pool(readExpect(expectPath)).map(_.name)
    names.foreach(n => dumpOne(spark, dir, sfDir, n))
    writeOracles(dir)
    println(s"""{"dumped":${names.size}}""")
  }

  final case class Expect(name: String, group: String, calibS: Double,
                          rows: Long, hash: String, stable: Boolean)

  def readExpect(path: String): Seq[Expect] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    root.fieldNames().asScala.toSeq.map { n =>
      val q = root.get(n)
      Expect(n, q.get("group").asText, q.get("calib_s").asDouble,
        q.get("rows").asLong, q.get("hash").asText, q.get("stable").asBoolean)
    }
  }

  /** Maintenance: run every catalog query once, record its time, row
    * count and content hash (twice, to find queries whose output is not
    * bit-stable), dump outputs for the DuckDB cross-check, and rewrite
    * the expectation file. Queries slower than `MaxCalibS` on the first
    * pass are recorded without a hash (they never enter the sample). */
  def calibrate(spark: SparkSession, expectPath: String): Unit = {
    val MaxCalibS = 3.0
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sfDir
    require(Files.isDirectory(Paths.get(sf)), s"missing catalog tables at $sf")
    val dir = dumpDir(expectPath)
    val entries = graft.SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      def secs(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val first = try secs(dumpOne(spark, dir, sf, name)) catch {
        case e: Throwable => System.err.println(s"[calibrate] $name failed: $e"); -1.0
      }
      val entry =
        if (first < 0 || first > MaxCalibS)
          Seq("calib_s" -> Json.num(if (first < 0) -1.0 else first), "rows" -> "-1",
            "hash" -> Json.str(""), "stable" -> "false")
        else {
          val t = (1 to 2).map(_ => secs(noop(fn(spark, sf)))).min
          val (r1, h1) = contentHash(PlanBridge.stripTopSort(fn(spark, sf)))
          val (r2, h2) = contentHash(PlanBridge.stripTopSort(fn(spark, sf)))
          Seq("calib_s" -> Json.num(t), "rows" -> r1.toString, "hash" -> Json.str(h1),
            "stable" -> (r1 == r2 && h1 == h2).toString)
        }
      System.err.println(s"[calibrate] $name first=$first ${entry.map(_._2).mkString(" ")}")
      name -> Json.obj(("group" -> Json.str(groupOf.getOrElse(name, "other"))) +: entry)
    }
    writeOracles(dir)
    val body = Json.obj(Seq(
      "cores" -> spark.sparkContext.defaultParallelism.toString,
      "queries" -> entries.map { case (k, v) => s"\n  ${Json.str(k)}:$v" }
        .mkString("{", ",", "\n}")))
    Files.writeString(Paths.get(expectPath), body + "\n")
    println(s"""{"calibrated":${entries.size}}""")
  }
}

/** `board_sample`: a group-stratified sample of the catalog's sub-second
  * queries, run in a seeded order as one interactive session (closed
  * loop, one client) — each query's top sort stripped and its output sent
  * to a `noop` sink, as in `graft.Bench`. */
final class BoardSample(expectPath: String, seed: Long) extends Workload {
  /** Strata of this many calibrated-time neighbours inside a group; the
    * middle query of each stands for its stratum. The set is the same for
    * every seed (a seed-drawn set moved the tail metric by which queries
    * it drew); the seed sets the session order. */
  val Stratum = 3

  private val expect = Board.readExpect(expectPath)
  private val sfDir = Board.sfDir
  private val byName = expect.map(e => e.name -> e).toMap
  private val fns = graft.SparkEntry.queries

  val sample: Seq[String] = {
    val rng = new Rng(seed)
    val picked = Board.pool(expect.filter(e => fns.contains(e.name)))
      .groupBy(_.group).toSeq.sortBy(_._1)
      .flatMap { case (_, es) =>
        es.sortBy(e => (e.calibS, e.name)).grouped(Stratum).map(s => s(s.size / 2).name)
      }
    rng.shuffle(picked) // seeded session order
  }
  /** The cold first iteration: the three fastest stable queries of the
    * catalog, the same for every seed. */
  private val first: Seq[String] =
    expect.filter(e => e.stable && e.calibS > 0).sortBy(e => (e.calibS, e.name)).take(3).map(_.name)

  def itemsPerUnit: Double = sample.size

  def generate(spark: SparkSession): Unit = {
    require(Files.isDirectory(Paths.get(sfDir)), s"missing catalog tables at $sfDir")
    System.err.println(s"[perfbench] board_sample: ${sample.size} queries: ${sample.mkString(",")}")
  }

  private def run(spark: SparkSession, t: Tracer, name: String)(body: DataFrame => Unit): Call =
    t.call("queries", name, byName(name).group)(body(fns(name)(spark, sfDir)))

  override def cold(spark: SparkSession, t: Tracer): Unit =
    first.foreach(n => run(spark, t, n)(Board.noop))

  /** Hashes every sampled query once. */
  def check(spark: SparkSession, t: Tracer): Seq[String] = {
    val problems = sample.flatMap { n =>
      var got: (Long, String) = (-1L, "")
      val c = run(spark, t, n)(df => got = Board.contentHash(PlanBridge.stripTopSort(df)))
      val e = byName(n)
      // a query that threw is already counted as a failed call
      if (!c.ok) None
      else if (got != ((e.rows, e.hash))) Some(s"$n: rows/hash $got, expected ${(e.rows, e.hash)}")
      else None
    }
    problems
  }

  /** One pass over the sample, in the seeded session order. */
  def unit(spark: SparkSession, t: Tracer): Unit =
    sample.foreach(n => run(spark, t, n)(Board.noop))

  def probes(spark: SparkSession, t: Tracer, m: mutable.Map[String, Double]): Seq[String] = Nil
}
