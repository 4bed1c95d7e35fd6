package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.PlanBridge
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump every query; a query whose plan THROWS still produces an output
    * directory — a one-row parquet whose only column is `_verify_error`
    * (the exception message). The driver's compare then surfaces it as a
    * loud schema/hash mismatch instead of the query silently vanishing
    * from the board (round 7 shipped 141 rows for 146 queries because
    * five broken plans dumped nothing). Returns name → error message for
    * the failures; also written to `outDir/verify_errors.json`. Each
    * query runs in its own checkpoint scope; stderr names every query
    * that still leaves an RDD it persisted. */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  queries: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, String] = {
    import spark.implicits._
    var leaky = Seq.empty[String]
    val errs = queries.flatMap { case (name, fn) =>
      try {
        val (_, left) = PlanBridge.persistedAfter(spark)(PlanBridge.scoped(
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")))
        if (left.nonEmpty) leaky :+= name
        None
      } catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
        System.err.println(s"[verify] $name FAILED: $msg")
        Seq(msg).toDF("_verify_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        Some(name -> msg)
      }
    }
    System.err.println(s"[verify] ${leaky.size} of ${queries.size} queries left " +
      s"persisted RDDs ${leaky.sorted.mkString(" ")}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      errs.map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }
        .mkString("{", ",", "}"))
    errs
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness. */
  def jsonQuote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset (driver leaves it unset): comma-separated query names
    // to dump — oracle_sql.json still carries every oracle so the local
    // checker just compares the dumped subset.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    dumpQueries(spark, sfDir, outDir,
      SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jsonQuote(k)}: ${jsonQuote(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
