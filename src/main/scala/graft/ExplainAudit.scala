package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Dumps formatted physical plans for the headline queries into a markdown
  * file — the ".explain and iterate" audit artifact (run as
  * `runMain graft.ExplainAudit <sfDir> <outFile>`). Each plan should show:
  * PushedFilters/ReadSchema pruning on scans, BroadcastHashJoin on dims,
  * no Exchange under bucketed merges, partial aggregation before shuffles.
  */
object ExplainAudit {

  /** EVERY declared query, derived from the registry itself — a
    * hand-maintained list drifted to 71 of 104 by round 6, silently
    * exempting a third of the board from the plan audit. Derivation
    * makes drift impossible; ExtensionsSpec pins the equality anyway so
    * a reintroduced manual list fails loudly. */
  def audited: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  def main(args: Array[String]): Unit = {
    // no default output: a bare run must not overwrite some earlier audit
    val (sfDir, out) = args match {
      case Array(sfDir, out) => (sfDir, out)
      case _ => throw new IllegalArgumentException(
        "ExplainAudit: the data directory and the output file are required " +
          s"(usage: ExplainAudit <sfDir> <out.md>), got ${args.length} argument(s)")
    }
    val builder = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
    Tables.sessionConfs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# Physical-plan audit (generated by graft.ExplainAudit)\n\n")
    sb.append(s"Data: `$sfDir`. Things to check per plan: PushedFilters / " +
      "ReadSchema on every parquet scan, BroadcastHashJoin for dimension " +
      "joins, partial_ aggregates before exchanges, WholeStageCodegen " +
      "spans covering the operator pipeline.\n")
    audited.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = org.apache.spark.sql.graftbridge.PlanBridge.stripTopSort(df)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
        // giant binary literals (e.g. the q_bloom_prune bloom bitmap)
        // would bury the plan shape under KBs of hex — elide them
        .replaceAll("0x[0-9A-Fa-f]{120,}", "0x<literal elided>")
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}
