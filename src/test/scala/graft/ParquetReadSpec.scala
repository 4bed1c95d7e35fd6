package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType}

import graft.operators.Similarity

/** `Tables.readParquet` reads the schema `spark.read.parquet` infers —
  * same fields, order, types and nullability — from one footer on the
  * driver, without the Spark job that inference runs. */
class ParquetReadSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_pq").toString

  private def assertParity(path: String): Unit = {
    var got: StructType = null
    assert(jobsDuring { got = Tables.readParquet(spark, path).schema } === 0, path)
    assert(got === spark.read.parquet(path).schema, path)
  }

  test("every catalog table at sf0.001 and sf0.01") {
    for (dir <- Seq(sfDir, sfDir.replace("sf0.001", "sf0.01")); t <- Tables.all)
      assertParity(s"$dir/$t.parquet")
    // the catalog's event time is timestamp[us] without UTC adjustment,
    // written without a Spark schema: the converter's NTZ inference applies
    assert(Tables.readParquet(spark, s"$sfDir/events.parquet").schema("ts").dataType ===
      TimestampNTZType)
  }

  test("timestamp[us] without UTC adjustment reads as NTZ, int64 nanos as long, without a Spark schema") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(MICROS,false)); " +
        "optional int64 ns (TIMESTAMP(NANOS,true)); }")
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup()
      .append("id", 1L).append("ts", 1000L).append("ns", 1000000L))
    finally w.close()
    assertParity(dir)
    val got = Tables.readParquet(spark, dir).schema
    assert(got("ts").dataType === TimestampNTZType && got("ns").dataType === LongType)
  }

  test("CLI outputs: pipeline --aoi's aoi= partitions and a plain output with _SUCCESS and .crc files") {
    val base = tmp()
    CliSpec.pipelineAoi(base)
    assertParity(s"$base/out")
    assert(Tables.readParquet(spark, s"$base/out").columns.last === "aoi")
    Cli.run(spark, "extract", Map(
      "input" -> s"$sfDir/lineitem.parquet", "output" -> s"$base/plain",
      "vars" -> "okey=l_orderkey,qty=l_quantity"))
    val names = Files.list(Paths.get(base, "plain")).iterator.asScala
      .map(_.getFileName.toString).toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertParity(s"$base/plain")
  }

  test("the cell-partitioned IVF index and its _meta and _centroids siblings") {
    val dir = tmp() + "/ivf"
    Similarity.writeIvfIndex(Tables.load(spark, sfDir, "embeddings"), dir)
    Seq(dir, s"$dir/_meta", s"$dir/_centroids").foreach(assertParity)
    assert(!Tables.readParquet(spark, dir).columns.contains("n_cells"))
  }

  test("a 0-row output, an _x=1 partition and files of differing schemas") {
    val base = tmp()
    spark.range(0).select(col("id"), lit("a").as("s")).write.parquet(s"$base/empty")
    assertParity(s"$base/empty")
    spark.range(6).select(col("id"), (col("id") % 2).as("_k"))
      .write.partitionBy("_k").parquet(s"$base/hidden_part")
    assertParity(s"$base/hidden_part")
    assert(Tables.readParquet(spark, s"$base/hidden_part").columns.toSeq === Seq("id", "_k"))
    // Spark reads the first data file in path order: whichever that is,
    // both readers pick the same one
    spark.range(3).select(col("id")).write.parquet(s"$base/mixed")
    spark.range(3).select(col("id"), lit(1.5).as("x")).write.mode("append").parquet(s"$base/mixed")
    assertParity(s"$base/mixed")
  }

  test("a _common_metadata or _metadata footer wins over the data files, as in Spark") {
    val base = tmp()
    spark.range(3).select(col("id"), lit("w").as("wide")).coalesce(1).write.parquet(s"$base/wide")
    val wideFile = Files.list(Paths.get(base, "wide")).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    for (summary <- Seq("_metadata", "_common_metadata")) {
      val dir = Paths.get(base, summary.drop(1))
      spark.range(3).select(col("id")).coalesce(1).write.parquet(dir.toString)
      Files.copy(wideFile, dir.resolve(summary))
      assertParity(dir.toString)
      assert(Tables.readParquet(spark, dir.toString).columns.toSeq === Seq("id", "wide"))
    }
  }

  test("a missing path and a directory without data files fail with Spark's own errors") {
    val missing = tmp() + "/missing"
    val empty = tmp()
    Files.writeString(Paths.get(empty, "_SUCCESS"), "")
    for ((path, condition) <- Seq(missing -> "PATH_NOT_FOUND", empty -> "UNABLE_TO_INFER_SCHEMA")) {
      val ours = intercept[AnalysisException](Tables.readParquet(spark, path))
      val spark0 = intercept[AnalysisException](spark.read.parquet(path))
      assert(ours.getCondition === condition)
      assert(ours.getMessage === spark0.getMessage)
    }
  }

  test("every parquet read under src/main/scala/graft goes through Tables.readParquet") {
    // a batch or streaming reader chain ending in .parquet( or naming the
    // parquet format; arguments may nest one level of parentheses
    val read = ("""\.read(Stream)?\b(\s*\.\s*\w+(\((?:[^()]|\([^()]*\))*\))?)*?""" +
      """\s*\.\s*(parquet\(|format\(\s*"parquet"\s*\))""").r
    def code(f: java.nio.file.Path): String =
      Files.readAllLines(f).asScala.map { l =>
        val t = l.trim
        if (t.startsWith("*") || t.startsWith("/*")) "" else l.replaceAll("//.*", "")
      }.mkString("\n")
    val files = Files.walk(Paths.get("src/main/scala/graft"))
    val hits = try files.iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && f.getFileName.toString != "Tables.scala")
      .flatMap { f =>
        val c = code(f)
        read.findAllMatchIn(c).map(m => s"$f:${c.take(m.start).count(_ == '\n') + 1}")
      }.toList
    finally files.close()
    assert(hits.isEmpty)
    // the scan sees Tables' own three reads: footer schema, Spark's
    // inference for an error, and the stream
    assert(read.findAllMatchIn(code(Paths.get("src/main/scala/graft/Tables.scala"))).size === 3)
    assert(read.findFirstIn("x.write.mode(\"overwrite\").parquet(p)").isEmpty)
  }
}
