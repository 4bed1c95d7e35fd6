package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the graft table catalog (one parquet per table).
  *
  * Mirrors gedixr's granule-directory input model (reference:
  * gedixr/extract.py:128-129 discovers granules under a root directory) with
  * a columnar catalog: every reader goes through `spark.read.parquet` so
  * Catalyst keeps scans pruned (ReadSchema) and predicates pushed
  * (PushedFilters). At cluster scale each "table" is a directory of many
  * parquet files; nothing here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalize the event-time column to a uniform TIMESTAMP (with local
    * time zone) regardless of how the parquet writer encoded it. This is
    * the ONE place the encoding rule lives (batch load, stream load, and
    * the CLI all call it); every downstream consumer — unix_micros,
    * withWatermark, the java.sql.Timestamp typed encoders, min/max
    * row-group stats — assumes plain TIMESTAMP.
    *
    * Two encodings appear in the wild:
    *  - int64 NANOS: Spark has no TIMESTAMP(NANOS) type; sessions set
    *    spark.sql.legacy.parquet.nanosAsLong=true and we rebuild micros
    *    with integer `div` (not `/`) — int64 nanos overflow double's
    *    53-bit mantissa.
    *  - timestamp[us] WITHOUT isAdjustedToUTC (pandas/pyarrow default):
    *    Spark reads it as TIMESTAMP_NTZ. Under the session's pinned UTC
    *    time zone (sessionConfs) the NTZ→TIMESTAMP cast is an exact
    *    relabeling of the same micros value — no wall-clock shift.
    * No-op when the column is already TIMESTAMP. */
  def normalizeNanosTs(df: DataFrame, tsCol: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    if (!df.schema.fieldNames.contains(tsCol)) df
    else df.schema(tsCol).dataType match {
      case LongType =>
        df.withColumn(tsCol,
          org.apache.spark.sql.functions.expr(s"timestamp_micros($tsCol div 1000)"))
      case TimestampNTZType =>
        df.withColumn(tsCol, df(tsCol).cast(TimestampType))
      case _ => df
    }
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeNanosTs(df, "ts") else df
  }

  /** Streaming read of a catalog table (file-source streaming over the
    * same parquet, same ts normalization as the batch path) — the input
    * for §2.4's incremental plans. Schema comes from the batch footer. */
  def loadStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val batchSchema = spark.read.parquet(s"$dir/$name.parquet").schema
    val df = spark.readStream.schema(batchSchema).parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeNanosTs(df, "ts") else df
  }

  /** Session settings every graft entrypoint should apply.
    *
    * `fs.file.impl` makes every `file:` read and write go through
    * [[graft.sources.NioLocalFileSystem]]: the same checksummed local
    * filesystem, permission bits and commit protocol as Hadoop's, minus
    * the `chmod` process the stock one forks per created file and
    * directory when Hadoop's native library is absent. `FileSystem.get`
    * caches one instance per scheme (not per conf), so this takes effect
    * because every entrypoint builds its session before it touches
    * `file:`. */
  val sessionConfs: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.hadoop.fs.file.impl" -> classOf[graft.sources.NioLocalFileSystem].getName)
}
