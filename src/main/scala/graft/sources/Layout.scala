package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

import graft.Tables

/** Generic range-clustered parquet layout — the non-spatial sibling of
  * GeoOps.writeSpatiallyClustered and the mechanism behind lakehouse
  * "liquid clustering": `repartitionByRange` + in-partition sort on the
  * clustering key(s) makes every output file cover a NARROW key range,
  * so its parquet footer min/max stats let range predicates prune whole
  * files/row groups at scan time. No index structure, no maintenance —
  * just data layout plus ordinary parquet statistics.
  *
  * The time-series instance (cluster by event time) is the most common
  * 100 TB win: a last-day query over a year of history reads ~1/365 of
  * the files instead of all of them. `files` ≈ dataset size / 128 MB at
  * the target scale; one range-exchange is the write-time cost.
  */
object Layout {

  def writeRangeClustered(df: DataFrame, outDir: String, files: Int,
                          cols: Column*): Unit = {
    // Spark's default INT96 parquet timestamps carry NO usable min/max
    // statistics, so a time-range predicate cannot prune INT96 files —
    // silently defeating this layout for the most common clustering key.
    // The setting is session-conf-only (no per-write option exists), so
    // set-and-restore around the write rather than session-wide:
    // MICROS+UTC reads back timezone-aware in pandas-based tooling,
    // which the oracle compare path must not see on other outputs.
    val spark = df.sparkSession
    val key = "spark.sql.parquet.outputTimestampType"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try df.repartitionByRange(files, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(outDir)
    finally spark.conf.set(key, prev)
  }

  /** Dynamic-partition overwrite — the incremental BACKFILL primitive:
    * overwrite mode replaces ONLY the partition directories present in
    * `df`, leaving every other partition untouched (static overwrite —
    * Spark's default — would truncate the whole table first). This is
    * how a day's corrected data lands in a date-partitioned 100 TB table
    * without rewriting the year: the job's cost is proportional to the
    * batch, not the table. Set-and-restore scoped like the clustered
    * write (partitionOverwriteMode is session-conf-only). */
  def overwritePartitions(df: DataFrame, outDir: String,
                          partitionCols: String*): Unit = {
    val spark = df.sparkSession
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "dynamic")
    try df.write.mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(outDir)
    finally spark.conf.set(key, prev)
  }

  /** Small-file compaction — the table-maintenance pass every streaming
    * or incremental ingest needs: micro-batches leave thousands of
    * KB-sized files whose per-file open/footer/seek overhead dominates
    * scans long before data volume does. Rewrites `inDir` into
    * ceil(bytes / targetFileBytes) files (coalesce — no shuffle; the
    * read is the only cost) into `outDir`, then atomically it is the
    * caller's swap (write-new + repoint, the same snapshot discipline as
    * EventStreams.upsertParquet — compaction must never overwrite the
    * directory a reader may be scanning).
    *
    * Returns (filesBefore, filesAfter). Sizing reads the file listing,
    * not the data. */
  def compact(spark: org.apache.spark.sql.SparkSession, inDir: String,
              outDir: String, targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val in = new org.apache.hadoop.fs.Path(inDir)
    val fs = in.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(in)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val totalBytes = parts.map(_.getLen).sum
    val files = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    Tables.readParquet(spark, inDir)
      .coalesce(files)
      .write.mode("overwrite").parquet(outDir)
    (parts.length, files)
  }
}
