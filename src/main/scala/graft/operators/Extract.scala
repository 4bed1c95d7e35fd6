package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spark-first re-expression of gedixr's extraction stage (reference:
  * gedixr/extract.py). All ops here are narrow (no shuffle) and stay inside
  * WholeStageCodegen; filters and projections push down to the parquet scan,
  * so at 100 TB the whole extract pipeline is a single scan stage.
  */
object Extract {

  /** Variable mapping `(outName <- source column)` — ref extract.py:280-294
    * and constants.py DEFAULT_VARIABLES/DEFAULT_BASE. Pure projection →
    * column pruning reaches the scan (ReadSchema shrinks). */
  def selectVariables(df: DataFrame, vars: Seq[(String, String)]): DataFrame =
    df.select(vars.map { case (out, src) => col(src).as(out) }: _*)

  /** Beam/category selection — ref extract.py:112-119, constants.py:10-11
    * (power/coverage beam groups). An `isin` predicate, pushed to the scan. */
  def beamFilter(df: DataFrame, beamCol: String, beams: Seq[String]): DataFrame =
    df.filter(col(beamCol).isin(beams: _*))

  /** Month-of-year range filter — ref extract.py:137-146. Normalizes a
    * swapped (hi, lo) range exactly like the reference does. */
  def monthFilter(df: DataFrame, tsCol: String, range: (Int, Int)): DataFrame = {
    val (lo, hi) = if (range._1 > range._2) (range._2, range._1) else range
    df.filter(month(col(tsCol)).between(lo, hi))
  }

  /** Granule filename date contract — ref extract.py:232-236: `[AB]_` +
    * 13 digits in `%Y%j%H%M%S` (day-of-year) format. ONE definition,
    * shared by the column-side parse below and Ingest's driver-side
    * month pruning, so the two paths can't desynchronize. */
  val granuleIdDatePattern: String = "[AB]_([0-9]{13})"
  val granuleDateFormat: String = "yyyyDDDHHmmss"
  /** The same two, compiled once for the driver-side parse. */
  val granuleIdDateRegex: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(granuleIdDatePattern)
  val granuleDateFormatter: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern(granuleDateFormat)

  /** Acquisition-time parse out of a granule id (column side). */
  def granuleDate(id: Column): Column =
    to_timestamp(regexp_extract(id, granuleIdDatePattern, 1), granuleDateFormat)

  /** Shot-number canonicalization: zero-pad to 18 chars — ref
    * extract.py:287-290. */
  def padShot(c: Column): Column = lpad(c.cast("string"), 18, "0")

  /** Stamp each row with the acquisition time its granule id names — ref
    * extract.py:299 (`gdf['acq_time'] = acq_time`). Ingest stamps a
    * driver-local frame of the granule ids, so the parse runs once per
    * granule and the value rides that granule's shots. */
  def stampAcqTime(df: DataFrame, granuleIdCol: String): DataFrame =
    df.withColumn("acq_time", granuleDate(col(granuleIdCol)))

  /** rh-percentile extraction: `round(rh[idx] * 100)` from an array layer —
    * ref extract.py:281-286. `idx` is 1-based; ANSI-safe for idx within the
    * array length. */
  def rhPercentile(arr: Column, idx: Int): Column =
    round(element_at(arr, idx).cast("double") * 100.0).cast("long")

  /** The default quality predicate — ref extract.py:303-339
    * `_filter_quality`: `quality_flag == 1 & degrade_flag == 0 &
    * num_detectedmodes > 0 & abs(elev - elev_dem_tdx) < 100`. */
  val qualityPred: Column =
    col("quality_flag") === 1 &&
      col("degrade_flag") === 0 &&
      col("num_detectedmodes") > 0 &&
      abs(col("elev") - col("elev_dem_tdx")) < 100.0

  /** Default quality filter — keep qualityPred rows, then drop the two
    * flag columns. Conjunctive predicates push to the scan; zero-shuffle
    * at any scale. */
  def qualityFilter(df: DataFrame): DataFrame =
    df.filter(qualityPred).drop("quality_flag", "degrade_flag")
}
