package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** 2-D Pareto-frontier (skyline) operator (SURVEY §2.2): the rows not
  * dominated by any other row, where q dominates p when q is no worse in
  * both dimensions and strictly better in at least one (minimize `minCol`,
  * maximize `maxCol`) — the classic price/quality shortlist query.
  *
  * The naive formulation is a quadratic NOT EXISTS self-join (that IS the
  * DuckDB oracle). The distributed plan is linear + one tiny window:
  *
  *  1. group by `minCol`: only the max-`maxCol` row at each price can
  *     survive (a same-price row with smaller size is strictly dominated),
  *     so the frontier computation runs on the DISTINCT-price frame;
  *  2. range-partition that frame by price and compute, per row, the max
  *     size over all STRICTLY smaller prices as
  *     max(within-partition running max over the preceding rows,
  *         prefix max over preceding partitions) — the per-partition
  *     maxima are a partitions-sized frame whose prefix-max window is the
  *     only single-task step (≤ numPartitions rows);
  *  3. keep rows whose size strictly exceeds that bound (survivors), then
  *     semi-join the original table back on (price, size) to re-attach
  *     full rows, preserving duplicate frontier rows.
  *
  * The result is partitioning-invariant: step 2's bound equals the global
  * "max size at any strictly smaller price" regardless of where the range
  * boundaries land, so repartitionByRange's sampled boundaries never
  * change the answer. At 100 TB the fact table shuffles once (the groupBy;
  * map-side combined), the distinct-price frame once — nothing quadratic
  * anywhere.
  */
object SkylineOps {

  def skyline2D(df: DataFrame, minCol: String, maxCol: String,
                numPartitions: Int = 8): DataFrame = PB.scoped {
    // the frontier compares maxCol as int64 — a fractional type would be
    // silently truncated, changing dominance for rows that differ only in
    // the fraction; fail loudly instead
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val t = df.schema(maxCol).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
      s"skyline2D needs an integral max column; '$maxCol' is $t " +
        "(scale fractional values to integers first, e.g. cents)")
    // Null-key rows are EXCLUDED from the skyline, on both sides of the
    // operator: the final equality semi-join can never re-attach them
    // (null === null is not true), and without this filter a null _price
    // group would sort FIRST in the range partition, inject its _msize
    // into the running/prefix max, and falsely dominate real rows — rows
    // a NOT-EXISTS formulation (where null comparisons are not-true and
    // dominate nothing) would keep.
    val nn = df.filter(col(minCol).isNotNull && col(maxCol).isNotNull)
    // materialized once: the local-runmax and partition-maxima branches
    // both read this frame, and without the checkpoint Spark re-derives
    // the groupBy subtree (a second fact scan + shuffle) per consumer
    val ranged = nn.groupBy(col(minCol).as("_price"))
      .agg(max(col(maxCol).cast("long")).as("_msize"))
      .repartitionByRange(numPartitions, col("_price"))
      .withColumn("_pid", spark_partition_id())
      .transform(PB.localCheckpoint)
    val wLocal = Window.partitionBy(col("_pid")).orderBy(col("_price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = ranged.withColumn("_lmax", max(col("_msize")).over(wLocal))
    val pmax = local.groupBy(col("_pid")).agg(max(col("_msize")).as("_pmax"))
    val wPrefix = Window.orderBy(col("_pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = pmax
      .withColumn("_prevmax", max(col("_pmax")).over(wPrefix))
      .select(col("_pid"), col("_prevmax"))
    val frontier = local.join(broadcast(prefix), "_pid")
      .filter(coalesce(greatest(col("_lmax"), col("_prevmax")), lit(Long.MinValue))
        < col("_msize"))
      .select(col("_price"), col("_msize"))
    df.join(frontier,
        df(minCol) === col("_price") && df(maxCol).cast("long") === col("_msize"),
        "left_semi")
  }
}
