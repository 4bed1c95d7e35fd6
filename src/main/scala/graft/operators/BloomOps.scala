package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter join pruning — the pattern behind Spark's own runtime row
  * filtering (InjectRuntimeFilter), exposed as an explicit operator so a
  * pipeline can prune a 100 TB fact scan against a keyed dimension BEFORE
  * any shuffle happens.
  *
  * Shape: build one bloom filter over the dimension keys (a distributed
  * treeAggregate — only the ~KB filter reaches the driver, never the
  * keys), probe it in the fact's scan stage with Spark's native
  * codegen'd [[BloomFilterMightContain]] expression (no UDF), then run
  * the EXACT semi-join on the survivors. The bloom admits false
  * positives only, so the final result is exactly the semi-join — the
  * filter just shrinks the join's shuffle input by ~(1 - selectivity).
  *
  * At 100 TB: a 1% -selective dimension turns a full fact shuffle into a
  * ~1% shuffle for the cost of one broadcast-sized bitmap in the task
  * closure — the same economics that make Spark's automatic runtime
  * filtering its highest-leverage AQE-era optimization, but available
  * deterministically and to non-equi downstreams.
  */
object BloomOps {

  /** Exact left-semi join of `fact` against `dim`, bloom-pruned.
    *
    * @param expectedItems sizing for the bloom (≥ distinct dim keys keeps
    *   the realized fpp at or under `fpp`)
    * @param fpp target false-positive rate; survivors ≈ matches +
    *   fpp × non-matches */
  def bloomSemiJoin(fact: DataFrame, dim: DataFrame,
                    factKey: String, dimKey: String,
                    expectedItems: Long, fpp: Double = 0.03): DataFrame = {
    // The bloom insert and the probe must run the SAME encoding of the key:
    // stat.bloomFilter over a raw column putLong's integral types but
    // putBinary's strings, while BloomFilterMightContain only probes with
    // mightContainLong — mixing them silently rejects every true string
    // match. So, like Spark's own InjectRuntimeFilter, BOTH sides go
    // through xxhash64 first: the bloom is built over xxhash64(dimKey)
    // (a long → putLong) and the probe is xxhash64(factKey) — consistent
    // for any key type. Hash inputs must be the same type on both sides
    // (xxhash64 is type-sensitive: 5L and "5" hash differently).
    require(fact.schema(factKey).dataType == dim.schema(dimKey).dataType,
      s"bloomSemiJoin keys must have identical types: " +
        s"${fact.schema(factKey).dataType} vs ${dim.schema(dimKey).dataType}")
    val bf = dim.stat.bloomFilter(xxhash64(col(dimKey)), expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val might = PlanBridge.column(BloomFilterMightContain(
      Literal.create(bos.toByteArray, BinaryType),
      PlanBridge.expression(xxhash64(col(factKey)))))
    fact.filter(col(factKey).isNotNull && might)
      .join(dim, fact(factKey) === dim(dimKey), "left_semi")
  }

  /** Bloom false-positive-rate AUDIT — the measure-don't-assume stance
    * applied to [[bloomSemiJoin]]'s pruning economics (the q_lsh_recall
    * convention: the engine PRICES its own approximation): build the
    * bloom over `insert`'s keys, probe it with `probe`'s keys that are
    * provably NOT inserted (exact anti-join inside the operator), and
    * report the observed false-positive rate against the configured
    * target.
    *
    * Oracle face (the q_hll_distinct convention): the bloom's bit
    * pattern is Spark-internal, so the observed count cannot be
    * DuckDB-reproduced — the output carries exact hash-verified
    * companions (n_inserted, n_probed) plus `within_bound`, computed
    * from the Spark sketch against 3x the configured fpp, while the
    * oracle emits literal TRUE: if the realized rate ever drifts past
    * the bound, the flag flips and the driver's hash goes red.
    *
    * Output: one row (n_inserted, n_probed, within_bound). */
  def bloomFprAudit(insert: DataFrame, probe: DataFrame, insertKey: String,
                    probeKey: String, expectedItems: Long,
                    fpp: Double = 0.03): DataFrame = PlanBridge.scoped {
    require(insert.schema(insertKey).dataType == probe.schema(probeKey).dataType,
      "bloomFprAudit keys must have identical types")
    val ins = insert.select(col(insertKey).as("k")).filter(col("k").isNotNull)
      .distinct().transform(PlanBridge.localCheckpoint) // reused: build + the anti-join
    val bf = ins.stat.bloomFilter(xxhash64(col("k")), expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val might = PlanBridge.column(BloomFilterMightContain(
      Literal.create(bos.toByteArray, BinaryType),
      PlanBridge.expression(xxhash64(col("k")))))
    val negatives = probe.select(col(probeKey).as("k")).filter(col("k").isNotNull)
      .distinct()
      .join(ins, Seq("k"), "left_anti")
      .transform(PlanBridge.localCheckpoint) // counted twice: total + false positives
    val stats = negatives.agg(count(lit(1)).as("n_probed"),
      sum(when(might, 1L).otherwise(0L)).as("n_false"))
    ins.agg(count(lit(1)).as("n_inserted"))
      .crossJoin(stats)
      .select(col("n_inserted"), col("n_probed"),
        (col("n_probed") === 0L ||
          col("n_false").cast("double") <=
            col("n_probed").cast("double") * (fpp * 3)).as("within_bound"))
  }
}
