package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.functions.TextFunctions

/** Deduplication operators for the training-data pipeline (SURVEY §2.3):
  * exact hash dedup, MinHash+LSH candidate pairs, SimHash buckets, and
  * n-gram-Jaccard verification. The scale rule throughout: never shuffle
  * raw text, never build all-pairs — shuffle 8-byte hashes / band keys and
  * join only within buckets.
  */
object Dedup {

  /** Deterministic block THINNING for pairwise-verify queries blocked on
    * FIXED-CARDINALITY keys ((source), (source, lang), (brand, size) —
    * attribute blocking whose block COUNT does not grow with the corpus,
    * so block population and candidate pairs grow quadratically with it:
    * the r12 sf1 board measured 33–183× wall on 10× data across the
    * family). Each block keeps the rows whose portable id hash lands on
    * the 0 residue of step = ceil(n_block / cap): expected survivors
    * ≈ cap per block regardless of corpus size, so the within-block pair
    * volume is ~cap²/2 per block — CONSTANT at any scale. Blocks already
    * ≤ cap keep every row (step = 1) — bit-identical to no thinning,
    * spec-proven — so verify-scale results are unchanged and the cap
    * binds only where the quadratic would bite.
    *
    * vs the row_number cap ([[minhashCandidates]] maxBucket): a rank
    * window over a ~20-key blocking column would funnel corpus/20 rows
    * through one sort task — the exact funnel the window board gate
    * exists to catch. The hash-residue rule is a zero-window narrow
    * filter: one tiny block-count aggregate (|blocks| rows, broadcast)
    * joined back, then a codegen'd scan-stage predicate.
    *
    * The recall bill is the declared q_minhash_pairs convention: pairs
    * lost only inside over-cap blocks, the ORACLE MIRRORS THE RULE
    * (thinBlocksSql — same counts, same hash, same residue), and the
    * bill is corpus-dependent: thinning a block of n to ~cap keeps
    * ~(cap/n)² of its pairs. Size `cap` to the largest block the
    * verify-stage budget affords, and measure what the cap costs on a
    * block sample before trusting it at scale (the lshRecall stance). */
  def thinBlocks(df: DataFrame, blockCols: Seq[String], idCol: String,
                 cap: Int): DataFrame = {
    require(cap >= 1, "thinBlocks needs a positive cap")
    val counts = df.groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("_bn"))
    // fixed-cardinality keys by declaration -> counts is tiny; the
    // explicit broadcast is safe here (unlike vocab-scaled frames)
    df.join(broadcast(counts), blockCols)
      .filter(pmod(TextFunctions.charHash(col(idCol).cast("string")),
        expr(s"(_bn + ${cap - 1}) DIV $cap")) === 0)
      .drop("_bn")
  }

  /** DuckDB mirror of [[thinBlocks]] — identical counts, portable hash
    * and residue rule; returns a parenthesized subquery selecting every
    * column of `table` thinned. */
  def thinBlocksSql(table: String, blockCols: Seq[String], idExpr: String,
                    cap: Int): String = {
    val bc = blockCols.mkString(", ")
    val h = TextFunctions.charHashSql(s"CAST($idExpr AS VARCHAR)")
    s"(SELECT d.* FROM $table d JOIN " +
      s"(SELECT $bc, count(*) AS _bn FROM $table GROUP BY $bc) b " +
      s"USING ($bc) WHERE ($h) % ((_bn + ${cap - 1}) // $cap) = 0)"
  }

  /** Exact dedup: group on the 64-bit text hash (8-byte shuffle key — the
    * raw text never moves), keep the min id per group. At 100 TB this is
    * one map-side-combined shuffle of (hash, id) pairs. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))

  /** MinHash + banded-LSH near-duplicate *candidate* pairs: tokenize →
    * k-component MinHash signature → `bands` band keys → explode (one row
    * per (doc, band)) → self-join on (band, key) → distinct (a, b) pairs.
    *
    * Only (band, key, id) triples shuffle — ~bands×16 bytes/doc regardless
    * of document size — and the join degree is bounded by bucket size, not
    * corpus size (the all-pairs trap SURVEY §5 forbids).
    *
    * @param maxBucket skew guard for corpora with boilerplate-heavy hot
    *   buckets: each (band, key) bucket is truncated to its `maxBucket`
    *   lowest ids before pairing, bounding any bucket's join contribution
    *   to maxBucket^2 regardless of skew. None (default) = exact LSH
    *   semantics. THE CAP IS THE 100 TB PROFILE (and how q_minhash_pairs
    *   is declared, oracle mirroring the cap): real corpora have
    *   boilerplate buckets holding large corpus fractions (77% of docs
    *   share one bucket per band in the synthetic corpus), and an uncapped
    *   hot bucket is |bucket|² pairs in a single task. Recall is lost ONLY
    *   inside over-cap buckets — cap >= every bucket size is bit-identical
    *   to exact LSH (spec-proven), and truncated members stay pairable
    *   through their other bands. The recall bill is CORPUS-DEPENDENT and
    *   can be total for dups living inside one hot bucket — measure it
    *   with [[lshRecall]] whenever the cap or banding changes (on the
    *   synthetic corpus, cap 64 loses all six J ≥ 0.95 pairs). When the
    *   goal is grouping rather than pairwise scoring, use
    *   [[lshStarEdges]] + connectedComponents: exact semantics, linear
    *   in bucket size, no cap needed — the audit's recall_cluster
    *   measures that path keeping them. */
  /** Shared (id, keys, band, bkey) banding frame: token codes materialize
    * in their own projection so the O(chars) fold runs once per doc, not
    * once per signature component. Single source of the signature/banding
    * chain for candidate pairs AND star edges — the two must never
    * desynchronize. */
  private def bandedFrame(df: DataFrame, idCol: String, textCol: String,
                          k: Int, bands: Int): DataFrame = {
    val rowsPerBand = k / bands
    val keys = array((0 until bands).map(b =>
      TextFunctions.bandKey(col("sig"), b, rowsPerBand)): _*)
    df.select(col(idCol).as("id"), TextFunctions.tokenCodes(col(textCol)).as("codes"))
      .select(col("id"), TextFunctions.minhashSig(col("codes"), k).as("sig"))
      .select(col("id"), keys.as("keys"), posexplode(keys).as(Seq("band", "bkey")))
  }

  /** Emit each bucket-join pair only at the FIRST band whose keys
    * collide — distinct-by-construction, no global distinct over the
    * (quadratic) pair set (at sf0.1 that distinct was the single largest
    * shuffle in the whole suite). Flat per-band comparisons (bands are
    * plan-time constants) keep this inside codegen — the zip_with/exists
    * formulation is CodegenFallback and 3x slower. `joined` must carry
    * the x/y aliases of two banding frames (keys, band). ONE definition
    * for minhashCandidates, minhashIncrementIndexed and
    * simhashHammingPairs — the emit-once invariant cannot drift.
    * bands == 1 has no earlier band: the filter is vacuously true
    * (reduceLeft over an empty range would throw at plan build). */
  private def firstCollisionOnly(joined: DataFrame, bands: Int): DataFrame =
    if (bands <= 1) joined
    else joined.filter(!(0 until bands - 1).map { i =>
      col("x.band") > i &&
        element_at(col("x.keys"), i + 1) === element_at(col("y.keys"), i + 1)
    }.reduceLeft(_ || _))

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 16, bands: Int = 4,
                        maxBucket: Option[Int] = None): DataFrame = {
    val bandedAll = bandedFrame(df, idCol, textCol, k, bands)
    val banded = maxBucket match {
      case None => bandedAll
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey")).orderBy(col("id"))
        bandedAll.withColumn("_bn", row_number().over(w))
          .filter(col("_bn") <= cap).drop("_bn")
    }
    val joined = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.id") < col("y.id"))
    maxBucket match {
      case None =>
        firstCollisionOnly(joined, bands)
          .select(col("x.id").as("a"), col("y.id").as("b"))
      case Some(_) =>
        // With a bucket cap, key equality at an earlier band does NOT imply
        // that band emitted the pair (a member may have been truncated out
        // of that bucket), so the first-collision filter would drop pairs
        // that only survive in later bands. Deduplicate what was actually
        // emitted instead: the distinct is over capped buckets, bounded by
        // bands * maxBucket^2 per bucket — still never the all-pairs set.
        joined.select(col("x.id").as("a"), col("y.id").as("b")).distinct()
    }
  }

  /** Incremental near-dup admission: candidate pairs between a NEW batch
    * and the EXISTING corpus — the shape a continuously-curated corpus
    * actually runs (re-pairing the whole corpus per increment is the
    * quadratic-rebuild trap). Both sides run the SAME [[bandedFrame]]
    * signature/banding chain, so an increment admitted today collides
    * with tomorrow's increments exactly as if batched together.
    *
    * Scale shape: the corpus side's banding frame IS the persistable
    * signature index — bands×(two 8-byte keys + the k-component key
    * array) per doc, written once and appended per admitted increment;
    * corpus TEXT is never rescanned per increment (here it derives
    * inline; persist it partitioned by band at scale). The batch side is
    * increment-sized and broadcasts — the join never shuffles the corpus.
    * Uncapped, the first-collision-band trick emits each (corpus, new)
    * pair exactly once with no distinct pass. UNCAPPED is the right
    * default HERE, unlike [[minhashCandidates]]: a hot bucket costs
    * |corpus bucket| × |batch bucket| — LINEAR in corpus bucket size when
    * increments are small — and capping drops exactly the hot-bucket dups
    * an admission gate exists to catch (measured on the synthetic corpus:
    * cap 64 loses all five J ≥ 0.95 cross-boundary pairs). `maxBucket`
    * still caps the CORPUS side for large-batch replays, with the usual
    * measured-recall caveat ([[lshRecall]]) and a batch-bounded distinct.
    *
    * Output: (new_id, dup_of) candidate pairs — verify with
    * [[ngramJaccard]] before rejecting admissions. */
  def minhashIncrement(corpus: DataFrame, batch: DataFrame, idCol: String,
                       textCol: String, k: Int = 16, bands: Int = 4,
                       maxBucket: Option[Int] = None): DataFrame =
    minhashIncrementIndexed(signatureIndex(corpus, idCol, textCol, k, bands),
      batch, idCol, textCol, k, bands, maxBucket)

  /** The persistable corpus signature index: (id, keys, band, bkey) —
    * [[bandedFrame]] made public for write-once/append-per-increment use
    * (partition by band at scale). [[minhashIncrementIndexed]] consumes
    * it directly so increments never rescan corpus text. */
  def signatureIndex(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 16, bands: Int = 4): DataFrame =
    bandedFrame(df, idCol, textCol, k, bands)

  /** [[minhashIncrement]] against a PRE-BANDED corpus index (the
    * persisted-index fast path — and the streaming admission's state
    * shape). Same semantics, same first-collision emission. */
  def minhashIncrementIndexed(corpusIndex: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              k: Int = 16, bands: Int = 4,
                              maxBucket: Option[Int] = None): DataFrame = {
    val cb0 = corpusIndex
    val cb = maxBucket match {
      case None => cb0
      case Some(cap) =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey")).orderBy(col("id"))
        cb0.withColumn("_bn", row_number().over(w))
          .filter(col("_bn") <= cap).drop("_bn")
    }
    val bb = bandedFrame(batch, idCol, textCol, k, bands)
    val joined = cb.as("x").join(broadcast(bb).as("y"),
      col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.id") =!= col("y.id"))
    maxBucket match {
      case None =>
        firstCollisionOnly(joined, bands)
          .select(col("y.id").as("new_id"), col("x.id").as("dup_of"))
      case Some(_) =>
        // capped buckets break the first-collision invariant (see
        // minhashCandidates) — dedup what was emitted; the distinct is
        // batch × cap bounded, never corpus-sized
        joined.select(col("y.id").as("new_id"), col("x.id").as("dup_of"))
          .distinct()
    }
  }

  /** LSH recall audit — the honesty metric for the whole near-dup stack:
    * of the pairs EXACT n-gram Jaccard calls duplicates (computed
    * exhaustively inside blocking keys, the q_edit_verify stance), what
    * fraction does each production path surface?
    *
    *  - `recall_pairs`: the skew-capped PAIRWISE candidates
    *    ([[minhashCandidates]] with `maxBucket`). The cap bounds the
    *    hottest bucket's cost at cap² but loses every pair whose BOTH
    *    members rank past the cap in ALL their shared buckets — on a
    *    boilerplate-heavy corpus the true dups often sit exactly there
    *    (measured on the synthetic corpus: 0/6 at cap 64, because all
    *    six J ≥ 0.95 pairs live inside one 388-doc bucket).
    *  - `recall_cluster`: the CAPLESS star-contraction path
    *    ([[lshStarEdges]] → components, cost LINEAR in bucket size) —
    *    a truth pair counts when both ends land in one component. This
    *    is the path that keeps hot-bucket dups at scale, and the audit
    *    proves it on the same corpus (5/6; the residual miss is a
    *    genuine probabilistic LSH miss — absent from the uncapped
    *    pairwise set too — not cap loss).
    *
    * Run at test scale whenever k/bands/maxBucket change: the S-curve
    * predicts recall at a given Jaccard; this measures it on YOUR corpus.
    *
    * Scale shape: ground truth is block-bounded quadratic — the explicit
    * `pairParts` repartition exempts the CPU-heavy/byte-tiny pair stage
    * from AQE one-task coalescing (the q_edit_verify lesson); the gram
    * frame is materialized once and read by both join sides. Output: one
    * row (n_truth, n_candidates, n_hit_pairs, recall_pairs,
    * n_hit_cluster, recall_cluster). */
  /** Corpus-scaled truth-sample modulus for [[lshRecall]]: the truth set
    * is QUADRATIC inside blocks by definition (that is what makes it the
    * truth), so past `fullUpTo` docs the audit estimates recall on the
    * deterministic hash-residue doc subsample id: charHash % mod == 0 —
    * truth-pair volume shrinks by mod² while the estimate stays unbiased
    * (the residue is independent of the id-ordered candidate cap).
    * mod = 1 (identical to the exhaustive audit) through the sf0.1 board
    * scale; the oracle pins the verify-scale derivation. */
  def scaledTruthSampleMod(n: Long, fullUpTo: Long = 5000L): Int = {
    require(n >= 0 && fullUpTo > 0)
    math.max(1L, (n + fullUpTo - 1) / fullUpTo).toInt
  }

  def lshRecall(df: DataFrame, idCol: String, textCol: String,
                blockCols: Seq[String], n: Int = 3, tau: Double = 0.3,
                k: Int = 16, bands: Int = 4, maxBucket: Option[Int] = None,
                pairParts: Int = 64, truthSampleMod: Int = 1): DataFrame = PlanBridge.scoped {
    import org.apache.spark.sql.graftbridge.PlanBridge
    // null block keys are excluded on BOTH engines: Spark's struct
    // equality would pair null-keyed docs while SQL's column equality
    // never matches null — the mutualInfo null stance, applied here
    val g = df.filter(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(idCol).as("id") +:
        struct(blockCols.map(col): _*).as("blk") +:
        Seq(TextFunctions.ngramHashes(col(textCol), n).as("grams")): _*)
      .withColumn("ng", size(col("grams")).cast("long"))
      .transform(PlanBridge.localCheckpoint)
    val inter = PlanBridge.column(graft.plans.Exprs.SortedIntersectSizeLong(
      PlanBridge.expression(col("x.grams")),
      PlanBridge.expression(col("y.grams"))))
    // Pair-stage shape: the gram frame is block-SAMPLE-sized (an audit
    // runs on a sample at scale), so BROADCAST it and stream the other
    // side pre-split into `pairParts` row-count partitions — pairs are
    // generated AND intersected inside one stage with no wide-row
    // shuffle (a post-join repartition moved every gram array twice per
    // pair: measured 11 s at sf0.1, vs ~1 s this way), and the explicit
    // count keeps AQE from coalescing the CPU-heavy stage (r6 lesson).
    // Length prefilter (similarity-join literature): J ≤ min/max of the
    // gram counts, so a ratio below tau skips the O(|grams|) intersect
    // kernel — implied by J ≥ tau, the truth set is unchanged and the
    // oracle needs no mirror.
    // truth-side sample ([[scaledTruthSampleMod]]): both pair ends from
    // the hash-residue doc subset; candidates/components stay FULL — the
    // audit asks what fraction of (sampled) truth the production paths
    // catch, and the hash residue is independent of the candidate cap's
    // id ordering, so the estimate is unbiased
    val gs =
      if (truthSampleMod <= 1) g
      else g.filter(pmod(TextFunctions.charHash(col("id").cast("string")),
        lit(truthSampleMod.toLong)) === 0)
    val truth = gs.repartition(pairParts).as("x")
      .join(broadcast(gs).as("y"),
        col("x.blk") === col("y.blk") && col("x.id") < col("y.id") &&
          least(col("x.ng"), col("y.ng")).cast("double") >=
            lit(tau) * greatest(col("x.ng"), col("y.ng")).cast("double"))
      .select(col("x.id").as("a"), col("y.id").as("b"), inter.as("inter"),
        col("x.ng").as("na"), col("y.ng").as("nb"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double") >= tau)
      .select(col("a"), col("b"))
      .transform(PlanBridge.localCheckpoint)
    val cand = minhashCandidates(df, idCol, textCol, k, bands, maxBucket)
      .transform(PlanBridge.localCheckpoint)
    val comps = connectedComponents(lshStarEdges(df, idCol, textCol, k, bands))
    val clusterHit = truth
      .join(comps.select(col("id").as("a"), col("comp").as("ca")), Seq("a"))
      .join(comps.select(col("id").as("b"), col("comp").as("cb")), Seq("b"))
      .filter(col("ca") === col("cb"))
    // an empty (sampled) truth set has no recall to report — NULL, not a
    // division error (ANSI mode) or a misleading 0
    val rp = when(col("n_truth") > 0L,
      round(col("n_hit_pairs").cast("double") /
        col("n_truth").cast("double"), 6))
    val rc = when(col("n_truth") > 0L,
      round(col("n_hit_cluster").cast("double") /
        col("n_truth").cast("double"), 6))
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(cand.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(truth.join(cand, Seq("a", "b"), "left_semi")
        .agg(count(lit(1)).as("n_hit_pairs")))
      .crossJoin(clusterHit.agg(count(lit(1)).as("n_hit_cluster")))
      .select(col("n_truth"), col("n_candidates"),
        col("n_hit_pairs"), rp.as("recall_pairs"),
        col("n_hit_cluster"), rc.as("recall_cluster"))
  }

  /** Star-contracted LSH edge list for clustering: every (band, key)
    * bucket is a CLIQUE in the candidate-pair graph, and a clique is
    * connected through its min member — so for component-finding the
    * bucket's pairwise edges can be replaced by `member → bucket-min`
    * stars. Edge count drops from Σ|bucket|² (quadratic in the hottest
    * bucket — 15s at sf0.1, unbounded at 100 TB) to Σ|bucket| (≤ bands
    * rows per doc), with IDENTICAL connected components. One window-min
    * shuffle on (band, key) + a distinct over ≤ bands×n 16-byte rows. */
  def lshStarEdges(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, bands: Int = 4): DataFrame = {
    val banded = bandedFrame(df, idCol, textCol, k, bands)
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("band"), col("bkey"))
    banded.withColumn("bmin", min(col("id")).over(w))
      .filter(col("id") =!= col("bmin"))
      .select(col("id").as("a"), col("bmin").as("b"))
      .distinct()
  }

  /** Connected components over a near-duplicate pair graph — the step that
    * turns candidate PAIRS into dedup GROUPS (keep one representative per
    * component). Iterative min-label propagation: every node starts
    * labelled with its own id; each round every node takes the min label
    * among itself and its neighbours; fixpoint = components labelled by
    * their min member id.
    *
    * Scale shape: per round, one hash join of the (src,dst) edge list
    * against the current labels plus one map-side-combined min-groupBy —
    * both shuffle 8-byte ids only. Rounds needed = graph diameter, and
    * near-dup graphs are dense clusters (diameter 2-3 in practice);
    * `maxIter` bounds the worst case. Convergence is detected from
    * `sum(comp)` in DECIMAL(38,0) — labels only decrease, so the sum
    * strictly decreases while anything changes, and the decimal sum
    * cannot overflow for any realistic id domain (an int64 sum would
    * throw under ANSI — Spark 4's default — or silently wrap and
    * terminate the loop early with wrong labels for snowflake-sized
    * ids). One cheap scalar agg per round, no row-level diff join.
    * Lineage is cut every round (localCheckpoint) or iteration i would
    * re-execute all i-1 predecessors, and the previous round's
    * checkpoint blocks are released once superseded so storage stays
    * one-labels-frame-sized regardless of iteration count.
    *
    * Hitting `maxIter` before the fixpoint would silently return WRONG
    * labels (min-label moves one hop per round, so a chain longer than
    * maxIter is still merging) — that case throws; raise maxIter for
    * pathological high-diameter graphs.
    *
    * @param edges (a, b) pair DataFrame, e.g. `minhashCandidates` output.
    * @return (id, comp) — one row per node appearing in any edge. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25): DataFrame = PlanBridge.scoped {
    requireIntegralIds(edges)
    val adj = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .transform(PlanBridge.localCheckpoint)
    val init = adj.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("comp"))
      .transform(PlanBridge.localCheckpoint)
    iterateToFixpoint(init, maxIter, "connectedComponents")(
      l => decimalSum(l, col("comp").cast("decimal(38,0)")))(
      l => adj
        .join(l.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), col("comp"))
        .union(l)
        .groupBy(col("id")).agg(min(col("comp")).as("comp")))
  }

  /** Both CC variants need integral ids: the decimal convergence
    * potential sums them, and a silent numeric cast would turn string
    * ids into null edges (all-singleton output, no error). Hash string
    * ids to int64 first (xxhash64). */
  private def requireIntegralIds(edges: DataFrame): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    Seq("a", "b").foreach { c =>
      val t = edges.schema(c).dataType
      require(Seq(LongType, IntegerType, ShortType, ByteType).contains(t),
        s"connected components needs integral id columns; '$c' is $t " +
        "(hash string ids to int64 first, e.g. xxhash64)")
    }
  }

  private def decimalSum(df: DataFrame, e: org.apache.spark.sql.Column): BigDecimal =
    df.agg(sum(e)).head.get(0) match {
      case null => BigDecimal(0)
      case v: java.math.BigDecimal => BigDecimal(v)
    }

  /** Decreasing-potential fixpoint driver for the MIN-LABEL variant:
    * apply `round` until the DECIMAL(38,0) potential stops strictly
    * decreasing (decimal — an int64 potential would throw under ANSI, or
    * silently wrap and terminate early with WRONG labels for
    * snowflake-sized ids). Sound here because each node's label is
    * individually non-increasing, so the sum strictly decreases iff any
    * label changed — true for NEGATIVE ids too (unlike an endpoint sum
    * over a changing edge set, which is why the log-star variant uses
    * [[iterateToEdgeFixpoint]] instead). Hitting `maxIter` mid-descent
    * THROWS rather than returning a truncated result. Every round is
    * localCheckpointed (lineage cut) and the superseded round's blocks
    * are released. */
  private def iterateToFixpoint(init: DataFrame, maxIter: Int, what: String)
                               (pot: DataFrame => BigDecimal)
                               (round: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var last: Option[BigDecimal] = None
    var p = pot(cur)
    var iter = 0
    while (last.forall(p < _) && iter < maxIter) {
      last = Some(p)
      val prev = cur
      cur = PlanBridge.freshLocalCheckpoint(round(prev))
      PlanBridge.release(prev)
      p = pot(cur)
      iter += 1
    }
    if (last.forall(p < _))
      throw new IllegalStateException(
        s"$what did not converge in maxIter=$maxIter rounds " +
        "(potential still decreasing) — the graph needs more rounds; " +
        "raise maxIter.")
    cur
  }

  /** Exact set-equality fixpoint driver for frame-rewriting rounds whose
    * fixed point is STABLE (round(e) == e, which holds for the star
    * graphs log-star converges to, for k-core peels, and for min-label
    * propagation): apply `round` until the output frame (distinct rows)
    * equals the input frame. Both frames are distinct, so
    * equality = equal counts + empty `except` (prev ⊆ next with equal
    * cardinality ⟹ equal) — one scalar count and one anti-set job per
    * round over the shrinking edge list. Sign-agnostic by construction:
    * a potential sum over edge endpoints is only monotone when ids are
    * nonnegative, and hashed ids (xxhash64 — the recommended way in for
    * string keys) are negative ~half the time, where a potential-based
    * loop can read a stall/rise as convergence and return WRONG labels.
    * Hitting `maxIter` before equality THROWS rather than returning a
    * truncated result; superseded checkpoint blocks are released each
    * round. */
  private[operators] def iterateToEdgeFixpoint(
      init: DataFrame, maxIter: Int, what: String)
      (round: DataFrame => DataFrame): DataFrame = {
    var cur = init
    var curCount = init.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val prev = cur
      val prevCount = curCount
      // the round's row count rides its checkpoint as an observation
      // (r19) — per round this is ONE materializing action plus the
      // anti-set job, no separate count job
      val obs = org.apache.spark.sql.Observation()
      cur = PlanBridge.freshLocalCheckpoint(
        round(prev).observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")))
      curCount = PlanBridge.awaitObserved(obs)("n").asInstanceOf[Long]
      converged = prevCount == curCount && prev.except(cur).isEmpty
      PlanBridge.release(prev)
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"$what did not converge in maxIter=$maxIter rounds " +
        "(edge set still changing) — the graph needs more alternations; " +
        "raise maxIter.")
    cur
  }

  /** Connected components in O(log n) rounds — the alternating
    * large-star / small-star algorithm (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14; a public algorithm).
    * Use this over [[connectedComponents]] when the pair graph may have
    * LARGE DIAMETER: min-label propagation needs diameter rounds (a
    * 10k-node chain needs 10k shuffles), star contraction needs
    * ~log(n) alternations regardless of diameter.
    *
    * Per alternation: two window-min shuffles over 8-byte endpoint
    * pairs (large-star hangs every bigger neighbor under the
    * neighborhood min; small-star re-hangs the smaller neighbors).
    * The fixpoint (star graphs centered at component minima) is
    * detected EXACTLY — round output equals round input as a set —
    * not via an endpoint-sum potential: the sum heuristic is only
    * monotone for nonnegative ids, and hashed ids (xxhash64, the
    * recommended way in) are negative about half the time, where the
    * sum can stall or rise mid-descent and a potential-based loop
    * would exit early with WRONG labels. Both frames are distinct, so
    * set equality is one count + one except per round over the
    * shrinking edge set — the star fixed point is stable under the
    * round (re-applying it reproduces the same stars), so equality is
    * a true convergence certificate for any totally ordered id domain.
    *
    * @return (id, comp) — one row per node appearing in any edge,
    *         identical labels to [[connectedComponents]]. */
  def connectedComponentsLogStar(edges: DataFrame, maxIter: Int = 30): DataFrame = PlanBridge.scoped {
    requireIntegralIds(edges)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
    val nodes = edges.select(col("a").as("id"))
      .union(edges.select(col("b").as("id"))).distinct()
      .transform(PlanBridge.localCheckpoint)
    val init = edges.select(col("a").as("u"), col("b").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(PlanBridge.localCheckpoint)
    val stars = iterateToEdgeFixpoint(init, maxIter, "connectedComponentsLogStar")(
      e => {
        // large-star over the symmetrized neighborhood: every neighbor
        // bigger than u re-hangs under min(Γ(u) ∪ {u}); every output
        // row satisfies u > v (the new v = m <= old u < new u)
        val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val large = sym
          .withColumn("m", least(min(col("v")).over(w), col("u")))
          .filter(col("v") > col("u"))
          .select(col("v").as("u"), col("m").as("v"))
          .distinct()
        // small-star: large's rows are already (bigger, smaller), so u's
        // smaller neighbors and u itself re-hang under the neighborhood
        // min (m = min over v's < u, so no self-loops can appear)
        val withMin = large.withColumn("m",
          least(min(col("v")).over(w), col("u")))
        withMin.filter(col("v") =!= col("m"))
          .select(col("v").as("u"), col("m").as("v"))
          .union(withMin.select(col("u"), col("m").as("v")))
          .distinct()
      })
    // fixpoint = star graphs: every non-center node has exactly one
    // edge to its component min; centers (and isolated nodes) label
    // themselves. Checkpoint the small result frame so the scope can
    // release the star edge set.
    nodes.join(
        stars.groupBy(col("u").as("id")).agg(min(col("v")).as("comp")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("comp"), col("id")).as("comp"))
      .transform(PlanBridge.localCheckpoint)
  }

  /** SimHash near-dup buckets: every doc gets its `bits`-bit SimHash; docs
    * sharing a simhash value form a bucket (keep-min-id representative).
    * One narrow map + one map-side-combined shuffle on the 8-byte hash. */
  def simhashBuckets(df: DataFrame, idCol: String, textCol: String,
                     bits: Int = 16): DataFrame =
    df.select(col(idCol).as("id"), TextFunctions.tokenCodes(col(textCol)).as("codes"))
      .select(col("id"), TextFunctions.simhash(col("codes"), bits).as("simhash"))
      .groupBy(col("simhash"))
      .agg(min(col("id")).as("keep_id"), count(lit(1)).as("n_docs"))

  /** Bit-band split of a `bits`-wide code into `nb` near-even disjoint
    * bands: (offset, width) per band — the shared geometry of
    * [[simhashHammingPairs]] and its oracle. */
  private[graft] def hammingBands(bits: Int, nb: Int): Seq[(Int, Int)] = {
    val base = bits / nb
    val extra = bits % nb
    val widths = (0 until nb).map(b => base + (if (b < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** EXACT Hamming-radius near-dup pairs over `bits`-bit SimHashes via
    * pigeonhole banding: the code splits into radius+1 disjoint bit
    * bands, and any pair within Hamming distance ≤ radius must agree on
    * at least one WHOLE band (≤ radius differing bits can dirty at most
    * radius bands) — so banding has perfect candidate recall and the
    * bit_count verify makes the operator exact, at bucket-join cost.
    * This is [[simhashBuckets]]' radius-tolerant refinement: buckets
    * catch only hamming 0, this catches near-misses.
    *
    * Scale shape: only (band, key, sim, id) rows shuffle; join degree
    * bounded by band-bucket population. Bucket size is governed by band
    * WIDTH: bits/(radius+1) bits per band ⇒ 2^width expected keys, so
    * size the CODE to the corpus — with `widen = true` the token codes
    * xorshift-spread onto 60 bits ([[TextFunctions.widenCodes]]) and
    * bits up to 60 all carry vote signal, giving three 20-bit bands at
    * radius 2 (~1M keys/band — bucket population stays O(n/2^20), the
    * web-scale regime); the legacy 30/2 default gives three 10-bit
    * bands, which the r10 sf1 audit measured collapsing 170x on 10x
    * docs (1024 keys/band ⇒ in-bucket pairs grow ~quadratically). The
    * first-collision-band trick emits each pair once — no global
    * distinct over candidates.
    *
    * `maxBucket` — the hot-bucket skew cap, and WHY width alone cannot
    * save a near-dup corpus: wide bands fix RANDOM collisions (expected
    * population n/2^width), but docs that are genuinely near-identical
    * share whole band values BY DESIGN, so template/replica cliques pile
    * linearly-growing mass onto a few buckets no matter the width (the
    * r12 sf1 board measured the 20-bit-band form at 40–62× on 10× docs:
    * hot buckets grew 292 → 2774 members while bucket COUNT grew only
    * ~2.5×, and the true ≤2-radius pair set itself grew 163× — no
    * lossless scheme can beat its own output). The cap is the declared
    * [[minhashCandidates]] maxBucket convention: each (band, key) bucket
    * truncates to its `maxBucket` lowest ids, bounding any bucket's join
    * contribution to maxBucket²; cap ≥ every bucket is bit-identical to
    * the exact form (spec-proven), truncated members stay pairable
    * through their other bands, and recall is lost only inside over-cap
    * buckets — i.e. inside dense near-dup cliques, where PAIRWISE
    * enumeration is the wrong tool anyway (cluster hot buckets with
    * [[simhashBuckets]] / star contraction; the pair form is for
    * bounded verification).
    *
    * Output: (a, b, hamming) with a < b and hamming ≤ radius. */
  def simhashHammingPairs(df: DataFrame, idCol: String, textCol: String,
                          bits: Int = 30, radius: Int = 2,
                          widen: Boolean = false,
                          maxBucket: Option[Int] = None): DataFrame = {
    require(radius >= 1 && radius < bits, "radius must be in [1, bits)")
    require(!widen || bits <= 60, "widened codes carry 60 bits")
    val nb = radius + 1
    val bandDefs = hammingBands(bits, nb)
    val rawCodes = TextFunctions.tokenCodes(col(textCol))
    val codes = if (widen) TextFunctions.widenCodes(rawCodes) else rawCodes
    val sims = df.select(col(idCol).as("id"),
      TextFunctions.simhash(codes, bits).as("sim"))
    val keyExprs = bandDefs.map { case (off, w) =>
      expr(s"shiftright(sim, $off)").bitwiseAND(lit((1L << w) - 1))
    }
    val bandedAll = sims.select(col("id"), col("sim"),
      array(keyExprs: _*).as("keys"),
      posexplode(array(keyExprs: _*)).as(Seq("band", "bkey")))
    val banded = maxBucket match {
      case None => bandedAll
      case Some(cap) =>
        // high-cardinality (band, bkey) keys — the rank window is
        // bucket-local, never a corpus funnel (the minhashCandidates cap)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey")).orderBy(col("id"))
        bandedAll.withColumn("_bn", row_number().over(w))
          .filter(col("_bn") <= cap).drop("_bn")
    }
    val joined = banded.as("x").join(banded.as("y"),
      col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
        col("x.id") < col("y.id"))
    val pairs = maxBucket match {
      case None =>
        // uncapped: first-collision-band emits each pair exactly once
        firstCollisionOnly(joined, nb)
          .select(col("x.id").as("a"), col("y.id").as("b"),
            bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).cast("long")
              .as("hamming"))
      case Some(_) =>
        // capped: an earlier-band key match does not imply that band
        // EMITTED the pair (a member may be truncated out of it), so
        // dedup what was actually emitted (the minhashCandidates stance)
        joined
          .select(col("x.id").as("a"), col("y.id").as("b"),
            bit_count(col("x.sim").bitwiseXOR(col("y.sim"))).cast("long")
              .as("hamming"))
          .distinct()
    }
    pairs.filter(col("hamming") <= radius)
  }

  /** DuckDB oracle for [[simhashHammingPairs]] — identical simhash, band
    * geometry ([[hammingBands]]) and verify; DISTINCT replaces the
    * first-collision trick. `table`/`idExpr`/`textExpr` name the source. */
  def simhashHammingPairsSql(table: String, idExpr: String, textExpr: String,
                             bits: Int = 30, radius: Int = 2,
                             widen: Boolean = false,
                             maxBucket: Option[Int] = None): String = {
    val nb = radius + 1
    val bandSelects = hammingBands(bits, nb).zipWithIndex.map {
      case ((off, w), b) =>
        s"SELECT $idExpr AS id, sim, $b AS band, " +
          s"((sim >> $off) & ${(1L << w) - 1}) AS bkey FROM sims"
    }.mkString(" UNION ALL ")
    val rawCodes = TextFunctions.tokenCodesSql(textExpr)
    val codes =
      if (widen) TextFunctions.widenCodesSql(rawCodes) else rawCodes
    // the capped face mirrors the row_number truncation exactly (the
    // q_minhash_pairs oracle convention)
    val bandsSrc = maxBucket match {
      case None => "bands0"
      case Some(cap) =>
        s"(SELECT id, sim, band, bkey FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY band, bkey ORDER BY id) AS rn FROM bands0) " +
          s"WHERE rn <= $cap)"
    }
    s"WITH sims AS (SELECT $idExpr, " +
      s"${TextFunctions.simhashSql("codes", bits)} AS sim " +
      s"FROM (SELECT $idExpr, $codes AS codes FROM $table) tcodes), " +
      s"bands0 AS ($bandSelects), " +
      s"bands AS (SELECT * FROM $bandsSrc), " +
      "cand AS (SELECT DISTINCT x.id AS a, y.id AS b, x.sim AS sa, y.sim AS sb " +
      "FROM bands x JOIN bands y ON x.band = y.band AND x.bkey = y.bkey " +
      "AND x.id < y.id) " +
      "SELECT a, b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming " +
      s"FROM cand WHERE bit_count(xor(sa, sb)) <= $radius ORDER BY a, b"
  }

  /** n-gram CONTAINMENT over candidate pairs: C(A→B) = |A∩B| / |A| —
    * the asymmetric near-dup signal Jaccard structurally misses: a short
    * doc fully embedded in a long one has high containment but LOW
    * Jaccard (the union is dominated by the long doc), so a
    * Jaccard-thresholded pipeline silently admits quote-farms and
    * wrapped boilerplate. Emits both directions' containments per pair
    * plus the Jaccard for comparison, from ONE intersect per pair
    * (|A∪B| = |A|+|B|−|A∩B| and both containments reuse the same
    * n_inter — no second set op).
    *
    * Scale shape: identical to [[ngramJaccard]] — gram sets materialize
    * once per DOC (native sorted-hash kernel), pairs pay one two-pointer
    * merge; only candidate pairs, never all-pairs. */
  def ngramContainment(pairs: DataFrame, docs: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    gramPairStats(pairs, docs, idCol, textCol)
      .withColumn("containment_ab", round(col("n_inter") / col("na"), 6))
      .withColumn("containment_ba", round(col("n_inter") / col("nb"), 6))
      .withColumn("jaccard",
        round(col("n_inter") / (col("na") + col("nb") - col("n_inter")), 6))
      .drop("na", "nb")

  /** n-gram Jaccard similarity over candidate pairs: distinct bigram
    * shingle sets, |A∩B| / |A∪B|. `pairs` must carry (a, b) id columns;
    * texts are joined back per side — at scale both joins are hash joins
    * on the id, and only candidate pairs (not all pairs) pay the set ops. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame,
                   idCol: String, textCol: String): DataFrame =
    gramPairStats(pairs, docs, idCol, textCol)
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .withColumn("jaccard", round(col("n_inter") / col("n_union"), 6))
      .drop("na", "nb")

  /** Shared gram-side scaffold of [[ngramJaccard]] and
    * [[ngramContainment]] — ONE definition of the per-doc sorted distinct
    * 64-bit gram hashes (native one-pass kernel; counts equal the
    * gram-string counts up to ~2^-64 collisions) and the per-pair
    * two-pointer intersect. Per-pair work is ONE set op: |A∪B| and both
    * containments derive from (n_inter, na, nb) arithmetically. Returns
    * the joined pair frame with (n_inter, na, nb) attached. */
  private def gramPairStats(pairs: DataFrame, docs: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val grams = docs.select(
      col(idCol).as("_jid"),
      org.apache.spark.sql.graftbridge.PlanBridge.column(
        graft.plans.Exprs.SortedGramHashes(
          org.apache.spark.sql.graftbridge.PlanBridge.expression(col(textCol))))
        .as("_grams"))
      .withColumn("_ng", size(col("_grams")).cast("long"))
    def side(s: String) = grams
      .withColumnRenamed("_jid", s)
      .withColumnRenamed("_grams", s"g$s")
      .withColumnRenamed("_ng", s"n$s")
    val nInter = org.apache.spark.sql.graftbridge.PlanBridge.column(
      graft.plans.Exprs.SortedIntersectSizeLong(
        org.apache.spark.sql.graftbridge.PlanBridge.expression(col("ga")),
        org.apache.spark.sql.graftbridge.PlanBridge.expression(col("gb"))))
    pairs
      .join(side("a"), "a")
      .join(side("b"), "b")
      .withColumn("n_inter", nInter)
      .drop("ga", "gb")
  }

  /** EXACT whole-corpus set-similarity self-join with LOSSLESS prefix
    * filtering — the AllPairs/PPJoin family (Bayardo et al., WWW'07
    * "Scaling Up All Pairs Similarity Search"): every pair of docs whose
    * distinct n-token shingle sets have Jaccard >= tauNum/tauDen, with no
    * all-pairs stage, no MinHash probabilistic misses, and no blocking
    * key's reach limit — the exact complement to [[minhashCandidates]]
    * (probabilistic) and the block-bounded quadratic (needs a key).
    *
    * Prefix principle: order the gram universe by ascending document
    * frequency (rarest first, ties by gram value — any TOTAL order is
    * correct, rare-first is the cost optimization); a doc with n distinct
    * grams keeps a prefix of its first `n - ceil(tau*n) + 1` grams. If
    * J(A,B) >= tau then |A∩B| >= ceil(tau*max(|A|,|B|)), and skipping
    * either doc's prefix discards fewer grams than that overlap — so
    * similar pairs MUST collide on a prefix gram and the prefix join is
    * candidate-complete (the quadratic DuckDB oracle cross-checks
    * losslessness end-to-end at sf0.01).
    *
    * The threshold is a RATIONAL: inclusion is decided by the all-integer
    * `tauDen * |A∩B| >= tauNum * |A∪B|` on both engines — no float
    * threshold edge ever disagrees.
    *
    * Scale shape: one corpus explode for document frequencies (map-side
    * combined); one term-keyed df join (vocabulary-sized frame —
    * deliberately NOT broadcast, the bigram-vocab stance); one per-doc
    * window for prefix selection (per-doc bounded); a prefix-gram-keyed
    * candidate join whose per-gram degree rare-first ordering keeps small
    * by construction (stopword-grade grams are ordered out of every
    * prefix); and an id-keyed verify join paying ONE sorted-merge
    * intersect per candidate. A boilerplate gram set shared by m docs
    * still yields m²/2 pairs — but those are TRUE OUTPUT pairs (output
    * volume, not plan decay); mine the template out first
    * (TextOps.boilerplate) when that bill is unwanted. */
  def setSimJoin(df: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, tauNum: Int = 1, tauDen: Int = 2): DataFrame = PlanBridge.scoped {
    require(tauNum > 0 && tauDen >= tauNum,
      s"tau must be a rational in (0, 1]: got $tauNum/$tauDen")
    // sorted distinct 64-bit gram hashes once per doc (native one-pass
    // kernel); counts/joins over hashes match the oracle's gram STRINGS
    // up to ~2^-64 collisions (the q_decontaminate stance). Feeds three
    // consumers (df frame, prefix explode, both verify sides) →
    // materialized once (round-6 rule; reliable checkpoint on a cluster).
    val grams = df.select(
      col(idCol).as("_sid"),
      PlanBridge.column(graft.plans.Exprs.SortedNgramHashes(
        PlanBridge.expression(col(textCol)), n)).as("_grams"))
      .withColumn("_n", size(col("_grams")).cast("long"))
      .filter(col("_n") > 0)
      .transform(PlanBridge.localCheckpoint)
    val dfFrame = grams.select(explode(col("_grams")).as("_gram"))
      .groupBy("_gram").agg(count(lit(1)).as("_df"))
    // prefix length p = n - ceil(tau*n) + 1, all-integer ceil division
    val p = col("_n") -
      expr(s"(($tauNum * _n + ${tauDen - 1}) div $tauDen)") + lit(1L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_sid")).orderBy(col("_df"), col("_gram"))
    val prefix = grams
      .select(col("_sid"), col("_n"), explode(col("_grams")).as("_gram"))
      .join(dfFrame, "_gram")
      .withColumn("_rn", row_number().over(w).cast("long"))
      .filter(col("_rn") <= p)
      .select(col("_gram"), col("_sid"), col("_n"), col("_rn"))
    // candidate pairs: 16-byte (a, b) keys shuffle through the distinct —
    // never the gram arrays. The POSITIONAL filter (PPJoin, Xiao et al.
    // 2008 §3.2) rides the join condition: both docs order grams by the
    // SAME global (df, gram) total order, so at a collision on the gram
    // at positions (rnA, rnB) the overlap is bounded by 1 +
    // min(nA − rnA, nB − rnB) PROVIDED no earlier common gram exists —
    // true for the pair's FIRST common gram, whose collision row always
    // lands in the prefix join for qualifying pairs (earliest common
    // gram = minimal positions), so dropping later rows that fail the
    // bound is LOSSLESS. Qualification needs |A∩B| >= ceil(tauNum·
    // (nA+nB)/(tauNum+tauDen)); cross-multiplying keeps it all-integer.
    // At rn = 1 this reduces to exactly the r15 AllPairs length filter
    // (tauDen·min(nA,nB) >= tauNum·max(nA,nB)), so the positional form
    // SUBSUMES it — typically halving candidates again. Output
    // unchanged: the quadratic oracle hash-proves losslessness.
    val cand = prefix.as("x").join(prefix.as("y"),
        col("x._gram") === col("y._gram") && col("x._sid") < col("y._sid") &&
          lit((tauNum + tauDen).toLong) *
            (lit(1L) + least(col("x._n") - col("x._rn"),
              col("y._n") - col("y._rn"))) >=
            lit(tauNum.toLong) * (col("x._n") + col("y._n")))
      .select(col("x._sid").as("a"), col("y._sid").as("b"))
      .distinct()
    def side(s: String) = grams
      .select(col("_sid").as(s), col("_grams").as(s"g$s"), col("_n").as(s"n$s"))
    val nInter = PlanBridge.column(graft.plans.Exprs.SortedIntersectSizeLong(
      PlanBridge.expression(col("ga")), PlanBridge.expression(col("gb"))))
    cand.join(side("a"), "a").join(side("b"), "b")
      .withColumn("n_inter", nInter)
      .withColumn("n_union", col("na") + col("nb") - col("n_inter"))
      .filter(lit(tauDen.toLong) * col("n_inter") >=
        lit(tauNum.toLong) * col("n_union"))
      .select(col("a"), col("b"), col("n_inter"), col("n_union"),
        round(col("n_inter") / col("n_union"), 6).as("jaccard"))
  }

  /** LOSSLESS prefix-filtered overlap join (the PPJoin/AllPairs prefix
    * principle, Xiao et al. 2008, applied to the containment threshold):
    * all same-block pairs whose n-gram overlap reaches
    * `alphaNum/alphaDen` of the SMALLER side's gram count — i.e. max
    * containment >= alpha — without ever forming the quadratic
    * same-block pair set. q_containment's candidate policy is
    * group-all-pairs (measured 41.5x on the 10x sf1 board); this is the
    * scale-correct policy with the IDENTICAL output.
    *
    * Why lossless: sort each doc's distinct grams by (global frequency
    * asc, gram asc) and call its first `n - ceil(alpha*n) + 1` grams the
    * PREFIX. If a pair (A, B) with |A| <= |B| has inter >= alpha*|A| but
    * no prefix gram of A lands in B, every shared gram sits in A's
    * suffix of size ceil(alpha*|A|) - 1 < alpha*|A| — contradiction. So
    * joining PREFIX postings against FULL postings on (block, gram)
    * catches every qualifying pair; the exact sorted-intersect verify
    * then reproduces the quadratic semantics bit-for-bit (the oracle
    * RUNS the quadratic form — losslessness is hash-proven, the
    * radiusJoin/setsim convention).
    *
    * Scale shape: postings shuffle once on (block, gram); prefix
    * postings are the RARE grams (frequency-ascending prefix), so hot
    * grams contribute full postings only against short prefix lists;
    * the per-doc prefix ranking window is doc-length bounded. Exact
    * integer threshold: alpha is the rational alphaNum/alphaDen, so the
    * verify compares `alphaDen * inter >= alphaNum * min(na, nb)` in
    * integers.
    *
    * WHEN IT PAYS (measured, r10): the prefix keeps n - ceil(alpha*n) +
    * 1 grams — ~75% of each doc at alpha = 1/4 — so the policy only
    * beats a blocked all-pairs join when alpha is HIGH (short prefixes)
    * and the gram distribution is long-tailed (rare grams have thin
    * postings). On the synthetic template-heavy corpus it LOSES to
    * all-pairs at every alpha (289M candidate rows vs 62M pairs at sf1,
    * alpha = 1/4) — which is why q_containment keeps its blocked
    * all-pairs policy and this operator carries its own query. Real
    * crawl corpora with near-dup thresholds (alpha >= 0.7) are the
    * PPJoin paper's long-tailed regime where the prefix wins.
    *
    * Output: (a, b, n_inter, na, nb, cmax), a < b, both sides with >= 1
    * gram (an empty side makes the threshold vacuous and the
    * containment undefined). */
  def overlapPrefixJoin(docs: DataFrame, idCol: String, textCol: String,
                        blockCol: String, alphaNum: Int = 1,
                        alphaDen: Int = 4): DataFrame = PlanBridge.scoped {
    val (grams, posts, prefix) =
      overlapPrefixParts(docs, idCol, textCol, blockCol, alphaNum, alphaDen)
    overlapPrefixJoinFromParts(grams, posts, prefix, alphaNum, alphaDen)
  }

  /** [[overlapPrefixJoin]] over pre-built prefix parts — the face
    * [[overlapJoinAuto]] calls so the corpus-sized gram/postings pass
    * built for the volume predictor is REUSED by the chosen join
    * instead of rebuilt (it used to run twice per auto call). */
  private def overlapPrefixJoinFromParts(
      grams: DataFrame, posts: DataFrame, prefix: DataFrame,
      alphaNum: Int, alphaDen: Int): DataFrame = {
    val cands = overlapCandidatesFromParts(posts, prefix)
    val nInter = org.apache.spark.sql.graftbridge.PlanBridge.column(
      graft.plans.Exprs.SortedIntersectSizeLong(
        org.apache.spark.sql.graftbridge.PlanBridge.expression(col("ga")),
        org.apache.spark.sql.graftbridge.PlanBridge.expression(col("gb"))))
    cands
      .join(grams.select(col("id").as("a"), col("grams").as("ga"),
        col("ng").as("na")), Seq("a"))
      .join(grams.select(col("id").as("b"), col("grams").as("gb"),
        col("ng").as("nb")), Seq("b"))
      .withColumn("n_inter", nInter)
      .filter(col("n_inter") * alphaDen >= least(col("na"), col("nb")) * alphaNum)
      .select(col("a"), col("b"), col("n_inter"), col("na"), col("nb"),
        round(col("n_inter").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("cmax"))
  }

  /** The candidate half of [[overlapPrefixJoin]] — rare-gram prefix
    * postings joined against full postings — factored out so callers
    * needing different verify columns (q_containment's two-directional
    * containments) can reuse the lossless candidate policy. Returns
    * (grams frame with (id, blk, grams, ng), candidate (a, b) pairs). */
  private[graft] def overlapPrefixCandidates(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      alphaNum: Int, alphaDen: Int): (DataFrame, DataFrame) = PlanBridge.scoped {
    val (grams, posts, prefix) =
      overlapPrefixParts(docs, idCol, textCol, blockCol, alphaNum, alphaDen)
    (grams, overlapCandidatesFromParts(posts, prefix))
  }

  private def overlapCandidatesFromParts(
      posts: DataFrame, prefix: DataFrame): DataFrame =
    prefix
      .join(posts.select(col("blk"), col("g"), col("id").as("yid")),
        Seq("blk", "g"))
      .filter(col("xid") =!= col("yid"))
      .select(least(col("xid"), col("yid")).as("a"),
        greatest(col("xid"), col("yid")).as("b"))
      .distinct()

  /** The shared frames under the prefix policy AND the policy chooser:
    * per-doc sorted gram sets, (blk, g) postings, and the rare-first
    * prefix postings. `grams` is checkpointed — it feeds postings and
    * both verify sides. */
  private def overlapPrefixParts(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      alphaNum: Int, alphaDen: Int): (DataFrame, DataFrame, DataFrame) = {
    require(alphaNum >= 1 && alphaDen >= alphaNum,
      "alpha must be a rational in (0, 1]")
    val W = org.apache.spark.sql.expressions.Window
    val grams = docs.select(col(idCol).as("id"), col(blockCol).as("blk"),
        org.apache.spark.sql.graftbridge.PlanBridge.column(
          graft.plans.Exprs.SortedGramHashes(
            org.apache.spark.sql.graftbridge.PlanBridge.expression(col(textCol))))
          .as("grams"))
      .withColumn("ng", size(col("grams")).cast("long"))
      .filter(col("ng") >= 1)
      .transform(PlanBridge.localCheckpoint) // reused: postings + both verify sides
    val posts = grams.select(col("id"), col("blk"), col("ng"),
      explode(col("grams")).as("g"))
    val freq = posts.groupBy("g").agg(count(lit(1)).as("f"))
    // prefix length n - ceil(alpha*n) + 1, with ceil(alpha*n) =
    // floor((alphaNum*n + alphaDen - 1) / alphaDen) in exact integers
    val prefLen = col("ng") -
      floor((col("ng") * alphaNum + (alphaDen - 1)) / alphaDen).cast("long") +
      lit(1L)
    val ranked = posts.join(freq, Seq("g"))
      .withColumn("rk", row_number().over(
        W.partitionBy(col("id")).orderBy(col("f"), col("g"))))
    val prefix = ranked.filter(col("rk") <= prefLen)
      .select(col("blk"), col("g"), col("id").as("xid"))
    (grams, posts, prefix)
  }

  /** MEASURED candidate-policy chooser for overlap/containment joins —
    * the r10 hand-revert ("prefix loses on this template corpus")
    * encoded as a decision the engine computes from its own gram-df
    * histogram instead of a human reading a bench:
    *
    *   - prefix-policy join rows = Σ over (blk, g) of
    *     |prefix postings| × |full postings| − |prefix postings|
    *     (every prefix posting meets each same-key full posting once,
    *     minus its self-match) — EXACT, because that product is by
    *     definition the equi-join's output size;
    *   - all-pairs rows = Σ over blk of C(n_blk, 2).
    *
    * The regime boundary both numbers encode: rare-first prefixes win
    * at HIGH alpha over long-tailed gram dfs (short prefixes × thin
    * postings); blocked all-pairs wins at low alpha on template-heavy
    * corpora where even rare grams carry fat postings (the measured r10
    * case: 289M predicted prefix rows vs 62M pairs at sf1, alpha=1/4).
    * Both policies verify with the identical exact intersect, so the
    * choice is pure cost — output-identical, spec-proven on both corpus
    * shapes. Cost of choosing: two scalar aggregates over the postings
    * frame the chosen join needs anyway (at cluster scale, run them on
    * a block-sample first). */
  def overlapCandidateVolumes(docs: DataFrame, idCol: String, textCol: String,
                              blockCol: String, alphaNum: Int,
                              alphaDen: Int): (Long, Long) = PlanBridge.scoped {
    val (grams, posts, prefix) =
      overlapPrefixParts(docs, idCol, textCol, blockCol, alphaNum, alphaDen)
    overlapVolumesFromParts(grams, posts, prefix)
  }

  private def overlapVolumesFromParts(grams: DataFrame, posts: DataFrame,
                                      prefix: DataFrame): (Long, Long) = {
    val fullCounts = posts.groupBy("blk", "g").agg(count(lit(1)).as("f"))
    val prefCounts = prefix.groupBy("blk", "g").agg(count(lit(1)).as("p"))
    // coalesce: an empty docs frame (or an empty prefix-posting join)
    // sums to NULL — the chooser must return (0, 0), not crash
    val prefixRows = prefCounts.join(fullCounts, Seq("blk", "g"))
      .agg(coalesce(sum(col("p") * col("f")) - sum(col("p")), lit(0L))
        .as("rows"))
      .first().getLong(0)
    val allPairsRows = grams.groupBy("blk").agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("rows"))
      .first().getLong(0)
    (prefixRows, allPairsRows)
  }

  /** [[overlapPrefixJoin]] with the candidate policy CHOSEN by
    * [[overlapCandidateVolumes]]: identical output under either policy
    * (same exact verify), candidate stage picked by predicted join
    * volume. */
  def overlapJoinAuto(docs: DataFrame, idCol: String, textCol: String,
                      blockCol: String, alphaNum: Int = 1,
                      alphaDen: Int = 4): DataFrame = PlanBridge.scoped {
    // ONE corpus-sized gram/postings pass: the checkpointed parts the
    // volume predictor reads are the same frames the chosen join
    // consumes (the parts used to be rebuilt from scratch after the
    // choice — every auto call paid the tokenize/gram/postings stage
    // twice). grams is materialized INTO the eager output checkpoint
    // below, so the only storage that outlives this call is the bounded
    // PAIR SET.
    val (grams, posts, prefix) =
      overlapPrefixParts(docs, idCol, textCol, blockCol, alphaNum, alphaDen)
    val (prefixRows, allPairsRows) =
      overlapVolumesFromParts(grams, posts, prefix)
    val chosen =
      if (prefixRows <= allPairsRows)
        overlapPrefixJoinFromParts(grams, posts, prefix, alphaNum, alphaDen)
      else
        overlapAllPairsJoinFromGrams(grams, alphaNum, alphaDen)
    // eagerly materialize the chosen join (its output is the bounded
    // pair set), so the corpus-sized gram checkpoint is released on return
    chosen.transform(PlanBridge.localCheckpoint)
  }

  /** The blocked all-pairs face of the overlap join — q_containment's
    * candidate policy with [[overlapPrefixJoin]]'s output contract, so
    * the chooser's two faces are interchangeable. */
  private[graft] def overlapAllPairsJoin(
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      alphaNum: Int, alphaDen: Int): DataFrame = PlanBridge.scoped {
    val (grams, _, _) =
      overlapPrefixParts(docs, idCol, textCol, blockCol, alphaNum, alphaDen)
    overlapAllPairsJoinFromGrams(grams, alphaNum, alphaDen)
  }

  private def overlapAllPairsJoinFromGrams(
      grams: DataFrame, alphaNum: Int, alphaDen: Int): DataFrame = {
    val nInter = org.apache.spark.sql.graftbridge.PlanBridge.column(
      graft.plans.Exprs.SortedIntersectSizeLong(
        org.apache.spark.sql.graftbridge.PlanBridge.expression(col("ga")),
        org.apache.spark.sql.graftbridge.PlanBridge.expression(col("gb"))))
    grams.select(col("blk"), col("id").as("a"), col("grams").as("ga"),
        col("ng").as("na"))
      .join(grams.select(col("blk"), col("id").as("b"),
        col("grams").as("gb"), col("ng").as("nb")), Seq("blk"))
      .filter(col("a") < col("b"))
      .withColumn("n_inter", nInter)
      .filter(col("n_inter") * alphaDen >= least(col("na"), col("nb")) * alphaNum)
      .select(col("a"), col("b"), col("n_inter"), col("na"), col("nb"),
        round(col("n_inter").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("cmax"))
  }

  /** DuckDB oracle for [[overlapPrefixJoin]]: the PLAIN QUADRATIC
    * same-block pair join with the exact threshold — losslessness of
    * the prefix filter is itself hash-proven. Gram STRINGS stand in for
    * the 64-bit gram hashes (identical counts up to ~2^-64 collisions,
    * the q_ngram_jaccard stance). `gramsExpr` must yield the distinct
    * gram list of `text`. */
  def overlapPrefixJoinSql(table: String, idExpr: String, blockExpr: String,
                           gramsExpr: String, alphaNum: Int,
                           alphaDen: Int): String =
    s"WITH g AS (SELECT $idExpr AS id, $blockExpr AS blk, " +
      s"$gramsExpr AS grams FROM $table), " +
      "gg AS (SELECT id, blk, grams, CAST(len(grams) AS BIGINT) AS ng " +
      "FROM g WHERE len(grams) >= 1) " +
      "SELECT a, b, n_inter, na, nb, " +
      "round(CAST(n_inter AS DOUBLE) / CAST(least(na, nb) AS DOUBLE), 6) AS cmax " +
      "FROM (SELECT x.id AS a, y.id AS b, " +
      "CAST(len(list_intersect(x.grams, y.grams)) AS BIGINT) AS n_inter, " +
      "x.ng AS na, y.ng AS nb FROM gg x JOIN gg y " +
      "ON x.blk = y.blk AND x.id < y.id) " +
      s"WHERE n_inter * $alphaDen >= least(na, nb) * $alphaNum"

  /** Dedup survivorship accounting per source — the operational readout
    * AFTER clustering: elect one survivor per near-dup component (the
    * min-id member, i.e. the component label itself) and price what each
    * feed loses — documents removed, characters removed. This is the
    * number a curation pipeline actually reports ("dedup cut feed X by
    * 38% of bytes"); [[connectedComponents]] produces the groups, this
    * turns them into the bill.
    *
    * Scale shape: the CC labels frame joins back to the corpus once
    * (8-byte ids); docs in no component (never bucketed with anyone)
    * survive by definition via the left join + coalesce. ONE
    * map-side-combined per-source aggregate; all counts exact integers,
    * ratios one fixed double tree.
    *
    * Output: (source, n_docs, n_kept, chars_total, chars_kept,
    * doc_cut_ratio, char_cut_ratio). */
  def dedupSurvivors(df: DataFrame, idCol: String, textCol: String,
                     srcCol: String, k: Int = 16, bands: Int = 2)
      : DataFrame = {
    val cc = connectedComponents(lshStarEdges(df, idCol, textCol, k, bands))
    df.select(col(idCol).as("id"), col(srcCol).as("src"),
        length(col(textCol)).cast("long").as("nch"))
      .join(cc, Seq("id"), "left")
      .withColumn("comp", coalesce(col("comp"), col("id")))
      .withColumn("keep", col("id") === col("comp"))
      .groupBy("src")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("nch")).as("chars_total"),
        sum(when(col("keep"), col("nch")).otherwise(0L)).as("chars_kept"))
      .select(col("src").as(srcCol), col("n_docs"), col("n_kept"),
        col("chars_total"), col("chars_kept"),
        round(lit(1.0) - col("n_kept").cast("double") /
          col("n_docs").cast("double"), 6).as("doc_cut_ratio"),
        round(lit(1.0) - col("chars_kept").cast("double") /
          col("chars_total").cast("double"), 6).as("char_cut_ratio"))
      .orderBy(srcCol)
  }
}
