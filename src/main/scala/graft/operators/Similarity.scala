package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.Tables
import graft.functions.VectorFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY §2.3). Three paths:
  *
  *  - brute-force cosine top-k: the correctness baseline. Queries are
  *    broadcast (they're the small side by construction); candidates are
  *    scanned once, scored narrowly, and reduced by two-stage top-k — no
  *    all-pairs shuffle, no global sort.
  *  - LSH-bucketed (random hyperplanes): only bucket keys shuffle; cosine
  *    is computed just for bucket-collision candidates.
  *  - IVF (coarse quantizer + nprobe cells): the 100 TB path — with the
  *    index persisted cell-partitioned (writeIvfIndex), a probe physically
  *    reads only its cells' directories.
  *
  * Plus embeddingNearDup: threshold near-duplicate pairs over the LSH
  * candidates (the embedding-side sibling of Dedup.minhashCandidates).
  */
object Similarity {

  /** Brute-force cosine top-k. `queries` must be small (broadcast). The
    * scored frame is reduced per query by TopK.perGroupTopK, so a single
    * hot query id cannot serialize the reduction. */
  def cosineTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = candidates.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", VectorFunctions.cosine(col("qvec"), col("cvec")))
    TopK.perGroupTopK(scored,
        groupCols = Seq(col("qid")),
        order = Seq(col("cos_sim").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Signature frame: one row per (id, band, bkey) — `bands` rows per
    * vector, each key packing `rowsPerBand` hyperplane sign bits. */
  def hyperBands(df: DataFrame, bands: Int, rowsPerBand: Int, dims: Int,
                 idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    hyperBandsWithKeys(df, bands, rowsPerBand, dims, idCol, vecCol)
      .drop("keys")

  /** hyperBands plus the full key array per row (for first-collision-band
    * pair emission). */
  def hyperBandsWithKeys(df: DataFrame, bands: Int, rowsPerBand: Int, dims: Int,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    val keys = array((0 until bands).map(b =>
      VectorFunctions.hyperBandKey(col(vecCol), b, rowsPerBand, dims)): _*)
    df.select(col(idCol).as("id"), keys.as("keys"),
      posexplode(keys).as(Seq("band", "bkey")))
  }

  /** Corpus-scaled LSH band width: the smallest rowsPerBand whose
    * expected band-bucket population n / 2^rowsPerBand is at most
    * `targetBucket`, floored at `floor` bits. A PINNED band width on a
    * growing corpus is the scale killer the r10 sf1 audit measured
    * (in-bucket candidate pairs grow quadratically with bucket
    * population): the band width is a corpus parameter, not a constant.
    * Pure integer arithmetic — no float log boundary — so a query can
    * derive it at plan time and its oracle can pin the derived value at
    * the verify scale (scaledRowsPerBand(500) = 4, the board's
    * historical geometry). Capped at 24 bits (16M buckets ≫ any
    * single-partition corpus; beyond that, shard the corpus first). */
  def scaledRowsPerBand(n: Long, targetBucket: Long = 32L, floor: Int = 4): Int = {
    require(n >= 0 && targetBucket > 0 && floor >= 1)
    var k = floor
    while ((targetBucket << k) < n && k < 24) k += 1
    k
  }

  /** Embedding-cosine near-duplicate pairs: LSH-bucketed candidates (same
    * hyperplane bands as lshTopK), exact cosine on candidates only, kept
    * when >= `tau`. First-collision-band emission keeps the pair set
    * distinct without a global distinct shuffle (as in
    * Dedup.minhashCandidates). */
  def embeddingNearDup(df: DataFrame, tau: Double,
                       bands: Int = 4, rowsPerBand: Int = 4, dims: Int = 64,
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val banded = hyperBandsWithKeys(df, bands, rowsPerBand, dims, idCol, vecCol)
    val noEarlierMatch = !(0 until bands - 1).map { i =>
      col("x.band") > i &&
        element_at(col("x.keys"), i + 1) === element_at(col("y.keys"), i + 1)
    }.reduceLeft(_ || _)
    val pairs = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.id") < col("y.id"))
      .filter(noEarlierMatch)
      .select(col("x.id").as("a"), col("y.id").as("b"))
    val v = df.select(col(idCol).as("_vid"), col(vecCol).as("_v"))
    pairs
      .join(v.withColumnRenamed("_vid", "a").withColumnRenamed("_v", "va"), "a")
      .join(v.withColumnRenamed("_vid", "b").withColumnRenamed("_v", "vb"), "b")
      .withColumn("cos_sim", VectorFunctions.cosine(col("va"), col("vb")))
      .filter(col("cos_sim") >= tau)
      .select(col("a"), col("b"), round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** IVF (inverted-file) ANN — the classic coarse-quantizer structure that
    * scales to 100 TB: every vector is assigned to its nearest of
    * `nCentroids` cells via the two-level [[twoLevelProbes]] assignment
    * (the lowest-id vectors under nCentroids act as the trained
    * quantizer); a query probes its
    * `nprobe` nearest cells and scores only those cells' members. At
    * cluster scale the index frame is written partitioned by cell, so a
    * probe reads nprobe/nCentroids of the data — the scan itself shrinks,
    * not just the compute. Squared-L2 assignment uses the strict-fold dot
    * (||v||^2 - 2 v.c + ||c||^2), bit-identical to the DuckDB oracle. */
  /** Corpus-derived IVF cell count: ceil(n / targetCell) keeps the
    * EXPECTED CELL POPULATION constant as the corpus grows — the fix for
    * pinned nCentroids, where cell population ∝ corpus and any
    * cell-symmetric join (knnGraph, semDedup) grows corpus²/cells
    * (28–56× wall on 10× vectors on the r12 sf1 board). The density
    * sibling of [[scaledRowsPerBand]] and GeoOps.densityRadius: the cell
    * count is a corpus parameter, not a constant. Integer arithmetic —
    * a query derives it at plan time and its oracle pins the derived
    * value at the verify scale. With cells ∝ n the symmetric cell join
    * is linear in n (n·nprobe·targetCell); assignment is the TWO-LEVEL
    * [[twoLevelProbes]] (coarse √cells kernel + fine DataFrame join —
    * n·√cells flops, √cells-row driver codebook), so neither the flop
    * count nor the plan-constant size grows linearly with the corpus. */
  def derivedCentroids(n: Long, targetCell: Long): Int = {
    require(n > 0 && targetCell > 0, "derivedCentroids needs positive counts")
    math.min((n + targetCell - 1) / targetCell, MaxIvfCells).toInt
  }

  /** Ceiling on the corpus-derived fine-cell count. Raised 1e6 → 1e8 in
    * r17: the binding constraint is the DRIVER-COLLECTED coarse codebook
    * at √cells rows — √1e8 = 1e4 rows × 64 float dims ≈ 2.5 MB as a plan
    * constant (still broadcast-trivial; at the old 1e6 clamp the cell
    * population re-grew linearly past ~3.2e7 vectors at targetCell=32,
    * re-acquiring the corpus²/cells shape the derivation prevents). With
    * 1e8 cells the constant-population regime holds to ~3.2e9 vectors;
    * past that (a 100 TB corpus of 64-dim floats ≈ 4e11 vectors) cell
    * population grows linearly again — ~4e3/cell at 4e11 — and a THIRD
    * quantizer level (∛cells per level) is the documented next step, not
    * a bigger clamp (a 1e10-cell codebook would put √cells = 1e5 rows
    * ≈ 25 MB into every task closure). No codegen cliff at the clamp
    * (r18 correction of the r17 advice note): [[centroidProbesCol]]'s
    * codebook enters the generated class via `ctx.addReferenceObj` — one
    * object slot in the references array and a single
    * `Kernels.centroidProbes(...)` call whose BYTECODE size is
    * independent of codebook size, so the 64 KB method limit is never
    * approached and there is no interpreted fallback to switch plans
    * around. A √MaxIvfCells (10⁴×64) codebook is exercised end-to-end
    * with codegen fallback DISABLED in SimilaritySpec, closing the
    * "unmeasured at that size" clause; what does grow is the serialized
    * expression tree (~2.5 MB, shipped once per stage via the task
    * broadcast — the codebook-size bound above is exactly the cap on
    * that). */
  val MaxIvfCells: Long = 100000000L

  /** Coarse cell count of the TWO-LEVEL quantizer over `nCells` fine
    * cells: ceil(sqrt(nCells)), so both levels stay ~√cells-sized. The
    * scale fix for corpus-derived cell counts: single-level assignment is
    * n·cells flops with a cells-sized driver codebook (= n²/targetCell
    * flops and a corpus-proportional plan constant once cells ∝ n);
    * two-level keeps the DRIVER-COLLECTED kernel at √cells rows (≤ 10⁴
    * at the [[MaxIvfCells]] clamp — MBs, not 25 GB) and turns the fine level
    * into a DataFrame join, so total assignment work is
    * n·(√cells + pCoarse·√cells) flops — n^1.5/√targetCell, not n². */
  def coarseCellCount(nCells: Int): Int = {
    require(nCells >= 1, "coarseCellCount needs a positive cell count")
    math.ceil(math.sqrt(nCells.toDouble)).toInt
  }

  /** Coarse cells each vector probes during two-level assignment (its
    * candidate fine set = the fine centroids homed in those coarse
    * cells). 2 keeps boundary vectors near a coarse Voronoi face from
    * being locked to one side's fine cells; oracles pin this constant. */
  val TwoLevelCoarseProbes = 2

  /** The collected COARSE codebook: the `nCoarse` lowest-id rows of the
    * fine-centroid frame, sorted by id (coarse cell id = position in
    * that order). Bounded by √[[MaxIvfCells]] = 10⁴ rows regardless of
    * corpus size, and tolerant of gapped id spaces — no 0..n−1 contiguity
    * requirement, only that SOME centroid rows exist. */
  private def collectCoarse(fine: DataFrame, nCoarse: Int): Seq[Seq[Float]] =
    collectCoarseRows(fine, nCoarse).map(_._2)

  /** [[collectCoarse]] keeping the row ids — the Lloyd trainer needs the
    * id cut to re-observe the codebook per iteration. */
  private def collectCoarseRows(fine: DataFrame,
                                nCoarse: Int): IndexedSeq[(Long, Seq[Float])] = {
    val rows = fine
      .orderBy(col("_fid"))
      .limit(nCoarse)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    require(rows.nonEmpty,
      "two-level quantizer found no centroid rows (no ids in [0, nCells)): " +
        "remap ids to a low-id-dense space (e.g. xxhash-rank) so the " +
        "low-id centroid convention has rows to draw from")
    rows.toIndexedSeq
  }

  /** TWO-LEVEL IVF cell probes — the corpus-derived-cells assignment
    * path: (id, vec, cell, rn) with rn = 1..nprobe ranking the vector's
    * nearest fine cells among its candidate set.
    *
    * Level 1 (coarse, plan-constant kernel): ceil(√nCells) coarse
    * centroids — the lowest-id fine centroids — ride the plan as a
    * [[centroidProbesCol]] constant; every row gets its `pCoarse`
    * nearest coarse cells in one codegen'd scan. Level 2 (fine,
    * DataFrame join): the fine-centroid FRAME (ids < nCells — no driver
    * collect, no contiguity requirement) is homed to its coarse cell by
    * the same kernel, rows join fine centroids on the coarse-cell id
    * (join degree ≈ pCoarse·√cells per row, never cells), and a
    * per-id rank window (unbounded key — no corpus funnel) orders the
    * candidate fine cells by the strict-fold squared-L2, ties by fine
    * id. Cell ids are the fine centroids' ACTUAL ids, so gapped id
    * spaces shrink the quantizer instead of crashing it.
    *
    * Approximation contract: a vector's fine candidates are only the
    * centroids homed in its pCoarse nearest coarse cells (exact when
    * pCoarse covers all coarse cells — spec-pinned); every consumer's
    * oracle mirrors the full two-level chain, so the approximation
    * itself hash-verifies. */
  def twoLevelProbes(candidates: DataFrame, nCells: Int, nprobe: Int,
                     pCoarse: Int = TwoLevelCoarseProbes,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    require(nCells >= 1, "twoLevelProbes needs a positive nCells")
    val fine = candidates
      .filter(col(idCol) >= 0 && col(idCol) < nCells)
      .select(col(idCol).cast("long").as("_fid"), col(vecCol).as("_fvec"))
    twoLevelProbesAgainst(fine, candidates, nCells, nprobe, pCoarse,
      idCol, vecCol)
  }

  /** The two-level probe core against an EXPLICIT fine-centroid frame
    * (_fid, _fvec) — shared by [[twoLevelProbes]] (centroids = the
    * corpus's low-id rows) and [[ivfProbeIndex]] (centroids = the
    * persisted index's sidecar), so external query batches rank cells
    * with the IDENTICAL convention the index was built with. */
  private def twoLevelProbesAgainst(fine: DataFrame, df: DataFrame,
                                    nCells: Int, nprobe: Int, pCoarse: Int,
                                    idCol: String, vecCol: String): DataFrame = {
    require(nCells >= 1 && nprobe >= 1 && pCoarse >= 1,
      "twoLevelProbes needs positive nCells / nprobe / pCoarse")
    twoLevelProbesWithCoarse(collectCoarse(fine, coarseCellCount(nCells)),
      fine, df, nprobe, pCoarse, idCol, vecCol)
  }

  /** [[twoLevelProbesAgainst]] with an ALREADY-collected coarse codebook
    * — lets the Lloyd trainer and its consumers skip the per-call
    * sort+limit+collect job when the codebook is in hand (r19). */
  private def twoLevelProbesWithCoarse(coarse: Seq[Seq[Float]],
                                       fine: DataFrame, df: DataFrame,
                                       nprobe: Int, pCoarse: Int,
                                       idCol: String, vecCol: String): DataFrame = {
    import VectorFunctions.dot
    val pc = math.min(pCoarse, coarse.length)
    val fineHomed = fine.select(col("_fid"), col("_fvec"),
      element_at(centroidProbesCol(col("_fvec"), coarse, 1), 1).as("_cc"))
    val probed = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"),
        explode(centroidProbesCol(col(vecCol), coarse, pc)).as("_cc"))
      .join(fineHomed, Seq("_cc"))
    val fdist = dot(col("vec"), col("vec")) -
      lit(2.0) * dot(col("vec"), col("_fvec")) +
      dot(col("_fvec"), col("_fvec"))
    val scored = probed
      .select(col("id"), col("vec"), col("_fid"), fdist.as("_fdist"))
    // nprobe = 1 (every ASSIGNMENT path: Lloyd training, index build) is
    // an argmin — a map-side-combinable min_by aggregate instead of the
    // sort window (r19, guide §2.3: the partial aggregate moves one row
    // per id per map partition through the exchange where the window
    // moved every candidate, and the per-partition sort disappears).
    // min_by on the (dist, fid) struct is the IDENTICAL total order the
    // window used (fid unique within a candidate set) — bit-identical
    // cells, oracle-pinned.
    if (nprobe == 1)
      scored.groupBy("id")
        .agg(min_by(struct(col("vec"), col("_fid")),
          struct(col("_fdist"), col("_fid"))).as("_b"))
        .select(col("id"), col("_b.vec").as("vec"),
          col("_b._fid").as("cell"), lit(1).as("rn"))
    else scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("_fdist"), col("_fid"))))
      .filter(col("rn") <= nprobe)
      .select(col("id"), col("vec"), col("_fid").as("cell"), col("rn"))
  }

  /** Top-`k` nearest centroid ids of a vector column as one codegen'd
    * scan expression — bit-identical to [[centroidRanks]]' crossJoin +
    * row_number ordering (spec-proven); the COARSE level of
    * [[twoLevelProbes]] — its constant stays √cells-sized, so it never
    * carries a corpus-proportional codebook. */
  def centroidProbesCol(vec: org.apache.spark.sql.Column,
                        cents: Seq[Seq[Float]], k: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.graftbridge.PlanBridge.column(
      graft.plans.Exprs.CentroidProbes(
        org.apache.spark.sql.graftbridge.PlanBridge.expression(vec), cents, k))

  /** Per-vector centroid ranking: (id, cid, rn) with rn=1 the nearest
    * cell. Shared by ivfTopK and the persisted-index writer. */
  def centroidRanks(candidates: DataFrame, nCentroids: Int,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    import VectorFunctions.dot
    val cents = candidates.filter(col(idCol) < nCentroids)
      .select(col(idCol).as("cid"), col(vecCol).as("cvec"))
    val dist = dot(col(vecCol), col(vecCol)) -
      lit(2.0) * dot(col(vecCol), col("cvec")) + dot(col("cvec"), col("cvec"))
    candidates.select(col(idCol).as("id"), col(vecCol))
      .crossJoin(broadcast(cents))
      .withColumn("dist", dist)
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("dist"), col("cid"))))
  }

  /** One Lloyd iteration M-step over the current coarse assignment: new
    * centroid components as the per-(cell, dim) mean of member vectors —
    * the k-means primitive an IVF index is (re)trained with. Assignment
    * reuses centroidRanks (broadcast centroids, strict-fold distances);
    * the update explodes members to (cell, dim, component) and runs ONE
    * map-side-combined avg shuffle, so post-combine only
    * nCentroids×dims×partitions partial rows move — never the corpus. */
  def kmeansUpdate(candidates: DataFrame, nCentroids: Int,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    centroidRanks(candidates, nCentroids, idCol, vecCol)
      .filter(col("rn") === 1)
      .select(col("cid").as("cell"), posexplode(col(vecCol)).as(Seq("dim", "comp")))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("comp").cast("double")), 6).as("mean"))

  /** Lloyd-trained fine centroids for the corpus-derived IVF quantizer:
    * `iters` update steps of (assign every vector to its nearest fine
    * cell via the SAME two-level chain the query/serving paths use,
    * recompute each centroid as its members' mean), starting from the
    * low-id seed convention of [[twoLevelProbes]]. Returns the
    * (_fid, _fvec) fine-centroid frame ([[twoLevelProbesAgainst]]'s
    * input shape); iters = 0 returns the seeds unchanged — the
    * untrained path, bit-identical to [[twoLevelProbes]].
    *
    * Training with the serving assignment (not exact nearest-centroid)
    * keeps trainer and prober optimizing the same partition function,
    * and keeps per-iteration cost at the assignment's n·√cells flops —
    * assignment is a DataFrame join, the update one groupBy; the only
    * driver-bounded piece is the √cells-row coarse codebook collect per
    * iteration. Means use the exact integer-lattice sums of
    * [[latticeSums]] (order-free, engine-exact) divided once in double
    * and rounded to float (IEEE round-to-nearest on both engines), so
    * the trained quantizer is oracle-expressible; empty cells keep
    * their previous centroid (the [[latticeCentroids]] rule). */
  def trainIvfCentroids(candidates: DataFrame, nCells: Int, iters: Int,
                        pCoarse: Int = TwoLevelCoarseProbes,
                        idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = PB.scoped {
    // iters = 0 needs no codebook: the seeds, with no job
    if (iters == 0) ivfSeeds(candidates, nCells, idCol, vecCol)
    else trainIvfCentroidsWithCoarse(candidates, nCells, iters, pCoarse,
      idCol, vecCol)._1
  }

  /** The untrained (_fid, _fvec) quantizer: the rows whose id falls in
    * `[0, nCells)`. Uncheckpointed: its lineage is one filter+select over
    * the input (cheap to recompute), and checkpointing it leaked the seed
    * blocks for iters = 0 callers (r17 ADVICE). */
  private def ivfSeeds(candidates: DataFrame, nCells: Int,
                       idCol: String, vecCol: String): DataFrame = {
    require(nCells >= 1, "an IVF quantizer needs nCells >= 1")
    candidates
      .filter(col(idCol) >= 0 && col(idCol) < nCells)
      .select(col(idCol).cast("long").as("_fid"), col(vecCol).as("_fvec"))
  }

  /** [[trainIvfCentroids]] returning the trained frame AND its collected
    * coarse codebook, so consumers (final probe pass, index writer) skip
    * their own collect job.
    *
    * r19 action shape: ONE coarse collect total (on the seeds) instead
    * of one per iteration plus one per consumer. The coarse codebook is
    * the nCoarse lowest-_fid rows and the _fid SET is iteration-
    * invariant (empty cells keep their previous centroid), so each
    * iteration's refreshed codebook VALUES are re-read by an
    * observation riding the iteration's own checkpoint (collect_list of
    * the _fid <= cut rows — fires under localCheckpoint, asserted by
    * CliSpec's eager-localCheckpoint observation spec) — zero extra
    * jobs per iteration. */
  private[operators] def trainIvfCentroidsWithCoarse(
      candidates: DataFrame, nCells: Int, iters: Int,
      pCoarse: Int = TwoLevelCoarseProbes,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): (DataFrame, Seq[Seq[Float]]) = {
    require(iters >= 0, "trainIvfCentroids needs iters >= 0")
    var cents = ivfSeeds(candidates, nCells, idCol, vecCol)
    val coarseRows = collectCoarseRows(cents, coarseCellCount(nCells))
    val fidCut = coarseRows.last._1
    var coarse: Seq[Seq[Float]] = coarseRows.map(_._2)
    for (_ <- 1 to iters) {
      val asg = twoLevelProbesWithCoarse(coarse, cents, candidates, 1,
        pCoarse, idCol, vecCol)
      val sums = asg
        .select(col("cell"), posexplode(col("vec")).as(Seq("dim", "comp")))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(floor(col("comp").cast("double") * lit(1048576.0))
          .cast("long")).as("sq"), count(lit(1)).as("n"))
      val prev = cents
        .select(col("_fid"), posexplode(col("_fvec")).as(Seq("dim", "pcomp")))
      val merged = prev
        .join(sums, prev("_fid") === sums("cell") && prev("dim") === sums("dim"),
          "left")
        .select(prev("_fid"), prev("dim"),
          coalesce((col("sq").cast("double") /
            (col("n").cast("double") * lit(1048576.0))).cast("float"),
            col("pcomp")).as("comp"))
      val obs = org.apache.spark.sql.Observation()
      val next = merged.groupBy(col("_fid"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("comp")))),
          x => x.getField("comp")).as("_fvec"))
        .observe(obs, collect_list(when(col("_fid") <= fidCut,
          struct(col("_fid"), col("_fvec")))).as("coarse"))
        .transform(PB.localCheckpoint) // nCells rows — cuts the per-iteration lineage
      // no-op on round 1 (the seeds are not a checkpoint); frees every
      // superseded round after that
      PB.release(cents)
      cents = next
      coarse = PB.awaitObserved(obs)("coarse")
        .asInstanceOf[scala.collection.Seq[org.apache.spark.sql.Row]]
        .map(r => (r.getLong(0), r.getSeq[Float](1)))
        .sortBy(_._1).map(_._2).toIndexedSeq
    }
    (cents, coarse)
  }

  /** Persist the IVF index as cell-partitioned parquet: the 100 TB layout
    * where a query probing `nprobe` of the cells physically reads only
    * those directories (partition pruning), shrinking the SCAN, not just
    * the compute. The cell count is CORPUS-DERIVED ([[derivedCentroids]],
    * same `targetCell` economics as the query path) and assignment runs
    * the two-level [[twoLevelProbes]] chain — n·√cells flops with a
    * √cells-row driver codebook — so the PERSISTED layout is built by the
    * same assignment the probes use (the retired exhaustive
    * [[centroidRanks]] build charged n·cells flops and pinned the cell
    * population regardless of corpus size). Returns the derived cell
    * count so a caller can compute probe sets against the same geometry. */
  /** Format version stamped into the index's `_meta` sidecar. 2 = the
    * r17 layout (trained-or-seed quantizer sidecar + `_meta` geometry);
    * a `_meta`-less directory is the pre-r17 format (untrained,
    * contiguous sidecar) and is still probed via the row-count
    * fallback. */
  val IvfIndexFormat: Int = 2

  def writeIvfIndex(candidates: DataFrame, dir: String, targetCell: Long = 32L,
                    idCol: String = "vec_id", vecCol: String = "embedding",
                    trainIters: Int = 0,
                    pCoarse: Int = TwoLevelCoarseProbes): Int = PB.scoped {
    val nRows = candidates.count()
    val nCells = derivedCentroids(nRows, targetCell)
    // trainIters > 0 composes the Lloyd trainer into the build: the
    // persisted quantizer is then TRAINED centroids, not whatever corpus
    // rows carry the lowest ids (on clustered real-world embeddings an
    // arbitrary-seed quantizer costs recall at equal nprobe — the
    // q_ivf_trained_recall board row measures the gap). trainIters = 0
    // is the seed quantizer, bit-identical to the pre-r17 layout.
    val (cents, coarseOpt) =
      if (trainIters > 0) {
        val (c, cb) = trainIvfCentroidsWithCoarse(candidates, nCells,
          trainIters, pCoarse, idCol, vecCol)
        (c, Some(cb))
      } else (ivfSeeds(candidates, nCells, idCol, vecCol), None)
    val coarse = coarseOpt
      .getOrElse(collectCoarse(cents, coarseCellCount(nCells)))
    twoLevelProbesWithCoarse(coarse, cents, candidates, 1, pCoarse,
        idCol, vecCol)
      .select(col("id").as(idCol), col("vec").as(vecCol), col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(dir)
    // centroid SIDECAR (nCells rows — KBs): the EXACT quantizer the
    // layout was assigned with (trained frame or low-id seeds) — a probe
    // ranks cells against it WITHOUT scanning the index (the fine
    // centroids live scattered across cell partitions; reading them from
    // the data would defeat the pruning the layout exists for). The
    // underscore prefix hides the subdir from Spark's file listing of
    // the index dir, so it still reads as the plain partitioned frame.
    // build-time FIT: mean squared assignment distance over the written
    // layout (a read-back of the compact index + one broadcast join
    // against the nCells-row quantizer — build-time only, never on the
    // probe path). Recorded in _meta so an APPEND batch can measure how
    // well the frozen quantizer still fits incoming data (drift).
    val spark = candidates.sparkSession
    val (_, buildFit) = assignFit(Tables.readParquet(spark, dir), cents, vecCol)
    cents
      .select(col("_fid").as(idCol), col("_fvec").as(vecCol))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_centroids")
    // _meta: the BUILD-TIME geometry. The probe reads nCells from here
    // rather than inferring it from the sidecar row count — a gapped id
    // space seeds FEWER than nCells centroids, so inference would
    // silently rank cells with a different coarse codebook than the
    // build used (degraded recall, no error). n_rows / mean_sqdist (r18)
    // are additive columns for the append path; readers bind by name, so
    // the format stamp stays 2.
    spark.range(1)
      .select(lit(nCells.toLong).as("n_cells"),
        lit(trainIters).as("train_iters"), lit(IvfIndexFormat).as("fmt"),
        lit(nRows).as("n_rows"), lit(buildFit).as("mean_sqdist"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_meta")
    nCells
  }

  /** (row count, mean squared assignment distance) of an assigned frame
    * (vecCol + `cell`) against a (_fid, _fvec) quantizer frame — the fit
    * statistic [[writeIvfIndex]] stamps and [[appendToIvfIndex]] compares
    * drift against. A diagnostic, not an oracle value (the avg's
    * accumulation order is partition-dependent). */
  private def assignFit(assigned: DataFrame, cents: DataFrame,
                        vecCol: String): (Long, Double) = {
    import VectorFunctions.dot
    val c = cents.select(col("_fid").cast("long").as("cell"),
      col("_fvec").as("_cv"))
    val d = dot(col(vecCol), col(vecCol)) -
      lit(2.0) * dot(col(vecCol), col("_cv")) + dot(col("_cv"), col("_cv"))
    val r = assigned
      .select(col(vecCol), col("cell").cast("long").as("cell"))
      .join(broadcast(c), "cell")
      .agg(count(lit(1)), avg(d)).head()
    (r.getLong(0), if (r.isNullAt(1)) 0.0 else r.getDouble(1))
  }

  /** Append a new-vector batch to a [[writeIvfIndex]] layout WITHOUT
    * re-assigning the corpus — incremental maintenance, the missing
    * lifecycle piece at 100 TB (a full rebuild re-scans and re-shuffles
    * every vector to absorb a million-row day; merge-on-read append is
    * the economics the repo's bucketed tables already practice in
    * q_incr_merge). The quantizer is FROZEN by design: the persisted
    * `_centroids` sidecar is the geometry every existing cell was
    * assigned under, so the batch must rank against the same lattice or
    * probes would silently mix geometries. Assignment runs the same
    * two-level chain as the build (batch·√cells flops); the write
    * APPENDS part files to the batch's cell directories (existing data
    * untouched — probes see the union immediately, including streaming
    * probes reading the dir per micro-batch); `_meta.n_rows` is bumped.
    *
    * Drift honesty: the batch's mean squared assignment distance is
    * compared against the build-time fit stamp. Near 1 the frozen
    * quantizer still fits incoming data; well past 1 the distribution
    * moved and the documented response is a RETRAINED REBUILD
    * (`ivf-index --train-iters`) — append never silently retrains,
    * because retraining re-homes existing vectors and would require the
    * full rebuild anyway.
    *
    * @return (appended row count, drift ratio — None when the index
    *         predates the r18 fit stamp or the build fit is 0) */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                       batch: DataFrame,
                       idCol: String = "vec_id", vecCol: String = "embedding",
                       pCoarse: Int = TwoLevelCoarseProbes): (Long, Option[Double]) = {
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/_meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(metaPath),
      s"no _meta at $dir: appendToIvfIndex needs the r17+ layout " +
        "(rebuild with writeIvfIndex; a pre-_meta index has no recorded " +
        "geometry to freeze)")
    val m = Tables.readParquet(spark, s"$dir/_meta").first()
    val fmt = m.getAs[Int]("fmt")
    require(fmt <= IvfIndexFormat,
      s"ivf index at $dir has format $fmt; this build appends <= $IvfIndexFormat")
    val nCells = m.getAs[Long]("n_cells").toInt
    val names = m.schema.fieldNames
    // pre-r18 stamp: no row count recorded — count the existing layout
    // once (compact columnar scan) so n_rows is correct from here on
    val oldRows =
      if (names.contains("n_rows")) m.getAs[Long]("n_rows")
      else Tables.readParquet(spark, dir).count()
    val buildFit =
      if (names.contains("mean_sqdist")) Some(m.getAs[Double]("mean_sqdist"))
      else None
    val cents = Tables.readParquet(spark, s"$dir/_centroids")
      .select(col(idCol).cast("long").as("_fid"), col(vecCol).as("_fvec"))
    val asg = twoLevelProbesAgainst(cents, batch, nCells, 1, pCoarse,
        idCol, vecCol)
      .select(col("id").as(idCol), col("vec").as(vecCol), col("cell"))
    asg.write.mode("append").partitionBy("cell").parquet(dir)
    val (batchN, batchFit) = assignFit(
      asg.select(col(vecCol), col("cell")), cents, vecCol)
    // meta row was COLLECTED above, so overwriting its path is safe;
    // preserve whatever columns the stamp carried, bump only n_rows
    val kept = names.filterNot(_ == "n_rows").toSeq
      .map(f => lit(m.get(m.fieldIndex(f))).as(f))
    spark.range(1)
      .select(kept :+ lit(oldRows + batchN).as("n_rows"): _*)
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_meta")
    (batchN, buildFit.filter(_ > 0.0).map(batchFit / _))
  }

  /** Compact a [[writeIvfIndex]] layout's cell partitions into one part
    * file per cell — the merge-on-write step [[appendToIvfIndex]]'s
    * merge-on-read economics eventually owes: each append lands at least
    * one new part file in every touched cell directory, and cells are
    * targetCell-row-sized by construction, so after k appends a probe
    * opens k footers per probed cell for KBs of data — file-open
    * overhead, not bandwidth, becomes the serving cost (the
    * Layout.compact argument applied per cell). One shuffle on the cell
    * key rewrites every cell to a single file; `_centroids` and `_meta`
    * are copied byte-for-byte (compaction moves bytes, never geometry —
    * the quantizer, row count and fit stamp are untouched, so probe
    * results are bit-identical, spec-pinned).
    *
    * OUT-OF-PLACE like [[graft.sources.Layout.compact]]: the rewrite
    * lands in `outDir` and the swap is the caller's (write-new +
    * repoint) — a reader, including a streaming probe re-reading the
    * dir per micro-batch, must never scan a directory being rewritten.
    *
    * @return (part files before, part files after) over cell partitions */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
                      inDir: String, outDir: String): (Int, Int) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val inPath = new org.apache.hadoop.fs.Path(inDir)
    val fs = inPath.getFileSystem(conf)
    require(fs.exists(new org.apache.hadoop.fs.Path(s"$inDir/_meta")),
      s"no _meta at $inDir: compactIvfIndex needs the r17+ layout")
    val fmt = Tables.readParquet(spark, s"$inDir/_meta").first().getAs[Int]("fmt")
    require(fmt <= IvfIndexFormat,
      s"ivf index at $inDir has format $fmt; this build compacts <= $IvfIndexFormat")
    def cellFileCount(dir: String): Int = {
      val p = new org.apache.hadoop.fs.Path(dir)
      fs.listStatus(p)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
        .map(d => fs.listStatus(d.getPath)
          .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")))
        .sum
    }
    val before = cellFileCount(inDir)
    Tables.readParquet(spark, inDir)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(outDir)
    Seq("_centroids", "_meta").foreach { side =>
      val dst = new org.apache.hadoop.fs.Path(s"$outDir/$side")
      if (fs.exists(dst)) fs.delete(dst, true)
      org.apache.hadoop.fs.FileUtil.copy(fs,
        new org.apache.hadoop.fs.Path(s"$inDir/$side"), fs, dst,
        false, conf)
    }
    (before, cellFileCount(outDir))
  }

  /** Probe a [[writeIvfIndex]] layout — the SERVING path at 100 TB:
    * each query ranks its `nprobe` nearest cells against the sidecar
    * quantizer (nCells rows, never the index), and the index scan is
    * partition-pruned to EXACTLY the probed cell directories (the spec
    * asserts the FileSourceScan's row count equals their membership).
    * Queries may be external vectors — they need not be index rows; an
    * in-corpus query batch returns [[ivfTopK]]'s ranking identically
    * (same quantizer, same strict-fold arithmetic, spec-pinned).
    *
    * Scale shape: sidecar read is nCells rows; probe-cell set is
    * |queries|·nprobe cell ids (driver-bounded — queries are the small
    * side by contract); the only corpus-sized work is the pruned scan
    * of the probed cells plus one broadcast join against the query
    * probes; reduction is the salted two-stage top-k. */
  /** Query-batch size above which [[ivfProbeIndex]] abandons the
    * broadcast serving plan. Below it the probe frame is |q|·nprobe rows
    * of (id, vector, cell) — ≤ ~4096·4·~300 B ≈ 5 MB broadcast, and the
    * probed-cell set is a driver-bounded isin list (static partition
    * pruning). Above it "queries are the small side" no longer holds, so
    * the plan switches to a shuffle join with a left-semi cell prune —
    * no driver collect, no broadcast — instead of OOMing the driver on a
    * corpus-sized batch (the pqAdcTopK/MaxPqQueryBatch stance applied to
    * the serving path). */
  val MaxIvfQueryBatch: Int = 4096

  /** Probe rows per query the broadcast budget was sized at: the gate is
    * `probe rows <= maxQueryBatch * IvfBroadcastProbesPerQuery`, an
    * nprobe-INDEPENDENT row budget. r17 gated on maxQueryBatch * nprobe —
    * a bound on query COUNT, under which the broadcast payload and the
    * driver-collected isin cell list both scaled linearly with nprobe
    * (nprobe=100 would have broadcast ~120 MB and built a ~400k-value
    * isin before the fallback engaged). Fixing the budget in ROWS keeps
    * the documented ~5 MB payload the actual ceiling at any nprobe;
    * behavior at the default nprobe=4 is unchanged. */
  val IvfBroadcastProbesPerQuery: Int = 4

  def ivfProbeIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
                    queries: DataFrame, k: Int, nprobe: Int = 4,
                    pCoarse: Int = TwoLevelCoarseProbes,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    maxQueryBatch: Int = MaxIvfQueryBatch): DataFrame = PB.scoped {
    val cents = Tables.readParquet(spark, s"$dir/_centroids")
      .select(col(idCol).cast("long").as("_fid"), col(vecCol).as("_fvec"))
    // build-time geometry from _meta; a pre-r17 layout has no _meta and
    // an ungapped sidecar, so its row count IS the build nCells
    val metaPath = new org.apache.hadoop.fs.Path(s"$dir/_meta")
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nCells =
      if (fs.exists(metaPath)) {
        val m = Tables.readParquet(spark, s"$dir/_meta").first()
        val fmt = m.getAs[Int]("fmt")
        require(fmt <= IvfIndexFormat,
          s"ivf index at $dir has format $fmt; this build probes <= $IvfIndexFormat")
        m.getAs[Long]("n_cells").toInt
      } else cents.count().toInt
    // the batch-size gate rides the probe checkpoint as an observation
    // (r19) — no separate count job
    val qpObs = org.apache.spark.sql.Observation()
    val qprobes = twoLevelProbesAgainst(cents, queries, nCells, nprobe,
        pCoarse, idCol, vecCol)
      .select(col("id").as("qid"), col("vec").as("qvec"), col("cell"))
      .observe(qpObs, count(lit(1)).as("n"))
      .transform(PB.localCheckpoint) // read for the batch-size gate AND the probe join
    val nProbes = org.apache.spark.sql.graftbridge.PlanBridge
      .awaitObserved(qpObs)("n").asInstanceOf[Long]
    // a candidate lives in exactly one home cell and a query's probed
    // cells are distinct, so each (qid, vec_id) pair arises at most
    // once — no distinct shuffle needed (the knnGraph argument)
    val scored =
      if (nProbes <= maxQueryBatch.toLong * IvfBroadcastProbesPerQuery) {
        val probeCells = qprobes.select("cell").distinct()
          .collect().map(_.getLong(0)).toIndexedSeq
        Tables.readParquet(spark, dir)
          .filter(col("cell").cast("long").isin(probeCells: _*))
          .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
            col("cell").cast("long").as("cell"))
          .join(broadcast(qprobes), Seq("cell"))
      } else {
        // oversized batch: prune cells via a semi join (dynamic, not a
        // driver isin) and let the probe join shuffle on cell
        Tables.readParquet(spark, dir)
          .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
            col("cell").cast("long").as("cell"))
          .join(qprobes.select("cell").distinct(), Seq("cell"), "left_semi")
          .join(qprobes, Seq("cell"))
      }
    probeTopK(scored
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos_sim", VectorFunctions.cosine(col("qvec"), col("cvec"))),
      k)
  }

  /** The salted two-stage top-k + rounding tail every IVF face reduces
    * with — ONE definition of the output convention
    * (qid, rank, vec_id, cos_sim). */
  private def probeTopK(scored: DataFrame, k: Int): DataFrame =
    TopK.perGroupTopK(scored,
        groupCols = Seq(col("qid")),
        order = Seq(col("cos_sim").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("cos_sim"), 6).as("cos_sim"))

  /** Shared IVF candidate generation (ivfTopK + ivfPqTopK — ONE
    * definition of the pruning convention): rn==1 two-level cell
    * assignment for candidates, broadcast query ids, nprobe cells per
    * query, self-pair exclusion, distinct (qid, vec_id) pairs. The
    * assignment is [[twoLevelProbes]] so a corpus-DERIVED cell count
    * (the scale setting) costs n·√cells, not n·cells, flops. */
  private def ivfCandidatePairs(candidates: DataFrame, queries: DataFrame,
                                nCentroids: Int, nprobe: Int,
                                idCol: String, vecCol: String,
                                pCoarse: Int = TwoLevelCoarseProbes): DataFrame =
    ivfPairsFromAsg(
      twoLevelProbes(candidates, nCentroids, nprobe, pCoarse,
        idCol = idCol, vecCol = vecCol),
      queries, idCol)

  /** Candidate (qid, vec_id) pairs from an ALREADY-COMPUTED two-level
    * assignment frame — the seam that lets [[ivfTopKTrained]] swap the
    * quantizer (trained centroid frame) while reusing the identical
    * pruning convention: rn==1 home cell for candidates, broadcast query
    * ids, nprobe cells per query, self-pair exclusion, distinct pairs. */
  private def ivfPairsFromAsg(asg: DataFrame, queries: DataFrame,
                              idCol: String): DataFrame = {
    // asg feeds TWO consumers (candidate home cells + query probe cells)
    // and Spark does not CSE DataFrame subtrees, so the assignment's
    // corpus join + rank window would run twice. Checkpoint the SLIM
    // projection only — (id, cell, rn), three longs a row, never the
    // vectors (a corpus-vector materialization was measured a wash in
    // knnGraph; this one is ~24 B/row·nprobe).
    val slim = PB.freshLocalCheckpoint(asg.select(col("id"), col("cell"), col("rn")))
    val cells = slim.filter(col("rn") === 1).select(col("id"), col("cell"))
    val qids = queries.select(col(idCol).as("qid"))
    val qcells = slim.join(broadcast(qids), col("id") === col("qid"))
      .select(col("qid"), col("cell"))
    cells.join(broadcast(qcells), "cell")
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("vec_id"))
      .distinct()
  }

  /** Exact-cosine scoring of candidate pairs + the shared top-k tail:
    * the back half of every IVF retrieval face. */
  private def scorePairs(candPairs: DataFrame, candidates: DataFrame,
                         queries: DataFrame, k: Int,
                         idCol: String, vecCol: String): DataFrame = {
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = candidates.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
    probeTopK(candPairs
      .join(broadcast(q), "qid")
      .join(c, "vec_id")
      .withColumn("cos_sim", VectorFunctions.cosine(col("qvec"), col("cvec"))),
      k)
  }

  def ivfTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              nCentroids: Int = 16, nprobe: Int = 4,
              idCol: String = "vec_id", vecCol: String = "embedding",
              pCoarse: Int = TwoLevelCoarseProbes): DataFrame = PB.scoped(
    scorePairs(
      ivfCandidatePairs(candidates, queries, nCentroids, nprobe, idCol,
        vecCol, pCoarse),
      candidates, queries, k, idCol, vecCol))

  /** [[ivfTopK]] with a TRAINED fine quantizer: `trainIters` Lloyd
    * update steps ([[trainIvfCentroids]]) replace the low-id seed
    * centroids, then candidate generation, scoring, and reduction run
    * the identical chain. Equal geometry (nCells, nprobe, pCoarse) to
    * the untrained face, so q_ivf_trained_recall vs q_ivf_recall is a
    * pure quantizer-quality comparison. trainIters = 0 degenerates to
    * [[ivfTopK]] exactly. */
  def ivfTopKTrained(candidates: DataFrame, queries: DataFrame, k: Int,
                     nCentroids: Int, nprobe: Int = 4, trainIters: Int = 1,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     pCoarse: Int = TwoLevelCoarseProbes): DataFrame = PB.scoped {
    require(nCentroids >= 1 && nprobe >= 1,
      "ivfTopKTrained needs positive nCentroids / nprobe")
    val (cents, coarse) = trainIvfCentroidsWithCoarse(candidates, nCentroids,
      trainIters, pCoarse, idCol, vecCol)
    val asg = twoLevelProbesWithCoarse(coarse, cents, candidates, nprobe,
      pCoarse, idCol, vecCol)
    // ivfPairsFromAsg EAGERLY checkpoints the slim assignment, the only
    // consumer of the trained frame, so the scope releases the latter
    scorePairs(ivfPairsFromAsg(asg, queries, idCol), candidates, queries,
      k, idCol, vecCol)
  }

  /** LSH-bucketed ANN: candidates that share >= 1 band key with a query are
    * scored exactly (same cosine tree as brute force) and top-k'd. The
    * shuffle carries only (band, bkey, id) triples; query bands are
    * broadcast. Recall < 1 by design — spec'd against the brute-force
    * baseline. */
  def lshTopK(candidates: DataFrame, queries: DataFrame, k: Int,
              bands: Int = 4, rowsPerBand: Int = 4, dims: Int = 64,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cb = hyperBands(candidates, bands, rowsPerBand, dims, idCol, vecCol)
    val qb = hyperBands(queries, bands, rowsPerBand, dims, idCol, vecCol)
    val candPairs = cb.join(broadcast(qb.withColumnRenamed("id", "qid")),
        Seq("band", "bkey"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("vec_id"))
      .distinct()
    val q = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"))
    val c = candidates.select(col(idCol).as("vec_id"), col(vecCol).as("cvec"))
    val scored = candPairs
      .join(broadcast(q), "qid")
      .join(c, "vec_id")
      .withColumn("cos_sim", VectorFunctions.cosine(col("qvec"), col("cvec")))
    TopK.perGroupTopK(scored,
        groupCols = Seq(col("qid")),
        order = Seq(col("cos_sim").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    * per-query rankings: `score(q, v) = Σ_lists 1/(c0 + rank)` over the
    * lists that retrieved v, re-ranked per query. The standard way to
    * combine retrievers whose scores aren't comparable (two ANN paths, or
    * dense + lexical): rank positions are scale-free, and an item missing
    * from one list simply contributes 0 from it. c0 = 60 is the paper's
    * constant (damps the head so one list's #1 can't dominate alone).
    *
    * Scale shape: inputs are |queries|·k rows — fusion cost is bounded by
    * the RANKINGS, independent of corpus size (the corpus work happened
    * upstream in the retrievers). One (qid, vec_id)-keyed full-outer
    * join + the two-stage per-query top-k. Each RRF term is one exact
    * integer add + one division, summed in a fixed two-term tree —
    * bit-identical on both engines; ties (same fused score) break by
    * vec_id.
    *
    * Inputs must carry (qid, rank, vec_id); output (qid, rank, vec_id,
    * rrf_score), rrf_score rounded 6. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int, c0: Int = 60): DataFrame = {
    def term(r: org.apache.spark.sql.Column) =
      coalesce(lit(1.0) / (lit(c0) + r).cast("double"), lit(0.0))
    val fa = a.select(col("qid"), col("vec_id"), col("rank").as("rank_a"))
    val fb = b.select(col("qid"), col("vec_id"), col("rank").as("rank_b"))
    val fused = fa.join(fb, Seq("qid", "vec_id"), "full_outer")
      .select(col("qid"), col("vec_id"),
        (term(col("rank_a")) + term(col("rank_b"))).as("rrf"))
    TopK.perGroupTopK(fused,
        groupCols = Seq(col("qid")),
        order = Seq(col("rrf").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid"), col("rank"), col("vec_id"),
        round(col("rrf"), 6).as("rrf_score"))
  }

  /** DuckDB oracle for [[rrfFuse]] — identical term tree and tie-break.
    * `aSub`/`bSub` are subqueries yielding (qid, rank, vec_id). */
  def rrfFuseSql(aSub: String, bSub: String, k: Int, c0: Int = 60): String =
    s"WITH fa AS (SELECT qid, vec_id, rank FROM $aSub), " +
      s"fb AS (SELECT qid, vec_id, rank FROM $bSub), " +
      "f AS (SELECT coalesce(fa.qid, fb.qid) AS qid, " +
      "coalesce(fa.vec_id, fb.vec_id) AS vec_id, " +
      s"coalesce(CAST(1.0 AS DOUBLE) / CAST($c0 + fa.rank AS DOUBLE), 0.0) + " +
      s"coalesce(CAST(1.0 AS DOUBLE) / CAST($c0 + fb.rank AS DOUBLE), 0.0) AS rrf " +
      "FROM fa FULL OUTER JOIN fb ON fa.qid = fb.qid AND fa.vec_id = fb.vec_id), " +
      "ranked AS (SELECT qid, vec_id, rrf, row_number() OVER (" +
      "PARTITION BY qid ORDER BY rrf DESC, vec_id) AS rank FROM f) " +
      s"SELECT qid, rank, vec_id, round(rrf, 6) AS rrf_score FROM ranked " +
      s"WHERE rank <= $k ORDER BY qid, rank"

  /** Symmetric INT8 codes of the UNIT-normalized vector: code_i =
    * round(127·x_i/‖x‖) ∈ [−127, 127] (all-zero for a zero vector).
    * Normalize-then-symmetric-quantize is what makes the integer dot a
    * monotone cosine proxy — per-dim min/max (affine) codes add offset
    * terms that destroy dot ordering entirely (measured: recall 0.04 vs
    * 0.92 on the same corpus), and raw dot ≠ cosine under varying norms
    * anyway. No training pass, no codebook. */
  private def sq8CodeExpr(vecCol: String,
                          normCol: String): org.apache.spark.sql.Column =
    transform(col(vecCol), x =>
      when(col(normCol) > 0,
        round((x.cast("double") / col(normCol)) * lit(127.0)).cast("long"))
        .otherwise(lit(0L)))

  /** SQ8 two-stage ANN: int8 symmetric-quantized integer-dot coarse scan
    * (top-`n` per query), exact cosine rerank of the survivors (top-`k`)
    * — the standard serving memory/bandwidth trick: the scan stage reads
    * 1-byte codes instead of 4-byte floats (4× less bandwidth; the
    * integer dot is also SIMD-friendlier than float FMA), and the exact
    * pass touches only |queries|·n rows. Complements PQ/IVF: SQ8 keeps
    * per-dim resolution (no codebook training), PQ compresses harder.
    *
    * Portability: the coarse ranking orders by the EXACT INTEGER dot of
    * codes (no float in the stage-1 argsort at all — same lesson as
    * mmrRerank's micro-units), and the rerank reuses the canonical
    * strict-fold cosine; recall vs the exact top-k is MEASURED in the
    * spec, not assumed.
    *
    * Scale shape: queries broadcast; candidates scanned once; both rank
    * stages are the salted two-stage top-k. */
  def sq8TopK(candidates: DataFrame, queries: DataFrame, k: Int, n: Int = 20,
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val cc = candidates
      .withColumn("_n", VectorFunctions.norm(col(vecCol)))
      .select(col(idCol).as("vec_id"), col(vecCol).as("cvec"),
        sq8CodeExpr(vecCol, "_n").as("ccodes"))
    val qc = queries
      .withColumn("_n", VectorFunctions.norm(col(vecCol)))
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"),
        sq8CodeExpr(vecCol, "_n").as("qcodes"))
    val scored = cc.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("idot",
        aggregate(zip_with(col("qcodes"), col("ccodes"), (a, b) => a * b),
          lit(0L), (acc, t) => acc + t))
    val coarse = TopK.perGroupTopK(scored,
      groupCols = Seq(col("qid")),
      order = Seq(col("idot").desc, col("vec_id")),
      k = n, salt = col("vec_id"), rankCol = "_crank")
    TopK.perGroupTopK(
        coarse.withColumn("cos", VectorFunctions.cosine(col("qvec"), col("cvec"))),
        groupCols = Seq(col("qid")),
        order = Seq(col("cos").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid"), col("rank"), col("vec_id"), col("idot"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** DuckDB oracle for [[sq8TopK]] — identical normalization, codes,
    * integer coarse rank, and rerank. `corpusSub` yields
    * (vec_id, embedding); `queryPred` filters it to the query set. */
  def sq8TopKSql(corpusSub: String, queryPred: String, k: Int, n: Int,
                 dims: Int): String = {
    val nrm = VectorFunctions.normSql("embedding")
    val code =
      s"list_transform(range(1, ${dims + 1}), i -> CASE WHEN nv > 0 " +
        s"THEN CAST(round((CAST(embedding[i] AS DOUBLE) / nv) * 127.0) " +
        "AS BIGINT) ELSE 0 END)"
    s"WITH corpus AS MATERIALIZED (SELECT vec_id, embedding, $nrm AS nv " +
      s"FROM $corpusSub), " +
      s"cc AS MATERIALIZED (SELECT vec_id, embedding AS cvec, $code AS ccodes " +
      "FROM corpus), " +
      s"qc AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qvec, $code AS qcodes " +
      s"FROM corpus WHERE $queryPred), " +
      "scored AS (SELECT qc.qid, cc.vec_id, cc.cvec, qc.qvec, " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, ${dims + 1}), i -> qcodes[i] * ccodes[i])), " +
      "(acc, t) -> acc + t) AS idot " +
      "FROM cc, qc WHERE cc.vec_id <> qc.qid), " +
      "coarse AS (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY idot DESC, vec_id) AS crank FROM scored), " +
      s"rr AS (SELECT qid, vec_id, idot, ${VectorFunctions.cosineSql("qvec", "cvec")} AS cos " +
      s"FROM coarse WHERE crank <= $n), " +
      "ranked AS (SELECT qid, vec_id, idot, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM rr) " +
      "SELECT qid, rank, vec_id, idot, round(cos, 6) AS cos_sim " +
      s"FROM ranked WHERE rank <= $k"
  }

  /** Multi-round Lloyd k-means over the embedding column — the full
    * (re)training loop [[kmeansUpdate]] is one step of. `iters`
    * assignment rounds with `iters − 1` mean updates between them;
    * output is the final assignment's per-cell size and inertia.
    *
    * Portability is the hard part of iterating: a cross-row float mean
    * is partition-order-dependent, so a naive avg() would feed iteration
    * k+1 centroids that differ between engines (and between runs).
    * Means here are EXACT integer lattice points instead — components
    * quantize to floor(x·2²⁰) (a power-of-two scale: the multiply is
    * exact, floor is engine-identical), sum as overflow-safe longs in
    * any order, and the mean is ONE correctly-rounded double division of
    * the same two integers on both engines. Same rational-lattice move
    * as q_hex_bin (SURVEY §5).
    *
    * Scale shape: each round scans the corpus once against plan-constant
    * centroid literals (k·dims doubles ≈ KBs, the PQ-codebook stance)
    * and reduces map-side to the k×dims sufficient-statistics frame —
    * the ONLY thing the driver ever collects (bounded by k·dims, never
    * the corpus; the round-8 "collapse to the domain frame" pattern).
    * Empty cells keep their previous centroid. For corpus-derived k at
    * 100 TB, seed from [[twoLevelProbes]]' fine cells instead of a flat
    * literal scan; this operator is the small-k trainer (k ≤ ~1024,
    * like the PQ subspace codebooks it would retrain). */
  /** Assignment of every vector to the first cell achieving the minimum
    * strict-fold squared L2 (|e|² − 2e·c + |c|² — identical to an
    * ORDER BY (dist, cid) rn=1 pick) against PLAN-CONSTANT centroid
    * literals. Output: (id, v, cell, dist). Shared by [[kmeansLloyd]]
    * and the streaming mini-batch face, so batch and stream assign with
    * the same operation tree. */
  def assignCells(df: DataFrame, cents: Array[Array[Double]],
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    import graft.plans.Exprs
    import org.apache.spark.sql.graftbridge.PlanBridge
    def dotConst(v: org.apache.spark.sql.Column, w: Array[Double]) =
      PlanBridge.column(Exprs.DotConst(PlanBridge.expression(v),
        w.toIndexedSeq))
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("ee", VectorFunctions.dot(col("v"), col("v")))
    val withD = cents.zipWithIndex.foldLeft(base) { case (d, (cv, i)) =>
      val cc = cv.foldLeft(0.0)((a, x) => a + x * x)
      d.withColumn(s"_d$i",
        col("ee") - lit(2.0) * dotConst(col("v"), cv) + lit(cc))
    }
    val minv = least(cents.indices.map(i => col(s"_d$i")): _*)
    // A NaN embedding component makes every distance NaN. Under Spark's
    // documented NaN semantics (NaN = NaN is true) the row would land
    // SILENTLY in cell 0; under standard-SQL semantics it would land in
    // a phantom null cell that latticeSums aggregates as its own group.
    // Either way the sufficient stats corrupt quietly — guard on the
    // min distance itself and fail loudly (coalesce backstops the
    // no-branch-matched case; Coalesce is lazy, so the error fires only
    // when actually reached).
    val fail = raise_error(concat(
      lit("assignCells: non-finite distance (NaN embedding component?) for id "),
      col("id").cast("string"))).cast("long")
    val cellCase = cents.indices
      .foldLeft(when(lit(false), lit(0L))) { (c, i) =>
        c.when(col(s"_d$i") === minv, lit(i.toLong))
      }
    val cell = when(isnan(minv), fail).otherwise(coalesce(cellCase, fail))
    withD.withColumn("cell", cell).withColumn("dist", minv)
      .select(col("id"), col("v"), col("cell"), col("dist"))
  }

  /** The k×dims sufficient-statistics frame of an [[assignCells]] output:
    * exact integer-lattice component sums (floor(x·2²⁰), order-free) and
    * member counts per (cell, dim). Mergeable by cell-wise addition —
    * what makes the streaming mini-batch fold exact under replay. */
  def latticeSums(assigned: DataFrame): DataFrame =
    assigned.select(col("cell"), posexplode(col("v")).as(Seq("dim", "comp")))
      .groupBy(col("cell"), col("dim"))
      .agg(sum(floor(col("comp").cast("double") * lit(1048576.0))
        .cast("long")).as("sq"), count(lit(1)).as("n"))

  /** Centroids from lattice sufficient stats: sq/(n·2²⁰) where the cell
    * has members, the seed component where it doesn't — ONE correctly-
    * rounded double division, the same arithmetic on every engine. */
  def latticeCentroids(sums: Map[(Long, Int), (Long, Long)],
                       seeds: Array[Array[Double]]): Array[Array[Double]] =
    seeds.zipWithIndex.map { case (sv, cid) =>
      Array.tabulate(sv.length) { d =>
        sums.get((cid.toLong, d)) match {
          case Some((sq, n)) if n > 0 => sq.toDouble / (n.toDouble * 1048576.0)
          case _ => sv(d)
        }
      }
    }

  def kmeansLloyd(candidates: DataFrame, nCentroids: Int, iters: Int = 3,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1 && nCentroids >= 1)
    // Seeds are the nCentroids LOWEST non-negative-id vectors, id-
    // ascending; the emitted cell id is the RANK in that ordering — the
    // same gapped-id-tolerant convention as the PQ `codebook` and the
    // IVF coarse codebook (for a contiguous 0..k−1 id space the rank IS
    // the id, so every oracle pins unchanged values there; a gapped
    // space now ranks instead of crashing).
    val init = candidates.filter(col(idCol) >= 0)
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol))
      .limit(nCentroids)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    require(init.length == nCentroids,
      s"kmeansLloyd seeds need $nCentroids non-negative-id vectors; " +
        s"found ${init.length}")
    val base = candidates.select(col(idCol).as(idCol), col(vecCol).as(vecCol))

    var cents = init.map(_._2)
    for (_ <- 1 until iters) {
      // k×dims sufficient statistics: exact lattice sums, one bounded
      // collect; everything corpus-sized stays distributed. Empty cells
      // keep their previous centroid (latticeCentroids' seed fallback).
      val sums = latticeSums(assignCells(base, cents, idCol, vecCol))
        .collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      cents = latticeCentroids(sums, cents)
    }
    assignCells(base, cents, idCol, vecCol)
      .withColumn("dq", floor(col("dist") * lit(1000000.0)).cast("long"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"), sum(col("dq")).as("iq"))
      .select(col("cell"), col("n"),
        round(col("iq").cast("double") / lit(1000000.0), 6).as("inertia"))
      .orderBy("cell")
  }

  /** DuckDB oracle for [[kmeansLloyd]] — the identical iteration chain
    * unrolled one CTE block per round (the q_louvain convention), with
    * the same lattice sums, coalesce-to-previous empty-cell rule, and
    * double divisions. ASSUMES a contiguous 0..nCentroids−1 id space
    * (cent0 keys cells by vec_id, the operator by seed RANK — identical
    * exactly when the lowest ids are contiguous, which every declared
    * corpus satisfies; a gapped corpus needs a rank CTE here). */
  def kmeansLloydSql(corpusSub: String, nCentroids: Int, iters: Int,
                     dims: Int): String = {
    def dist(e: String, c: String) =
      s"(${VectorFunctions.dotSql(e, e)} - 2.0 * ${VectorFunctions.dotSql(e, c)} + " +
        s"${VectorFunctions.dotSql(c, c)})"
    val rng = s"range(1, ${dims + 1}) t(i)"
    def roundCtes(k: Int): String = {
      val prev = s"cent${k - 1}"
      s"d$k AS (SELECT e.vec_id, c.cid, ${dist("e.embedding", "c.cvec")} AS dist " +
        s"FROM emb e, $prev c), " +
        s"a$k AS (SELECT vec_id, cid, dist, row_number() OVER (" +
        s"PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$k), " +
        s"m$k AS (SELECT a.cid, e.embedding FROM a$k a " +
        "JOIN emb e USING (vec_id) WHERE rn = 1), " +
        s"s$k AS (SELECT cid, CAST(i - 1 AS INTEGER) AS dim, " +
        "CAST(sum(CAST(floor(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) " +
        "* 1048576.0) AS BIGINT)) AS BIGINT) AS sq, " +
        s"CAST(count(*) AS BIGINT) AS n FROM m$k, $rng GROUP BY cid, dim), " +
        s"cent$k AS (SELECT g.cid, list(coalesce(" +
        "CAST(s.sq AS DOUBLE) / (CAST(s.n AS DOUBLE) * 1048576.0), g.prev) " +
        "ORDER BY g.dim) AS cvec " +
        s"FROM (SELECT c.cid, CAST(i - 1 AS INTEGER) AS dim, " +
        s"c.cvec[CAST(i AS INTEGER)] AS prev FROM $prev c, $rng) g " +
        s"LEFT JOIN s$k s ON s.cid = g.cid AND s.dim = g.dim GROUP BY g.cid), "
    }
    val fin = iters
    s"WITH emb AS MATERIALIZED (SELECT vec_id, embedding FROM $corpusSub), " +
      "cent0 AS (SELECT vec_id AS cid, " +
      "list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec " +
      s"FROM $corpusSub WHERE vec_id < $nCentroids), " +
      (1 until iters).map(roundCtes).mkString +
      s"d$fin AS (SELECT e.vec_id, c.cid, ${dist("e.embedding", "c.cvec")} AS dist " +
      s"FROM emb e, cent${fin - 1} c), " +
      s"a$fin AS (SELECT vec_id, cid, dist, row_number() OVER (" +
      s"PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d$fin) " +
      "SELECT cid AS cell, CAST(count(*) AS BIGINT) AS n, " +
      "round(CAST(sum(CAST(floor(dist * 1000000.0) AS BIGINT)) AS DOUBLE) " +
      "/ 1000000.0, 6) AS inertia " +
      s"FROM a$fin WHERE rn = 1 GROUP BY cid ORDER BY cell"
  }

  /** Sign bits of vector components [lo, lo+nBits) packed into one
    * non-negative long (component > 0 → bit i set). nBits <= 32 keeps
    * every addend a distinct positive power of two, so the sum is an
    * exact bit-OR and never overflows on either engine. */
  private def bqWordExpr(vecCol: String, lo: Int,
                         nBits: Int): org.apache.spark.sql.Column =
    (0 until nBits).map { i =>
      when(element_at(col(vecCol), lo + i + 1) > lit(0f), lit(1L << i))
        .otherwise(lit(0L))
    }.reduceLeft(_ + _)

  private def bqWordSql(vecCol: String, lo: Int, nBits: Int): String =
    (0 until nBits).map { i =>
      s"(CASE WHEN $vecCol[${lo + i + 1}] > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Binary-quantization two-stage ANN: 1-bit sign codes, XOR+popcount
    * Hamming coarse scan (top-`n` per query, ascending distance), exact
    * cosine rerank of the survivors (top-`k`). The third quantization
    * family beside [[sq8TopK]] (8-bit scalar) and [[pqTopK]] (product
    * codes): 32× compression — a 64-dim float vector becomes two longs
    * — and the candidate scan costs two XOR+POPCNT instructions per
    * pair instead of a 64-term float dot. Hamming distance between sign
    * codes is a monotone proxy for angular distance (the SRP-LSH
    * estimator: E[hamming]/dims = θ/π), so the coarse order is
    * meaningful and the exact pass repairs its tail.
    *
    * Portability: packing sums literal powers of two gated on the exact
    * float sign test (`component > 0` — no arithmetic before the
    * compare), and the coarse ranking orders by the exact INTEGER
    * Hamming distance, so stage-1 is float-free end to end; the rerank
    * reuses the canonical strict-fold cosine. Recall vs the exact
    * top-k is measured in the spec, not assumed.
    *
    * Scale shape: queries broadcast; candidates scanned once (codes are
    * scan-stage narrow); both rank stages ride the salted two-stage
    * top-k. At 100 TB the packed-code table is the index you persist:
    * 2 longs + id per vector ≈ 24 B/row, so a billion-vector corpus
    * scans from ~24 GB instead of ~256 GB of floats. */
  def bqTopK(candidates: DataFrame, queries: DataFrame, k: Int, n: Int = 20,
             dims: Int = 64, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1 && dims <= 64, s"bqTopK packs <= 64 dims, got $dims")
    val w0 = math.min(32, dims)
    val w1 = dims - w0
    def word1(vc: String) =
      if (w1 > 0) bqWordExpr(vc, 32, w1) else lit(0L)
    val cc = candidates.select(col(idCol).as("vec_id"),
      col(vecCol).as("cvec"),
      bqWordExpr(vecCol, 0, w0).as("b0"), word1(vecCol).as("b1"))
    val qc = queries.select(col(idCol).as("qid"), col(vecCol).as("qvec"),
      bqWordExpr(vecCol, 0, w0).as("q0"), word1(vecCol).as("q1"))
    val scored = cc.crossJoin(broadcast(qc))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("hamming",
        expr("CAST(bit_count(b0 ^ q0) + bit_count(b1 ^ q1) AS BIGINT)"))
    val coarse = TopK.perGroupTopK(scored,
      groupCols = Seq(col("qid")),
      order = Seq(col("hamming"), col("vec_id")),
      k = n, salt = col("vec_id"), rankCol = "_crank")
    TopK.perGroupTopK(
        coarse.withColumn("cos",
          VectorFunctions.cosine(col("qvec"), col("cvec"))),
        groupCols = Seq(col("qid")),
        order = Seq(col("cos").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid"), col("rank"), col("vec_id"), col("hamming"),
        round(col("cos"), 6).as("cos_sim"))
  }

  /** DuckDB oracle for [[bqTopK]] — identical sign packing, integer
    * Hamming coarse rank, and strict-fold rerank. */
  def bqTopKSql(corpusSub: String, queryPred: String, k: Int, n: Int,
                dims: Int): String = {
    val w0 = math.min(32, dims)
    val w1 = dims - w0
    val word1 = if (w1 > 0) bqWordSql("embedding", 32, w1) else "CAST(0 AS BIGINT)"
    s"WITH cc AS MATERIALIZED (SELECT vec_id, embedding AS cvec, " +
      s"${bqWordSql("embedding", 0, w0)} AS b0, $word1 AS b1 FROM $corpusSub), " +
      s"qc AS MATERIALIZED (SELECT vec_id AS qid, embedding AS qvec, " +
      s"${bqWordSql("embedding", 0, w0)} AS q0, $word1 AS q1 " +
      s"FROM $corpusSub WHERE $queryPred), " +
      "scored AS (SELECT qc.qid, cc.vec_id, cc.cvec, qc.qvec, " +
      "CAST(bit_count(xor(b0, q0)) + bit_count(xor(b1, q1)) AS BIGINT) AS hamming " +
      "FROM cc, qc WHERE cc.vec_id <> qc.qid), " +
      "coarse AS (SELECT *, row_number() OVER (PARTITION BY qid " +
      "ORDER BY hamming, vec_id) AS crank FROM scored), " +
      s"rr AS (SELECT qid, vec_id, hamming, " +
      s"${VectorFunctions.cosineSql("qvec", "cvec")} AS cos " +
      s"FROM coarse WHERE crank <= $n), " +
      "ranked AS (SELECT qid, vec_id, hamming, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM rr) " +
      "SELECT qid, rank, vec_id, hamming, round(cos, 6) AS cos_sim " +
      s"FROM ranked WHERE rank <= $k"
  }

  /** Packed sign-code frame (id, b0, b1) — the persisted BQ index:
    * 2 longs + id ≈ 24 B per vector. Shared by [[bqNearDup]] and the
    * streaming admission face, so batch and stream band the SAME codes
    * (the one-definition-per-metric convention). */
  def bqCodes(df: DataFrame, dims: Int = 64, idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    require(dims >= 1 && dims <= 64, s"bq codes pack <= 64 dims, got $dims")
    val w0 = math.min(32, dims)
    val w1 = dims - w0
    df.select(col(idCol).as("id"),
      bqWordExpr(vecCol, 0, w0).as("b0"),
      (if (w1 > 0) bqWordExpr(vecCol, 32, w1) else lit(0L)).as("b1"))
  }

  /** 4 contiguous bit slices (lo, len) covering EXACTLY the `dims` real
    * sign bits, as evenly as possible (sizes ⌈dims/4⌉ / ⌊dims/4⌋). For
    * dims = 64 this is the original 16/16/16/16 layout (every declared
    * oracle unchanged); for dims < 64 the bands shrink WITH the vector —
    * the fixed 16-bit slices left whole bands identically zero below
    * dims ≤ 48, so every vector collided on the constant band key and
    * the band join degenerated to a full cross product in one bucket
    * (quadratic verification; recall stayed exact, the scale shape
    * didn't). dims ≥ 4 keeps all 4 bands non-empty, preserving the
    * maxHamming ≤ 3 pigeonhole. */
  private[graft] def bandSlices(dims: Int): IndexedSeq[(Int, Int)] = {
    require(dims >= 4 && dims <= 64,
      s"4 non-empty sign-bit bands need 4 <= dims <= 64, got $dims")
    val base = dims / 4
    val extra = dims % 4
    val sizes = IndexedSeq.tabulate(4)(i => base + (if (i < extra) 1 else 0))
    sizes.scanLeft(0)(_ + _).zip(sizes)
  }

  /** SQL expression for the band value at bit slice [lo, lo+len) of the
    * packed words `w0` (bits 0–31) / `w1` (bits 32–63) — shared verbatim
    * by the Spark side (expr) and the DuckDB oracles, including the
    * word-boundary-spanning case (32 < dims < 64, non-multiple-of-4).
    * Words are non-negative, so `>>` needs no unsigned variant. */
  private def bandValSql(lo: Int, len: Int, w0: String = "b0",
                         w1: String = "b1"): String = {
    val hi = lo + len
    if (hi <= 32) s"(($w0 >> $lo) & ${(1L << len) - 1})"
    else if (lo >= 32) s"(($w1 >> ${lo - 32}) & ${(1L << len) - 1})"
    else {
      val lowBits = 32 - lo
      val highBits = len - lowBits
      s"((($w0 >> $lo) & ${(1L << lowBits) - 1}) + " +
        s"(($w1 & ${(1L << highBits) - 1}) * ${1L << lowBits}))"
    }
  }

  /** The 4-band explode of a packed-code frame: one row per (id, bkey)
    * where bkey = band·2¹⁶ + bval — band and value packed into ONE join
    * column so the persisted index can bucket by exactly the join key
    * (a composite (band, bval) key would forfeit the bucketed scan:
    * Spark's co-partition check wants join keys == bucket keys). Band
    * boundaries come from [[bandSlices]] (dims-derived — only REAL sign
    * bits band). Disjoint bands make the candidate set EXACT by
    * pigeonhole — maxHamming ≤ 3 differing bits can touch at most 3 of
    * the 4 bands, so every qualifying pair exact-matches on ≥ 1 band. */
  private def bqBands(codes: DataFrame, dims: Int): DataFrame =
    codes.select(col("id"), col("b0"), col("b1"),
      explode(array(bandSlices(dims).zipWithIndex.map {
        case ((lo, len), band) =>
          expr(s"($band * 65536) + ${bandValSql(lo, len)}")
      }: _*)).as("bkey"))
      .select(col("id"), col("b0"), col("b1"), col("bkey"))

  private def bqHamming(a0: String, a1: String, b0: String, b1: String) =
    expr(s"CAST(bit_count($a0 ^ $b0) + bit_count($a1 ^ $b1) AS BIGINT)")

  /** Exact Hamming near-duplicate pairs over binary-quantized embeddings
    * (multi-index Hamming, Norouzi 2012 / the simhash-dedup pigeonhole):
    * pairs (a, b, hamming ≤ `maxHamming`) with EXACT recall — unlike
    * MinHash/hyperplane LSH there is no missed-pair probability, because
    * disjoint 16-bit bands + maxHamming ≤ 3 guarantee a band collision.
    *
    * Scale shape: only (band, bval) keys shuffle — 4 rows of 3 longs per
    * vector, never the floats; candidate verification is two XOR+POPCNT
    * per pair; the distinct collapses multi-band collisions (a pair at
    * hamming 0 meets in all 4 buckets). Band-bucket skew mirrors the
    * simhash family: a degenerate corpus (all-equal signs) concentrates
    * one bucket — cap or pre-thin upstream if signs are not spread. */
  def bqNearDup(df: DataFrame, maxHamming: Int = 3, dims: Int = 64,
                idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 disjoint bands give exact recall only for maxHamming <= 3, got $maxHamming")
    val bands = bqBands(bqCodes(df, dims, idCol, vecCol), dims)
    val l = bands.select(col("id").as("a"), col("b0").as("a0"),
      col("b1").as("a1"), col("bkey"))
    val r = bands.select(col("id").as("b"), col("b0").as("_b0"),
      col("b1").as("_b1"), col("bkey"))
    l.join(r, Seq("bkey"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        bqHamming("a0", "a1", "_b0", "_b1").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Incremental BQ admission: candidate re-upload pairs between a small
    * `batch` and a persisted packed-code index (the [[bqCodes]] frame) —
    * (new_id, dup_of, hamming ≤ maxHamming), exact recall by the same
    * 4-band pigeonhole as [[bqNearDup]]. The asymmetric sibling: only
    * the BATCH side is new work, the index is probed by (band, bval)
    * key — per-batch cost ∝ batch size × bucket occupancy, never a
    * corpus rescan (the stream_admit economics at 24 B/vector state). */
  def bqAdmitIndexed(indexCodes: DataFrame, batch: DataFrame,
                     maxHamming: Int = 3, dims: Int = 64,
                     idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame =
    bqAdmitBanded(bqBands(indexCodes, dims), batch, maxHamming, dims, idCol,
      vecCol)

  /** The banded probe core shared by [[bqAdmitIndexed]] (in-memory index)
    * and [[bqAdmitTable]] (persisted bucketed index): `indexBands` is the
    * (id, b0, b1, band, bval) frame either way, so both paths run the
    * identical join + popcount verify. */
  private def bqAdmitBanded(indexBands: DataFrame, batch: DataFrame,
                            maxHamming: Int, dims: Int,
                            idCol: String, vecCol: String): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 disjoint bands give exact recall only for maxHamming <= 3, got $maxHamming")
    val ib = indexBands.select(col("id").as("dup_of"),
      col("b0").as("_b0"), col("b1").as("_b1"), col("bkey"))
    val bb = bqBands(bqCodes(batch, dims, idCol, vecCol), dims)
      .select(col("id").as("new_id"), col("b0").as("a0"),
        col("b1").as("a1"), col("bkey"))
    ib.join(bb, Seq("bkey"))
      .filter(col("new_id") =!= col("dup_of"))
      .select(col("new_id"), col("dup_of"),
        bqHamming("a0", "a1", "_b0", "_b1").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Persist the banded code index BUCKETED by bval — [[writeIvfIndex]]'s
    * stance for the BQ family. The probe join's keys (band, bval) are a
    * superset of the bucket column, so the corpus side reads CO-LOCATED
    * (zero shuffle on the billion-vector side; only the micro-batch
    * shuffles to the bucketing) — and the index is 4 band rows × 3 longs
    * per vector, never the floats. */
  def writeBqIndex(df: DataFrame, table: String, numBuckets: Int = 32,
                   dims: Int = 64, idCol: String = "vec_id",
                   vecCol: String = "embedding"): Unit = {
    bqBands(bqCodes(df, dims, idCol, vecCol), dims)
      .write.mode("overwrite")
      .bucketBy(numBuckets, "bkey")
      .sortBy("bkey")
      .saveAsTable(table)
    // band-layout STAMP (r17): bandSlices derives the bkey layout from
    // dims, so a table banded at one dims probed at another silently
    // misses candidates — the "EXACT recall" pigeonhole breaks with no
    // error. The stamp makes the probe validate the layout it assumes.
    df.sparkSession.range(1)
      .select(lit(dims).as("dims"), lit(bqLayoutString(dims)).as("bands"),
        lit(BqIndexFormat).as("fmt"))
      .write.mode("overwrite").saveAsTable(s"${table}_meta")
  }

  /** Format stamp for [[writeBqIndex]] meta tables — its OWN constant, not
    * [[IvfIndexFormat]] (r17 stamped the IVF parquet-layout version here,
    * so an IVF format bump would have silently changed the stamp written
    * into unrelated BQ tables; only dims/bands are validated today, but a
    * future compat check must compare against the right lineage). 1 = the
    * r17 banded-bucketed layout. */
  val BqIndexFormat: Int = 1

  /** The stamped band layout: [[bandSlices]] rendered "lo+len,..." —
    * written by [[writeBqIndex]], validated by [[bqAdmitTable]]. */
  private def bqLayoutString(dims: Int): String =
    bandSlices(dims).map { case (lo, len) => s"$lo+$len" }.mkString(",")

  /** BQ admission against a [[writeBqIndex]] table. Validates the stored
    * band-layout stamp before probing: a mismatched dims (or a pre-stamp
    * table banded with the retired fixed 16-bit slices at dims < 64)
    * would produce bkeys that never collide with the stored ones —
    * exact-recall loss with zero errors. Unstamped tables are accepted
    * only at dims = 64, where the fixed and derived layouts coincide. */
  def bqAdmitTable(spark: org.apache.spark.sql.SparkSession, table: String,
                   batch: DataFrame, maxHamming: Int = 3, dims: Int = 64,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val metaName = s"${table}_meta"
    if (spark.catalog.tableExists(metaName)) {
      val m = spark.table(metaName).first()
      require(m.getAs[Int]("dims") == dims &&
        m.getAs[String]("bands") == bqLayoutString(dims),
        s"bq index '$table' is stamped dims=${m.getAs[Int]("dims")} " +
          s"bands=${m.getAs[String]("bands")} but the probe assumes dims=$dims " +
          s"bands=${bqLayoutString(dims)} — probing would silently miss " +
          "candidates; rebuild the index or probe with the stored dims")
    } else require(dims == 64,
      s"bq index '$table' carries no band-layout stamp (pre-r17 table); " +
        "only the dims=64 layout is stamp-free-compatible — rebuild with " +
        "writeBqIndex to stamp it")
    bqAdmitBanded(spark.table(table), batch, maxHamming, dims, idCol, vecCol)
  }

  /** DuckDB side of [[bandSlices]]+[[bandValSql]]: the band-value CASE
    * over the exploded band index `u.band` — the identical dims-derived
    * slices the Spark side bands with. */
  private def bandCaseSql(dims: Int): String =
    "CASE u.band " + bandSlices(dims).zipWithIndex.map {
      case ((lo, len), b) =>
        if (b < 3) s"WHEN $b THEN ${bandValSql(lo, len)}"
        else s"ELSE ${bandValSql(lo, len)}"
    }.mkString(" ") + " END"

  /** DuckDB oracle for [[bqNearDup]] — identical packing, band explode,
    * join, popcount verify, and distinct. */
  def bqNearDupSql(corpusSub: String, maxHamming: Int, dims: Int): String = {
    val w0 = math.min(32, dims)
    val w1 = dims - w0
    val word1 = if (w1 > 0) bqWordSql("embedding", 32, w1) else "CAST(0 AS BIGINT)"
    s"WITH codes AS MATERIALIZED (SELECT vec_id AS id, " +
      s"${bqWordSql("embedding", 0, w0)} AS b0, $word1 AS b1 FROM $corpusSub), " +
      "bands AS (SELECT id, b0, b1, u.band, " +
      s"${bandCaseSql(dims)} AS bval " +
      "FROM codes, (SELECT unnest([0, 1, 2, 3]) AS band) u) " +
      "SELECT DISTINCT l.id AS a, r.id AS b, " +
      "CAST(bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1)) AS BIGINT) AS hamming " +
      "FROM bands l JOIN bands r ON l.band = r.band AND l.bval = r.bval " +
      "AND l.id < r.id " +
      "WHERE CAST(bit_count(xor(l.b0, r.b0)) + bit_count(xor(l.b1, r.b1)) AS BIGINT) " +
      s"<= $maxHamming"
  }

  /** DuckDB oracle for [[bqAdmitIndexed]] over a corpus + batch pair of
    * (vec_id, embedding) subqueries — identical packing, band explode,
    * asymmetric join, popcount verify, and distinct. */
  def bqAdmitSql(corpusSub: String, batchSub: String, maxHamming: Int,
                 dims: Int): String = {
    val w0 = math.min(32, dims)
    val w1 = dims - w0
    val word1 = if (w1 > 0) bqWordSql("embedding", 32, w1) else "CAST(0 AS BIGINT)"
    val bandCase = bandCaseSql(dims)
    val ham = "CAST(bit_count(xor(b.b0, i.b0)) + " +
      "bit_count(xor(b.b1, i.b1)) AS BIGINT)"
    s"WITH ic AS MATERIALIZED (SELECT vec_id AS id, " +
      s"${bqWordSql("embedding", 0, w0)} AS b0, $word1 AS b1 FROM $corpusSub), " +
      s"bc AS MATERIALIZED (SELECT vec_id AS id, " +
      s"${bqWordSql("embedding", 0, w0)} AS b0, $word1 AS b1 FROM $batchSub), " +
      s"ibd AS (SELECT id, b0, b1, u.band, $bandCase AS bval " +
      "FROM ic, (SELECT unnest([0, 1, 2, 3]) AS band) u), " +
      s"bbd AS (SELECT id, b0, b1, u.band, $bandCase AS bval " +
      "FROM bc, (SELECT unnest([0, 1, 2, 3]) AS band) u) " +
      s"SELECT DISTINCT b.id AS new_id, i.id AS dup_of, $ham AS hamming " +
      "FROM ibd i JOIN bbd b ON i.band = b.band AND i.bval = b.bval " +
      s"AND b.id <> i.id WHERE $ham <= $maxHamming"
  }

  /** MMR (maximal marginal relevance) diversified rerank: from each
    * query's top-`n` relevance candidates, greedily select `k` results,
    * step score = λ·rel − (1−λ)·max sim to the already-selected set
    * (step 1 has no diversity term). The standard redundancy-killer when
    * near-duplicate corpus entries would otherwise fill the whole top-k.
    *
    * Scale shape: the corpus is touched ONLY by the stage-1 retriever
    * ([[cosineTopK]] or any ANN sibling); everything here is bounded by
    * |queries|·n — the candidate×candidate sim frame is n² per query and
    * the greedy loop unrolls k−1 set-based rounds (anti-join, max-sim
    * aggregate, one domain-bounded argmax window over ≤ n rows per
    * query). No driver-side loop over queries.
    *
    * Portability: rel and pairwise sims enter as rounded-6 doubles (the
    * canonical score face) and are immediately lifted to EXACT micro-unit
    * integers; λ is a tenths fraction, so every step score is the exact
    * integer λ₁₀·relμ − (10−λ₁₀)·msμ — argmaxes compare integers, never
    * doubles near a decimal half-boundary (λ·(6-decimal rel) lands ON the
    * 7th-decimal .5 whenever rel's last digit is odd — a double round
    * there diverges cross-engine; integers cannot). The reported score is
    * one exact division of the integer by 10⁷. `candidates` must carry
    * (idCol, vecCol); `ranked` is a (qid, rank, vec_id, rel) stage-1
    * output. */
  def mmrRerank(ranked: DataFrame, candidates: DataFrame, k: Int,
                lambdaTenths: Int = 7, idCol: String = "vec_id",
                vecCol: String = "embedding"): DataFrame = PB.scoped {
    import org.apache.spark.sql.expressions.Window
    require(lambdaTenths >= 0 && lambdaTenths <= 10,
      s"lambdaTenths must be in [0,10], got $lambdaTenths")
    val lamN = lambdaTenths.toLong
    val oneMinusN = 10L - lamN
    def micro(c: org.apache.spark.sql.Column) =
      round(c * lit(1000000.0)).cast("long")
    // r19: cand feeds SIX consumers (both sides of the sim self-join,
    // sel1, and every step's anti-join remainder) and its lineage is the
    // whole stage-1 retriever — un-checkpointed, the corpus scan + score
    // + top-k window re-evaluated per consumer (measured: q_mmr_rerank
    // spent most of its 42 jobs re-running cosineTopK). One eager
    // checkpoint of the |queries|·n-row frame.
    val cand = ranked
      .select(col("qid"), col("rank"), col("vec_id"),
        micro(col("rel")).as("relu"))
      .transform(PB.localCheckpoint)
    val vu = candidates.select(col(idCol).as("u"), col(vecCol).as("uvec"))
    val vv = candidates.select(col(idCol).as("v"), col(vecCol).as("vvec"))
    val sim = cand.select(col("qid"), col("vec_id").as("u"))
      .join(cand.select(col("qid"), col("vec_id").as("v")), Seq("qid"))
      .filter(col("u") =!= col("v"))
      .join(vu, Seq("u")).join(vv, Seq("v"))
      .select(col("qid"), col("u"), col("v"),
        micro(round(VectorFunctions.cosine(col("uvec"), col("vvec")), 6))
          .as("su"))
      .transform(PB.localCheckpoint)
    def score(sc: org.apache.spark.sql.Column) =
      (sc.cast("double") / lit(10000000.0)).as("mmr_score")
    var sel = cand.filter(col("rank") === 1)
      .select(col("qid"), lit(1).as("step"), col("vec_id"),
        (lit(lamN) * col("relu")).as("scu"))
    for (t <- 2 to k) {
      val rem = cand.join(sel.select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_anti")
      val ms = sim
        .join(sel.select(col("qid"), col("vec_id").as("v")), Seq("qid", "v"),
          "left_semi")
        .groupBy(col("qid"), col("u")).agg(max(col("su")).as("msu"))
      val scored = rem
        .join(ms.withColumnRenamed("u", "vec_id"), Seq("qid", "vec_id"))
        .withColumn("scu", lit(lamN) * col("relu") - lit(oneMinusN) * col("msu"))
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("scu").desc, col("vec_id"))
      // the per-round localCheckpoint is LOAD-BEARING: sel feeds the next
      // round's anti-join, semi-join AND the union, so without it every
      // branch re-executes the whole upstream chain per round (measured
      // 2x slower un-checkpointed at sf0.1; lazy shared checkpoints also
      // measured slower — r18 negative result #5)
      val prevSel = sel
      sel = sel.unionByName(scored
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .select(col("qid"), lit(t).as("step"), col("vec_id"), col("scu"))
        ).transform(PB.localCheckpoint)
      // the superseded step's rows are materialized INTO the new
      // checkpoint — release its blocks (no-op on step 2: sel1 is not a
      // checkpoint)
      PB.release(prevSel)
    }
    sel.select(col("qid"), col("step"), col("vec_id"), score(col("scu")))
  }

  /** DuckDB oracle for [[mmrRerank]] — the identical unrolled greedy
    * chain over the same micro-unit integers. `rankedSub` yields
    * (qid, rank, vec_id, rel); `vecsSub` yields (vec_id, embedding);
    * `simExpr(a, b)` must be the cosine the Spark side computes (rounded
    * here exactly as there). CTEs referenced more than once are
    * MATERIALIZED (see [[GraphOps.kCoreSql]]'s inlining note). */
  def mmrRerankSql(rankedSub: String, vecsSub: String, simExpr: (String, String) => String,
                   k: Int, lambdaTenths: Int = 7): String = {
    val lamN = lambdaTenths
    val oneMinusN = 10 - lambdaTenths
    val sb = new StringBuilder
    sb ++= "WITH cand AS MATERIALIZED (SELECT qid, rank, vec_id, " +
      s"CAST(round(rel * 1000000.0) AS BIGINT) AS relu FROM $rankedSub), "
    sb ++= s"vx AS (SELECT vec_id, embedding FROM $vecsSub), "
    sb ++= "sim AS MATERIALIZED (SELECT a.qid, a.vec_id AS u, b.vec_id AS v, " +
      s"CAST(round(round(${simExpr("va.embedding", "vb.embedding")}, 6) " +
      "* 1000000.0) AS BIGINT) AS su " +
      "FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id " +
      "JOIN vx va ON a.vec_id = va.vec_id JOIN vx vb ON b.vec_id = vb.vec_id), "
    sb ++= "sel1 AS MATERIALIZED (SELECT qid, 1 AS step, vec_id, " +
      s"$lamN * relu AS scu FROM cand WHERE rank = 1)"
    for (t <- 2 to k) {
      val prev = (1 until t).map(i => s"SELECT qid, vec_id FROM sel$i")
        .mkString(" UNION ALL ")
      sb ++= s", picked${t - 1} AS MATERIALIZED ($prev)"
      sb ++= s", rem$t AS (SELECT c.* FROM cand c WHERE NOT EXISTS " +
        s"(SELECT 1 FROM picked${t - 1} p WHERE p.qid = c.qid AND " +
        "p.vec_id = c.vec_id))"
      sb ++= s", ms$t AS (SELECT sim.qid, sim.u, max(sim.su) AS msu FROM sim " +
        s"JOIN picked${t - 1} p ON sim.qid = p.qid AND sim.v = p.vec_id " +
        "GROUP BY sim.qid, sim.u)"
      sb ++= s", scored$t AS (SELECT r.qid, r.vec_id, " +
        s"$lamN * r.relu - $oneMinusN * m.msu AS scu, " +
        "row_number() OVER (PARTITION BY r.qid ORDER BY " +
        s"$lamN * r.relu - $oneMinusN * m.msu DESC, r.vec_id) AS rn " +
        s"FROM rem$t r JOIN ms$t m ON r.qid = m.qid AND r.vec_id = m.u)"
      sb ++= s", sel$t AS MATERIALIZED (SELECT qid, $t AS step, vec_id, scu " +
        s"FROM scored$t WHERE rn = 1)"
    }
    sb ++= " SELECT qid, step, vec_id, " +
      "CAST(scu AS DOUBLE) / 10000000.0 AS mmr_score FROM (" +
      (1 to k).map(t => s"SELECT * FROM sel$t").mkString(" UNION ALL ") + ") allsel"
    sb.toString
  }

  /** Retrieval-quality metrics of an approximate ranking against the
    * exact one — the ANN twin of [[Dedup.lshRecall]]'s "measure, don't
    * assume" stance: recall@k (share of true top-k retrieved) and MRR
    * (mean reciprocal rank of the TRUE nearest neighbor in the approx
    * list — the "did the right answer surface near the top" signal
    * recall@k can't see). Run whenever bands/rowsPerBand/nprobe change:
    * the S-curve predicts recall, this measures it on YOUR vectors.
    *
    * Scale shape: inputs are |queries|·k rows (corpus work happened in
    * the retrievers); one (qid, vec_id) join + per-query counts. Integer
    * hit counts are partitioning-invariant; the reciprocal-rank mean is
    * one ordered cumsum fold over the QUERY frame (domain-bounded) so
    * the float result is bit-identical on both engines.
    *
    * Inputs carry (qid, rank, vec_id). Output: one row (n_queries,
    * n_hits, recall_at_k, mrr), floats rounded 6. */
  def retrievalMetrics(truth: DataFrame, approx: DataFrame,
                       k: Int): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    // t feeds TWO consumers (hits + the n_truth denominator groupBy); no
    // DataFrame CSE means the truth retriever's whole subtree (corpus
    // scan + scoring + top-k window) would run twice per metrics call —
    // shared-checkpoint the slim |queries|·k projection (r18): lazily
    // materialized by the hits checkpoint's action, read by the final
    // action's groupBy; one evaluation, zero extra jobs (an EAGER
    // checkpoint here measured +0.15-0.2 s/query at sf0.1 — pure action
    // overhead).
    val t = PB.sharedLocalCheckpoint(
      truth.select(col("qid"), col("vec_id"), col("rank").as("t_rank")))
    val a = approx.select(col("qid"), col("vec_id"), col("rank").as("a_rank"))
    val hits = t.join(a, Seq("qid", "vec_id")).transform(PB.localCheckpoint)
    // recall denominator = ACTUAL truth-list sizes (a corpus smaller than
    // k would otherwise cap recall below 1 even for a perfect retriever)
    val perQ = t.groupBy("qid").agg(count(lit(1)).as("n_truth"))
      .join(hits.groupBy("qid").agg(count(lit(1)).as("n_hit")), Seq("qid"), "left")
      .join(hits.filter(col("t_rank") === 1)
        .select(col("qid"), (lit(1.0) / col("a_rank").cast("double")).as("rr")),
        Seq("qid"), "left")
      .select(col("qid"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("rr"), lit(0.0)).as("rr"))
    val ordq = W.orderBy("qid")
    perQ
      .withColumn("cum_rr", sum(col("rr")).over(
        ordq.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("cum_hit", sum(col("n_hit")).over(
        ordq.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("cum_truth", sum(col("n_truth")).over(
        ordq.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rn", row_number().over(ordq))
      .withColumn("nc", count(lit(1)).over())
      .filter(col("rn") === col("nc"))
      .select(col("nc").cast("long").as("n_queries"),
        col("cum_hit").as("n_hits"),
        round(col("cum_hit").cast("double") /
          col("cum_truth").cast("double"), 6).as("recall_at_k"),
        round(col("cum_rr") / col("nc").cast("double"), 6).as("mrr"))
  }

  /** DuckDB oracle for [[retrievalMetrics]] — identical join, counts and
    * ordered folds. `truthSub`/`approxSub` yield (qid, rank, vec_id). */
  def retrievalMetricsSql(truthSub: String, approxSub: String,
                          k: Int): String =
    s"WITH t AS (SELECT qid, vec_id, rank AS t_rank FROM $truthSub), " +
      s"a AS (SELECT qid, vec_id, rank AS a_rank FROM $approxSub), " +
      "hits AS (SELECT t.qid, t.vec_id, t.t_rank, a.a_rank FROM t " +
      "JOIN a ON t.qid = a.qid AND t.vec_id = a.vec_id), " +
      "perq AS (SELECT q.qid, q.n_truth, coalesce(h.n_hit, 0) AS n_hit, " +
      "coalesce(rr.rr, 0.0) AS rr FROM " +
      "(SELECT qid, CAST(count(*) AS BIGINT) AS n_truth FROM t GROUP BY qid) q " +
      "LEFT JOIN (SELECT qid, CAST(count(*) AS BIGINT) AS n_hit FROM hits " +
      "GROUP BY qid) h ON q.qid = h.qid " +
      "LEFT JOIN (SELECT qid, CAST(1.0 AS DOUBLE) / CAST(a_rank AS DOUBLE) AS rr " +
      "FROM hits WHERE t_rank = 1) rr ON q.qid = rr.qid), " +
      "f AS (SELECT " +
      "sum(rr) OVER (ORDER BY qid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rr, " +
      "sum(n_hit) OVER (ORDER BY qid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_hit, " +
      "sum(n_truth) OVER (ORDER BY qid ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_truth, " +
      "row_number() OVER (ORDER BY qid) AS rn, count(*) OVER () AS nc FROM perq) " +
      "SELECT CAST(nc AS BIGINT) AS n_queries, CAST(cum_hit AS BIGINT) AS n_hits, " +
      "round(CAST(cum_hit AS DOUBLE) / CAST(cum_truth AS DOUBLE), 6) AS recall_at_k, " +
      "round(cum_rr / CAST(nc AS DOUBLE), 6) AS mrr " +
      "FROM f WHERE rn = nc"

  /** k-NN graph over ALL vectors via IVF cells — the batch graph-build
    * behind SemDeDup-style clustering, label propagation and graph-based
    * diversity sampling: every vector gets its k nearest (by cosine)
    * among the members of its `nprobe` closest cells. Unlike [[ivfTopK]]
    * (broadcast QUERY side — right when queries are few), every vector is
    * a query here, so the join is the SYMMETRIC cell join: probes carry
    * (id, vec, cell) for their nprobe cells, candidates for their one
    * home cell, and the only corpus-sized shuffle is keyed on the CELL id
    * — join degree bounded by cell population (the SemDeDup partition
    * argument), never corpus size. A candidate lives in exactly one home
    * cell, so a (probe, candidate) pair arises at most once — no distinct
    * pass needed. Recall < 1 by design (neighbors outside the probed
    * cells are missed) — measured against brute force in the spec; hot
    * cells bound the skew the same way IVF probes do (retrain centroids
    * via [[kmeansUpdate]] to rebalance).
    *
    * Output: (src, rank, dst, cos_sim) — corpus × k edges, rounded 6. */
  def knnGraph(candidates: DataFrame, k: Int, nCentroids: Int = 16,
               nprobe: Int = 2, idCol: String = "vec_id",
               vecCol: String = "embedding"): DataFrame = {
    // TWO-LEVEL assignment (twoLevelProbes): with the corpus-derived
    // cell count this costs n·√cells flops and a √cells-row driver
    // codebook — the single-level kernel was n·cells = n²/targetCell
    // flops against a cells-sized (corpus-proportional) plan constant.
    // The two consumers below recompute the assignment subtree (Spark
    // does not CSE) — MEASURED at sf1 (r16): materializing it via
    // localCheckpoint is a wash (3.51s vs 3.49s) because the symmetric
    // cell join dominates, so the corpus-sized vector materialization
    // is not paid. A graph REBUILT repeatedly should persist the
    // assignment once via writeIvfIndex's cell-partitioned layout.
    val asg = twoLevelProbes(candidates, nCentroids, nprobe,
      idCol = idCol, vecCol = vecCol)
    val cells = asg.filter(col("rn") === 1)
      .select(col("id"), col("vec").as("cvec2"), col("cell"))
    val probes = asg
      .select(col("id").as("qid"), col("vec").as("qvec2"), col("cell"))
    val scored = probes.join(cells, Seq("cell"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("vec_id"),
        VectorFunctions.cosine(col("qvec2"), col("cvec2")).as("cos_sim"))
    TopK.perGroupTopK(scored,
        groupCols = Seq(col("qid")),
        order = Seq(col("cos_sim").desc, col("vec_id")),
        k = k, salt = col("vec_id"), rankCol = "rank")
      .select(col("qid").as("src"), col("rank"), col("vec_id").as("dst"),
        round(col("cos_sim"), 6).as("cos_sim"))
  }

  /** Collected codebook (tiny: nCodes × dims floats): the `nCodes`
    * LOWEST-id non-negative vectors, id-ascending. The emitted code is
    * the RANK in this ordering — for a contiguous 0..nCodes−1 id space
    * the rank IS the id (the original convention, so every oracle and
    * code value is unchanged there), and a gapped id space now ranks
    * instead of crashing (the r14 collectCentroids lesson applied to
    * the PQ family). The ADC LUT probe indexes an array by code, and
    * the LUT arrays are built from this same ordering, so code → LUT
    * position stays consistent by construction. */
  private def codebook(candidates: DataFrame, nCodes: Int,
                       idCol: String, vecCol: String): Array[(Long, Array[Float])] = {
    val cb = candidates
      .filter(col(idCol) >= 0)
      .select(col(idCol).cast("long"), col(vecCol))
      .orderBy(col(idCol))
      .limit(nCodes)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    require(cb.length == nCodes,
      s"codebook needs $nCodes non-negative-id vectors, found ${cb.length}")
    cb
  }

  /** Strict-fold sub-block dot product — the driver-side twin of
    * dotSql/DotConst arithmetic (same product casts, same left fold from
    * 0.0), so driver-computed distance constants are bit-identical to
    * what either engine computes from the table floats. */
  private def subDot(a: Array[Float], b: Array[Float], off: Int, sub: Int): Double =
    (0 until sub).map(i => a(off + i).toDouble * b(off + i).toDouble)
      .foldLeft(0.0)(_ + _)

  /** Product-quantization encoder — the embedding-COMPRESSION scale path:
    * each vector's `dims` floats become `m` small codes (one byte each at
    * nCodes <= 256), a ~dims*4/m reduction that is what makes storing and
    * scanning billions of embeddings tractable (IVF prunes which vectors
    * a query reads; PQ shrinks what each read costs — production ANN
    * indexes stack both).
    *
    * Codebook convention matches [[centroidRanks]]: sub-codewords are the
    * first `nCodes` vectors' sub-blocks (a deterministic stand-in for a
    * trained codebook — [[kmeansUpdate]] per block is the trainer). The
    * codebook is COLLECTED once (nCodes × dims floats — KBs) and embedded
    * as plan constants, so encoding is a pure scan-stage projection:
    * zero joins, zero shuffles, fully codegen'd at any corpus size.
    * Distances use the same strict-fold double arithmetic as every other
    * vector op (DotFold/DotConst vs dotSql), so codes — including
    * argmin ties, broken by codeword id — are engine-exact and the
    * declared query hash-verifies against DuckDB.
    *
    * @return (idCol, code_0 … code_{m-1}) — one row per vector. */
  def pqEncode(candidates: DataFrame, m: Int = 4, nCodes: Int = 8,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    pqEncodeWith(candidates, codebook(candidates, nCodes, idCol, vecCol),
      m, idCol, vecCol)

  /** [[pqEncode]] against an already-collected codebook — so callers
    * that also need the codebook driver-side (the ADC query path) pay
    * the collect and the candidate scan once, not twice. */
  private def pqEncodeWith(candidates: DataFrame,
                           cb: Array[(Long, Array[Float])], m: Int,
                           idCol: String, vecCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val dims = cb.head._2.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m sub-blocks")
    val sub = dims / m
    val codeCols = (0 until m).map { j =>
      val sv = slice(col(vecCol), j * sub + 1, sub)
      val svv = VectorFunctions.dot(sv, sv)
      val perCode = cb.zipWithIndex.map { case ((_, v), rank) =>
        val cw = v.slice(j * sub, (j + 1) * sub).map(_.toDouble).toSeq
        // codeword self-product folded in the same order as dotSql's
        // list_reduce, so the literal equals DuckDB's computed value bit
        // for bit
        val cc = cw.map(x => x * x).foldLeft(0.0)(_ + _)
        val d = svv - lit(2.0) * PlanBridge.column(
          graft.plans.Exprs.DotConst(PlanBridge.expression(sv), cw)) + lit(cc)
        // the code is the codebook RANK (== the id for contiguous id
        // spaces; see `codebook`) — ties break toward the lowest rank,
        // i.e. the lowest codeword id, the original tie rule
        struct(d.as("d"), lit(rank.toLong).as("c"))
      }
      array_min(array(perCode.toIndexedSeq: _*)).getField("c").as(s"code_$j")
    }
    candidates.select(col(idCol) +: codeCols: _*)
  }

  /** PQ-ADC top-k — the QUERY path over [[pqEncode]]'s codes: each query
    * compiles a per-block lookup table (its distance to every codeword —
    * m × nCodes doubles, computed driver-side with the shared strict-fold
    * arithmetic) into the plan, and a candidate's approximate distance is
    * m table probes summed — the scan never touches the original floats.
    * That is the PQ economics at 100 TB: the heavy read is m codes per
    * vector instead of dims × 4 bytes, with the LUTs riding the closure.
    *
    * One scan scores ALL queries (codes → explode over the per-query
    * struct array), then the salted two-stage top-k reduces per query.
    * Approximate by construction (quantization error), so the spec pins
    * recall against the exact scan; the declared query's DuckDB oracle
    * recomputes the identical codes, LUT entries and tie-breaks, so the
    * APPROXIMATION ITSELF is hash-verified — both engines agree on every
    * ranked distance bit for bit. */
  /** LUT literals grow as |queries| x m x nCodes doubles INSIDE the plan
    * (and, for pqAdcTopK, one struct per query in the explode array), so
    * an unbounded query batch eventually blows plan compilation long
    * before it blows the executors. Batches above this size are CHUNKED:
    * each chunk compiles its own bounded plan and the per-query top-k
    * results union (exact — top-k is per qid, chunks partition qids).
    * 1024 queries x 4 blocks x 8 codes = 32k doubles per chunk plan,
    * comfortably inside codegen/analysis budgets; raise deliberately if
    * profiling says so, never implicitly. */
  val MaxPqQueryBatch: Int = 1024

  /** Chunk plans the LUT-literal PQ path will compile before the face
    * switches to the DISTRIBUTED-LUT plan. The r17 faces collected the
    * full query frame to the driver unguarded — chunkedUnion bounded
    * PLAN size per chunk, not driver memory, so a corpus-sized query
    * frame OOMed the driver before the first chunk compiled (and past a
    * few dozen chunks the unioned plan itself is the bottleneck). The
    * batch is now COUNTED first (a distributed count, never a collect):
    * up to maxQueryBatch × this many queries keep the literal-LUT plan
    * (identical to r17 behavior); above it the LUTs are computed as
    * per-row array COLUMNS from the same strict-fold expression tree
    * (bit-identical entries — spec-pinned), the query frame never
    * leaves the executors, and the only driver-resident state is the
    * nCodes-row codebook. The ivfProbeIndex/MaxIvfQueryBatch two-plan
    * stance applied to the PQ family. */
  val MaxPqChunkPlans: Int = 8

  private def chunkedUnion(qs: Array[(Long, Array[Float])], maxBatch: Int)(
      build: Array[(Long, Array[Float])] => DataFrame): DataFrame = {
    require(qs.nonEmpty, "empty query batch")
    qs.grouped(maxBatch).map(build).reduceLeft(_.unionByName(_))
  }

  /** Per-block ADC lookup table as a COLUMN over a raw vector column:
    * entry r = ||v_j||² − 2·v_j·cw_r + ||cw_r||² over sub-block j — the
    * identical strict-fold tree the driver-side LUT literals (subDot)
    * and [[pqEncodeWith]]'s argmin compute, so the distributed-LUT plan
    * scores bit-for-bit what the literal-LUT plan embeds. Codeword
    * self-products fold driver-side into literals exactly as
    * pqEncodeWith does. */
  private def adcLutCol(vec: Column, cb: Array[(Long, Array[Float])],
                        j: Int, sub: Int): Column = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val sv = slice(vec, j * sub + 1, sub)
    val svv = VectorFunctions.dot(sv, sv)
    val entries = cb.map { case (_, v) =>
      val cw = v.slice(j * sub, (j + 1) * sub).map(_.toDouble).toSeq
      val cc = cw.map(x => x * x).foldLeft(0.0)(_ + _)
      svv - lit(2.0) * PlanBridge.column(
        graft.plans.Exprs.DotConst(PlanBridge.expression(sv), cw)) + lit(cc)
    }
    array(entries.toIndexedSeq: _*)
  }

  /** The distributed query-side LUT frame (qid, _lut_0 … _lut_{m-1}) —
    * a pure projection over the query scan; no collect, no literals
    * that grow with the batch. */
  private def adcLutFrame(queries: DataFrame, cb: Array[(Long, Array[Float])],
                          m: Int, sub: Int,
                          idCol: String, vecCol: String): DataFrame =
    queries.select(
      col(idCol).cast("long").as("qid") +:
        (0 until m).map(j =>
          adcLutCol(col(vecCol), cb, j, sub).as(s"_lut_$j")): _*)

  /** Σ_j lut_j[code_j] — the ADC probe sum in the same left-to-right
    * two-term tree both plans reduce with. */
  private def adcProbeSum(m: Int): Column =
    (0 until m).map(j =>
      element_at(col(s"_lut_$j"), col(s"code_$j").cast("int") + 1))
      .reduceLeft(_ + _)

  def pqAdcTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                m: Int = 4, nCodes: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxQueryBatch: Int = MaxPqQueryBatch): DataFrame = {
    require(maxQueryBatch > 0, "maxQueryBatch must be positive")
    val cb = codebook(candidates, nCodes, idCol, vecCol)
    val dims = cb.head._2.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m sub-blocks")
    val sub = dims / m
    val codes = pqEncodeWith(candidates, cb, m, idCol, vecCol)
    // COUNT gate before any collect ([[MaxPqChunkPlans]]): an oversized
    // batch keeps the query frame on the executors and scores via the
    // distributed LUT columns — the same all-pairs work this brute face
    // always does, minus the driver OOM.
    val nQ = queries.count()
    require(nQ > 0, "empty query batch")
    if (nQ > maxQueryBatch.toLong * MaxPqChunkPlans) {
      val scored = codes
        .select(col(idCol).as("vec_id") +:
          (0 until m).map(j => col(s"code_$j")): _*)
        .crossJoin(adcLutFrame(queries, cb, m, sub, idCol, vecCol))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("adc_dist", adcProbeSum(m))
      return TopK.perGroupTopK(scored,
          groupCols = Seq(col("qid")),
          order = Seq(col("adc_dist").asc, col("vec_id")),
          k = k, salt = col("vec_id"), rankCol = "rank")
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
    }
    val qs = queries
      .select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
    chunkedUnion(qs, maxQueryBatch) { chunk =>
      val perQuery = chunk.map { case (qid, qv) =>
        val adc = (0 until m).map { j =>
          val lut = cb.map { case (_, cwv) =>
            subDot(qv, qv, j * sub, sub) -
              2.0 * subDot(qv, cwv, j * sub, sub) +
              subDot(cwv, cwv, j * sub, sub)
          }.toSeq
          element_at(typedlit(lut), col(s"code_$j").cast("int") + 1)
        }.reduceLeft(_ + _)
        struct(lit(qid).as("qid"), adc.as("adc_dist"))
      }
      val scored = codes
        .select(col(idCol).as("vec_id"), explode(array(perQuery.toIndexedSeq: _*)).as("qa"))
        .select(col("qa.qid").as("qid"), col("vec_id"), col("qa.adc_dist").as("adc_dist"))
        .filter(col("vec_id") =!= col("qid"))
      TopK.perGroupTopK(scored,
          groupCols = Seq(col("qid")),
          order = Seq(col("adc_dist").asc, col("vec_id")),
          k = k, salt = col("vec_id"), rankCol = "rank")
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
    }
  }

  /** IVF + PQ-ADC composed top-k — the production ANN stack (the
    * FAISS-style IVFPQ index, Jégou et al. 2011): the coarse quantizer
    * prunes WHICH vectors a query reads (only members of its `nprobe`
    * nearest of `nCentroids` cells are candidates), and PQ-ADC shrinks
    * what each surviving read COSTS (m LUT probes over byte codes
    * instead of dims floats). [[ivfTopK]] and [[pqAdcTopK]] each prove
    * one half; this is the composition a billion-vector deployment
    * actually runs — with [[writeIvfIndex]]'s cell-partitioned layout the
    * probed cells are also the only parquet partitions scanned.
    *
    * Plan shape: candidate (qid, vec_id) pairs come from the broadcast
    * cell join (bounded by probed-cell population, never corpus size);
    * the ADC distance is then a pure projection — per-block LUTs ride
    * the plan as a qid-keyed map literal (queries × m × nCodes doubles,
    * KBs), so after the one cell-pruned code join nothing shuffles but
    * the salted two-stage top-k. All arithmetic is the shared
    * strict-fold double chain, so codes, LUT entries, tie-breaks — the
    * approximation itself — hash-verify against the DuckDB oracle. */
  def ivfPqTopK(candidates: DataFrame, queries: DataFrame, k: Int,
                nCentroids: Int = 16, nprobe: Int = 4,
                m: Int = 4, nCodes: Int = 8,
                idCol: String = "vec_id", vecCol: String = "embedding",
                maxQueryBatch: Int = MaxPqQueryBatch): DataFrame = PB.scoped {
    require(maxQueryBatch > 0, "maxQueryBatch must be positive")
    val cb = codebook(candidates, nCodes, idCol, vecCol)
    val dims = cb.head._2.length
    require(dims % m == 0, s"dims=$dims not divisible by m=$m sub-blocks")
    val sub = dims / m
    val codes = pqEncodeWith(candidates, cb, m, idCol, vecCol)
      .withColumnRenamed(idCol, "vec_id")
    val candPairs = ivfCandidatePairs(candidates, queries, nCentroids,
      nprobe, idCol, vecCol)
    // COUNT gate before any collect ([[MaxPqChunkPlans]]): an oversized
    // batch joins the cell-pruned pair frame to the distributed LUT
    // frame on qid — every join is key-equi, the pair space stays
    // bounded by probed-cell population, nothing reaches the driver.
    val nQ = queries.count()
    require(nQ > 0, "empty query batch")
    if (nQ > maxQueryBatch.toLong * MaxPqChunkPlans) {
      val scored = candPairs
        .join(codes, "vec_id")
        .join(adcLutFrame(queries, cb, m, sub, idCol, vecCol), "qid")
        .withColumn("adc_dist", adcProbeSum(m))
      TopK.perGroupTopK(scored,
          groupCols = Seq(col("qid")),
          order = Seq(col("adc_dist").asc, col("vec_id")),
          k = k, salt = col("vec_id"), rankCol = "rank")
        .select(col("qid"), col("rank"), col("vec_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
    } else {
      val qs = queries
        .select(col(idCol).cast("long"), col(vecCol))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      chunkedUnion(qs, maxQueryBatch) { chunk =>
        val adc = (0 until m).map { j =>
          val lutMap: Map[Long, Seq[Double]] = chunk.map { case (qid, qv) =>
            qid -> cb.map { case (_, cwv) =>
              subDot(qv, qv, j * sub, sub) -
                2.0 * subDot(qv, cwv, j * sub, sub) +
                subDot(cwv, cwv, j * sub, sub)
            }.toSeq
          }.toMap
          element_at(element_at(typedlit(lutMap), col("qid")),
            col(s"code_$j").cast("int") + 1)
        }.reduceLeft(_ + _)
        // single-chunk (the common case) keeps the original plan shape;
        // multi-chunk restricts the pair frame to the chunk's qids so each
        // chunk's join degree is bounded by its own queries
        val pairs = if (qs.length <= maxQueryBatch) candPairs
          else candPairs.filter(col("qid").isin(chunk.map(_._1).toIndexedSeq: _*))
        val scored = pairs
          .join(codes, "vec_id")
          .withColumn("adc_dist", adc)
        TopK.perGroupTopK(scored,
            groupCols = Seq(col("qid")),
            order = Seq(col("adc_dist").asc, col("vec_id")),
            k = k, salt = col("vec_id"), rankCol = "rank")
          .select(col("qid"), col("rank"), col("vec_id"),
            round(col("adc_dist"), 6).as("adc_dist"))
      }
    }
  }

  /** SemDeDup-style semantic dedup (cf. Abbas et al. 2023, arXiv
    * 2303.09540): assign every vector to its nearest quantizer cell
    * (the two-level [[twoLevelProbes]] assignment the IVF index uses),
    * then inside each cell mark a
    * vector as a duplicate when a LOWER-id cell-mate has cosine >= tau
    * (greedy keep-lowest-id, deterministic — no iteration order
    * sensitivity). Returns every input id with its cell, kept flag, and
    * the min duplicate-of id (-1 when kept).
    *
    * The cells are what make this scale: the pair space is partitioned by
    * cell exactly like LSH bucketing partitions MinHash candidates, so the
    * join degree is bounded by cell population, never corpus size, and the
    * only shuffles carry (id, cell) pairs and cell-keyed vectors. A
    * pathologically hot cell is the same skew case as a hot LSH bucket —
    * cap it or re-cluster with more centroids. */
  def semDedup(candidates: DataFrame, nCentroids: Int, tau: Double,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = PB.scoped {
    import VectorFunctions.cosine
    // TWO-LEVEL assignment (see knnGraph — same scale argument); three
    // consumers read it (both self-join sides + the final select), so
    // materialize once (Spark does not CSE subtrees)
    val members = twoLevelProbes(candidates, nCentroids, 1,
        idCol = idCol, vecCol = vecCol)
      .select(col("id"), col("cell"), col("vec"))
      .transform(PB.localCheckpoint)
    val dup = members.as("x").join(members.as("y"),
        col("x.cell") === col("y.cell") && col("y.id") < col("x.id"))
      .filter(cosine(col("x.vec"), col("y.vec")) >= tau)
      .groupBy(col("x.id").as("id"))
      .agg(min(col("y.id")).as("_dup"))
    members.select(col("id"), col("cell"))
      .join(dup, Seq("id"), "left_outer")
      .select(col("id"), col("cell"),
        coalesce(col("_dup"), lit(-1L)).as("dup_of"),
        col("_dup").isNull.as("kept"))
  }

  /** Signed random projection (Johnson–Lindenstrauss / Achlioptas-style
    * dimensionality reduction): project each embedding onto `outDims`
    * deterministic integer-valued hyperplanes — the SAME plane family the
    * LSH band keys sign — keeping distances approximately and making
    * every downstream ANN/clustering pass outDims/dims cheaper.
    *
    * Pure narrow scan-stage projection: the planes are plan-time literals
    * (nothing is broadcast, nothing shuffles), each component is the
    * native strict-fold dot, so the projected vectors are bit-identical
    * across engines and the operator scales like a filter. */
  def jlProject(candidates: DataFrame, outDims: Int, dims: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import VectorFunctions.planeDot
    val proj = array((0 until outDims).map(j =>
      round(planeDot(col(vecCol), j, dims), 6)): _*)
    candidates.select(col(idCol), proj.as("proj"))
  }

  /** NDCG@k of an approximate retriever against the exact ranking
    * (graded relevance `k − exact_rank + 1` — the standard audit when
    * POSITION matters, where [[retrievalMetrics]]' recall/MRR only ask
    * "found at all / found first"): a retriever that returns the right
    * set in the wrong order scores recall 1 but NDCG < 1.
    *
    * Exactness: each DCG term is the fixed tree `rel·ln2/ln(rank+1)`
    * (one ln per term — the unigramNll ln precedent), folded per query
    * in rank order (the portable cumsum); IDCG is a PLAN-TIME Scala
    * constant (the truth grades are exactly {k..1}), identical literal
    * on both engines. Scale: joins on (qid, vec_id) — query-batch-sized
    * frames throughout, never corpus-scaled. */
  def ndcgAtK(truth: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ln2 = 0.6931471805599453
    val idcg = (1 to k).map(i => (k - i + 1).toDouble * ln2 / math.log(i + 1)).sum
    val t = truth.select(col("qid"), col("vec_id"),
      (lit(k.toLong) - col("rank") + 1L).as("rel"))
    val a = approx.select(col("qid"), col("vec_id"), col("rank").as("a_rank"))
    val w = W.partitionBy("qid").orderBy("a_rank")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    a.join(t, Seq("qid", "vec_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
      .withColumn("term",
        col("rel").cast("double") * lit(ln2) / log((col("a_rank") + 1).cast("double")))
      .withColumn("dcg", sum(col("term")).over(cum))
      .withColumn("nh", sum(when(col("rel") > 0, 1L).otherwise(0L)).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nc", count(lit(1)).over(W.partitionBy("qid")))
      .filter(col("rn") === col("nc"))
      .select(col("qid"), col("nh").as("n_hits"),
        round(col("dcg"), 6).as("dcg"),
        round(col("dcg") / lit(idcg), 6).as("ndcg"))
  }

  /** DuckDB oracle for [[ndcgAtK]] — identical join, term tree, ordered
    * fold and the SAME plan-time IDCG literal. */
  def ndcgAtKSql(truthSub: String, approxSub: String, k: Int): String = {
    val ln2 = 0.6931471805599453
    val idcg = (1 to k).map(i => (k - i + 1).toDouble * ln2 / math.log(i + 1)).sum
    // Double.toString (shortest round-trip repr, locale-independent) —
    // "%.17g" uses the default JVM locale and emits an invalid SQL
    // literal under comma-decimal locales.
    val idcgLit = idcg.toString
    s"WITH t AS (SELECT qid, vec_id, CAST($k - rank + 1 AS BIGINT) AS rel " +
      s"FROM $truthSub), " +
      s"a AS (SELECT qid, vec_id, rank AS a_rank FROM $approxSub), " +
      "j AS (SELECT a.qid, a.a_rank, coalesce(t.rel, 0) AS rel FROM a " +
      "LEFT JOIN t ON a.qid = t.qid AND a.vec_id = t.vec_id), " +
      "f AS (SELECT qid, " +
      s"sum(CAST(rel AS DOUBLE) * $ln2 / ln(CAST(a_rank + 1 AS DOUBLE))) " +
      "OVER (PARTITION BY qid ORDER BY a_rank " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS dcg, " +
      "sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) " +
      "OVER (PARTITION BY qid ORDER BY a_rank " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nh, " +
      "row_number() OVER (PARTITION BY qid ORDER BY a_rank) AS rn, " +
      "count(*) OVER (PARTITION BY qid) AS nc FROM j) " +
      "SELECT qid, CAST(nh AS BIGINT) AS n_hits, round(dcg, 6) AS dcg, " +
      s"round(dcg / $idcgLit, 6) AS ndcg FROM f WHERE rn = nc"
  }

  /** Kendall-τ rank agreement between two retrievers' top-k lists per
    * query (computed on the INTERSECTION of the lists — the overlap
    * whose ORDER can disagree): τ = (C − D) / (n(n−1)/2) over common-
    * item pairs. The disagreement diagnostic under [[rrfFusion]]: τ near
    * 1 ⇒ fusing adds nothing; τ near −1 ⇒ the retrievers see different
    * structure and fusion (or arbitration) actually matters.
    *
    * All-integer: concordant/discordant are exact pair counts (ties
    * impossible — ranks are distinct within a list), one final division
    * tree. Pair space is k²-bounded per query — never corpus-scaled. */
  def kendallTau(a: DataFrame, b: DataFrame): DataFrame = PB.scoped {
    val common = a.select(col("qid"), col("vec_id"), col("rank").as("ra"))
      .join(b.select(col("qid"), col("vec_id"), col("rank").as("rb")),
        Seq("qid", "vec_id"))
      .transform(PB.localCheckpoint) // both pair sides read it
    val pairs = common.select(col("qid"), col("vec_id").as("id1"),
        col("ra").as("ra1"), col("rb").as("rb1"))
      .join(common.select(col("qid"), col("vec_id").as("id2"),
        col("ra").as("ra2"), col("rb").as("rb2")), Seq("qid"))
      .filter(col("id1") < col("id2"))
      .withColumn("conc",
        when((col("ra1") < col("ra2")) === (col("rb1") < col("rb2")), 1L)
          .otherwise(0L))
    val perQ = pairs.groupBy("qid")
      .agg(sum(col("conc")).as("concordant"),
        sum(lit(1L) - col("conc")).as("discordant"))
    common.groupBy("qid").agg(count(lit(1)).as("n_common"))
      .join(perQ, Seq("qid"), "left")
      .withColumn("concordant", coalesce(col("concordant"), lit(0L)))
      .withColumn("discordant", coalesce(col("discordant"), lit(0L)))
      .withColumn("tau",
        when(col("n_common") >= 2, round(
          (col("concordant") - col("discordant")).cast("double") /
            (col("n_common") * (col("n_common") - 1) / 2).cast("double"), 6)))
      .select(col("qid"), col("n_common"), col("concordant"),
        col("discordant"), col("tau"))
  }

  /** DuckDB oracle for [[kendallTau]] — identical intersection, pair
    * set, counts and division tree. */
  def kendallTauSql(aSub: String, bSub: String): String =
    s"WITH com AS (SELECT a.qid, a.vec_id, a.rank AS ra, b.rank AS rb " +
      s"FROM $aSub a JOIN $bSub b ON a.qid = b.qid AND a.vec_id = b.vec_id), " +
      "p AS (SELECT x.qid, CASE WHEN (x.ra < y.ra) = (x.rb < y.rb) " +
      "THEN 1 ELSE 0 END AS conc FROM com x JOIN com y " +
      "ON x.qid = y.qid AND x.vec_id < y.vec_id), " +
      "pq AS (SELECT qid, CAST(sum(conc) AS BIGINT) AS concordant, " +
      "CAST(sum(1 - conc) AS BIGINT) AS discordant FROM p GROUP BY qid), " +
      "nq AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_common FROM com GROUP BY qid) " +
      "SELECT nq.qid, n_common, coalesce(concordant, 0) AS concordant, " +
      "coalesce(discordant, 0) AS discordant, " +
      "CASE WHEN n_common >= 2 THEN " +
      "round(CAST(coalesce(concordant, 0) - coalesce(discordant, 0) AS DOUBLE) / " +
      "CAST(n_common * (n_common - 1) // 2 AS DOUBLE), 6) END AS tau " +
      "FROM nq LEFT JOIN pq ON nq.qid = pq.qid"

  /** Centroid-distance OOD score (the SemDeDup-era curation gate for
    * embedding columns): each vector's cosine to its OWN label's mean
    * vector — vectors far from their class centroid are mislabeled,
    * noisy, or genuinely out-of-distribution, and a label-conditioned
    * training mix wants them flagged. Flag = cosine below `threshold`.
    *
    * Exactness: centroids follow the [[kmeansUpdate]] per-dim
    * round(avg, 6) convention; the per-vector reduction runs
    * RELATIONALLY — explode to (id, dim, x), join the (label, dim) mean
    * (domain-bounded, broadcast), then an ordered cumsum over dim (the
    * portable float fold) builds Σx·m / Σx² / Σm² in one window, and the
    * cosine is one fixed tree. No vector UDF, no array arithmetic in the
    * oracle's way.
    *
    * Scale shape: one corpus explode (dims× rows, the TF-IDF shape), the
    * centroid frame is |labels|·dims rows — broadcast; one window keyed
    * by the 8-byte id. */
  def centroidOod(df: DataFrame, labelCol: String, threshold: Double = 0.5,
                  idCol: String = "vec_id",
                  vecCol: String = "embedding"): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val ev = df.select(col(idCol).as("id"), col(labelCol).as("lbl"),
        posexplode(col(vecCol)).as(Seq("dim", "x0")))
      .withColumn("x", col("x0").cast("double"))
    val cent = ev.groupBy("lbl", "dim")
      .agg(round(avg(col("x")), 6).as("m"))
    val w = W.partitionBy("id").orderBy("dim")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    ev.join(broadcast(cent), Seq("lbl", "dim"))
      .withColumn("sxm", sum(col("x") * col("m")).over(cum))
      .withColumn("sxx", sum(col("x") * col("x")).over(cum))
      .withColumn("smm", sum(col("m") * col("m")).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nd", count(lit(1)).over(W.partitionBy("id")))
      .filter(col("rn") === col("nd"))
      .withColumn("cos_centroid",
        round(col("sxm") / (sqrt(col("sxx")) * sqrt(col("smm"))), 6))
      .select(col("id").as(idCol), col("lbl").as(labelCol),
        col("cos_centroid"),
        (col("cos_centroid") < threshold).as("is_ood"))
  }

  /** DuckDB oracle for [[centroidOod]] — identical explode, centroid
    * convention, ordered fold and cosine tree. */
  def centroidOodSql(table: String, labelExpr: String, dims: Int,
                     threshold: Double = 0.5): String =
    s"WITH ev AS (SELECT vec_id AS id, $labelExpr AS lbl, " +
      "CAST(i - 1 AS INTEGER) AS dim, " +
      s"CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE) AS x " +
      s"FROM $table, range(1, ${dims + 1}) t(i)), " +
      "cent AS (SELECT lbl, dim, round(avg(x), 6) AS m FROM ev GROUP BY lbl, dim), " +
      "folded AS (SELECT id, lbl, " +
      "sum(x * m) OVER w AS sxm, sum(x * x) OVER w AS sxx, " +
      "sum(m * m) OVER w AS smm, " +
      "row_number() OVER (PARTITION BY id ORDER BY dim) AS rn, " +
      "count(*) OVER (PARTITION BY id) AS nd " +
      "FROM ev JOIN cent USING (lbl, dim) " +
      "WINDOW w AS (PARTITION BY id ORDER BY dim " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT id AS vec_id, lbl AS label, " +
      "round(sxm / (sqrt(sxx) * sqrt(smm)), 6) AS cos_centroid, " +
      s"(round(sxm / (sqrt(sxx) * sqrt(smm)), 6) < $threshold) AS is_ood " +
      "FROM folded WHERE rn = nd"
}
