package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.Tables
import graft.functions.VectorFunctions.{cosineSql, dotSql, hyperBandKeySql}
import graft.operators.{LateInteraction, Multimodal, Similarity}

/** SURVEY §2.3 — similarity search over the embeddings table + multimodal
  * plumbing. The cosine oracles fold float products in the identical strict
  * left-to-right order on both sides, so scores — and therefore rankings —
  * are bit-identical and fully hash-verifiable.
  */
object SimilarityQueries {

  private val Dims = 64
  private val K = 5
  private val TokensPerDoc = 4
  private val PrefixDims = 16

  /** DuckDB side of LateInteraction.tokenFrame (CTE named `t`). */
  private val tokenFrameSql: String =
    s"t AS (SELECT vec_id // $TokensPerDoc AS doc, vec_id % $TokensPerDoc AS tok, " +
      "embedding AS vec FROM embeddings)"

  /** The fixed left-associated Σ of per-token maxima — the identical
    * operation tree LateInteraction.scoreAndRank builds. */
  private val maxsimScoreSql: String =
    (0 until TokensPerDoc).map(tk => s"max(CASE WHEN qtok = $tk THEN tcos END)")
      .reduceLeft((a, b) => s"($a + $b)")

  private def emb(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.load(s, d, "embeddings")

  /** The shared CORPUS-SCALED embedding near-dup edge frame (a, b) for
    * q_embed_dup / q_triangle_count / q_local_cc / q_louvain_move:
    * hyperplane-LSH candidates with rowsPerBand DERIVED from the vector
    * count (Similarity.scaledRowsPerBand — band-bucket population stays
    * ~constant as the corpus grows), exact cosine >= 0.3 on candidates.
    * The r10 sf1 audit measured the old pinned 4x4-bit geometry
    * collapsing 79x on 10x vectors (in-bucket pairs grow quadratically
    * with bucket population) and dragging every graph query on this
    * edge frame with it. The oracles pin scaledRowsPerBand(500) = 4,
    * the derivation's value at the sf0.01 verify scale. */
  private[queries] def nearDupEdges(s: org.apache.spark.sql.SparkSession,
                                    d: String): org.apache.spark.sql.DataFrame = {
    val e = emb(s, d)
    Similarity.embeddingNearDup(e, tau = 0.3, bands = 4,
      rowsPerBand = Similarity.scaledRowsPerBand(e.count()), dims = Dims)
  }

  /** The embedding near-dup EDGE subquery (a, b) — the q_embed_dup /
    * q_local_cc chain, exposed for queries over the same graph
    * (q_louvain_move). Pins the [[nearDupEdges]] geometry at the sf0.01
    * verify scale: scaledRowsPerBand(500) = 4. */
  private[queries] def nearDupEdgesSql: String =
    s"WITH cb AS (${hyperBandsSql(4, 4)}), " +
      "pairs AS (SELECT DISTINCT x.id AS a, y.id AS b FROM cb x " +
      "JOIN cb y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id) " +
      "SELECT p.a, p.b FROM pairs p " +
      "JOIN embeddings va ON p.a = va.vec_id " +
      "JOIN embeddings vb ON p.b = vb.vec_id " +
      s"WHERE ${cosineSql("va.embedding", "vb.embedding")} >= 0.3"

  /** DuckDB side of Similarity.hyperBands: (id, band, bkey) per vector. */
  private def hyperBandsSql(bands: Int, rowsPerBand: Int): String =
    (0 until bands).map { b =>
      s"SELECT vec_id AS id, $b AS band, " +
        s"CAST(${hyperBandKeySql("embedding", b, rowsPerBand, Dims)} AS BIGINT) AS bkey " +
        "FROM embeddings"
    }.mkString(" UNION ALL ")

  /** The q_ann_cosine oracle ranking at top-`n`, score aliased
    * `scoreName` — shared by q_ann_recall (ground truth) and
    * q_mmr_rerank (stage-1 candidates). */
  private def cosineRankedSqlN(n: Int, scoreName: String): String =
    "WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
      "c AS (SELECT vec_id, embedding AS cvec FROM embeddings), " +
      s"scored AS (SELECT qid, vec_id, ${cosineSql("qvec", "cvec")} AS cos " +
      "FROM c, q WHERE vec_id <> qid), " +
      "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
      s"SELECT qid, rank, vec_id, round(cos, 6) AS $scoreName FROM ranked WHERE rank <= $n " +
      "ORDER BY qid, rank"

  private lazy val cosineRankedSql: String = cosineRankedSqlN(K, "cos_sim")

  /** The q_ann_lsh oracle ranking — shared verbatim by q_rrf_fusion. */
  private lazy val lshRankedSql: String =
    s"WITH cb AS (${hyperBandsSql(4, 4)}), " +
      "qb AS (SELECT id AS qid, band, bkey FROM cb WHERE id < 5), " +
      "pairs AS (SELECT DISTINCT qb.qid, cb.id AS vec_id FROM cb " +
      "JOIN qb ON cb.band = qb.band AND cb.bkey = qb.bkey AND cb.id <> qb.qid), " +
      "q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
      "c AS (SELECT vec_id, embedding AS cvec FROM embeddings), " +
      "scored AS (SELECT p.qid, p.vec_id, " +
      s"${cosineSql("qvec", "cvec")} AS cos " +
      "FROM pairs p JOIN q ON p.qid = q.qid JOIN c ON p.vec_id = c.vec_id), " +
      "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
      s"SELECT qid, rank, vec_id, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= $K " +
      "ORDER BY qid, rank"

  /** DuckDB mirror of Similarity.twoLevelProbes over the embeddings
    * table: a CTE chain ending in `asg(vec_id, cid, rn)` with
    * rn <= nprobe — coarse codebook = the coarseCellCount(nCells)
    * lowest-id fine centroids (positions in id order), fine centroids =
    * ids in [0, nCells), every vector probes its
    * min(TwoLevelCoarseProbes, nCoarse) nearest coarse cells and ranks
    * the fine centroids homed there by the same strict-fold squared-L2,
    * ties by id — the full two-level approximation, mirrored stage by
    * stage so it hash-verifies. */
  /** The two-level assignment core against an EXPLICIT fine CTE
    * `$fineCte(fid, fvec)` — mirrors Similarity.twoLevelProbesAgainst.
    * Emits CTEs `coarse$sfx` / `fhome$sfx` / `cprobe$sfx` / `asg$sfx`,
    * so the trained-quantizer chain can instantiate one assignment per
    * Lloyd iteration without name collisions. */
  private def twoLevelAsgFromSql(fineCte: String, nCells: Int, nprobe: Int,
                                 sfx: String,
                                 corpus: String = "embeddings"): String = {
    val nCoarse = Similarity.coarseCellCount(nCells)
    val pc = math.min(Similarity.TwoLevelCoarseProbes, nCoarse)
    def l2(v: String, c: String) =
      s"(${dotSql(v, v)} - 2.0 * ${dotSql(v, c)} + ${dotSql(c, c)})"
    s"coarse$sfx AS (SELECT fvec AS ccvec, row_number() OVER (ORDER BY fid) - 1 AS pos " +
      s"FROM (SELECT fid, fvec FROM $fineCte ORDER BY fid LIMIT $nCoarse) cl), " +
      s"fhome$sfx AS (SELECT fid, fvec, pos AS cc FROM (SELECT f.fid, f.fvec, c.pos, " +
      s"row_number() OVER (PARTITION BY f.fid ORDER BY ${l2("f.fvec", "c.ccvec")}, c.pos) AS crn " +
      s"FROM $fineCte f, coarse$sfx c) fa WHERE crn = 1), " +
      s"cprobe$sfx AS (SELECT vec_id, cc FROM (SELECT e.vec_id, c.pos AS cc, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${l2("e.embedding", "c.ccvec")}, c.pos) AS crn " +
      s"FROM $corpus e, coarse$sfx c) ca WHERE crn <= $pc), " +
      s"asg$sfx AS (SELECT vec_id, cid, rn FROM (SELECT p.vec_id, f.fid AS cid, " +
      s"row_number() OVER (PARTITION BY p.vec_id ORDER BY ${l2("e.embedding", "f.fvec")}, f.fid) AS rn " +
      s"FROM cprobe$sfx p JOIN $corpus e ON e.vec_id = p.vec_id " +
      s"JOIN fhome$sfx f ON f.cc = p.cc) fr WHERE rn <= $nprobe)"
  }

  private def twoLevelAsgSql(nCells: Int, nprobe: Int,
                             corpus: String = "embeddings"): String =
    s"fine AS (SELECT vec_id AS fid, embedding AS fvec FROM $corpus " +
      s"WHERE vec_id >= 0 AND vec_id < $nCells), " +
      twoLevelAsgFromSql("fine", nCells, nprobe, "", corpus)

  /** DuckDB mirror of Similarity.trainIvfCentroids + the final nprobe
    * assignment: cent0 = the low-id seeds, then per Lloyd iteration t
    * one two-level nprobe=1 assignment (CTEs suffixed _t$t) against
    * cent{t−1}, exact integer-lattice component sums, and the
    * double-divide-then-REAL-round mean (empty cells keep the previous
    * component) — ending in the standard `asg` CTE against cent$iters.
    * Mirrors the trainer stage by stage so the TRAINED approximation
    * hash-verifies (the kmeansLloydSql unroll convention). */
  private def trainedAsgSql(nCells: Int, nprobe: Int, iters: Int,
                            dims: Int,
                            corpus: String = "embeddings"): String = {
    val rng = s"range(1, ${dims + 1}) r(i)"
    val blocks = (1 to iters).map { t =>
      val prev = s"cent${t - 1}"
      twoLevelAsgFromSql(prev, nCells, 1, s"_t$t", corpus) + ", " +
        s"sums_t$t AS (SELECT a.cid AS cell, CAST(i - 1 AS INTEGER) AS dim, " +
        "CAST(sum(CAST(floor(CAST(e.embedding[CAST(i AS INTEGER)] AS DOUBLE) " +
        "* 1048576.0) AS BIGINT)) AS BIGINT) AS sq, " +
        s"CAST(count(*) AS BIGINT) AS n FROM asg_t$t a " +
        s"JOIN $corpus e ON e.vec_id = a.vec_id, $rng " +
        "WHERE a.rn = 1 GROUP BY cell, dim), " +
        s"cent$t AS (SELECT g.fid, list(coalesce(" +
        "CAST(CAST(s.sq AS DOUBLE) / (CAST(s.n AS DOUBLE) * 1048576.0) AS REAL), " +
        "g.prev) ORDER BY g.dim) AS fvec " +
        s"FROM (SELECT c.fid, CAST(i - 1 AS INTEGER) AS dim, " +
        s"c.fvec[CAST(i AS INTEGER)] AS prev FROM $prev c, $rng) g " +
        s"LEFT JOIN sums_t$t s ON s.cell = g.fid AND s.dim = g.dim " +
        "GROUP BY g.fid)"
    }.mkString(", ")
    s"cent0 AS (SELECT vec_id AS fid, embedding AS fvec FROM $corpus " +
      s"WHERE vec_id >= 0 AND vec_id < $nCells), " + blocks + ", " +
      twoLevelAsgFromSql(s"cent$iters", nCells, nprobe, "", corpus)
  }

  /** The q_ann_ivf oracle ranking — shared verbatim by q_rrf_fusion.
    * Pins the sf0.01 derivations: derivedCentroids(500, 32) = 16 fine
    * cells, coarseCellCount(16) = 4, TwoLevelCoarseProbes = 2. */
  private lazy val ivfRankedSql: String = {
    s"WITH ${twoLevelAsgSql(nCells = 16, nprobe = 4)}, " +
      "cells AS (SELECT vec_id AS id, cid AS cell FROM asg WHERE rn = 1), " +
      "qcells AS (SELECT vec_id AS qid, cid AS cell FROM asg WHERE vec_id < 5), " +
      "pairs AS (SELECT DISTINCT q.qid, c.id AS vec_id FROM cells c " +
      "JOIN qcells q ON c.cell = q.cell AND c.id <> q.qid), " +
      "q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
      "cv AS (SELECT vec_id, embedding AS cvec FROM embeddings), " +
      s"scored AS (SELECT p.qid, p.vec_id, ${cosineSql("qvec", "cvec")} AS cos " +
      "FROM pairs p JOIN q ON p.qid = q.qid JOIN cv ON p.vec_id = cv.vec_id), " +
      "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
      s"SELECT qid, rank, vec_id, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= $K " +
      "ORDER BY qid, rank"
  }

  /** The q_ivf_trained_recall oracle ranking: [[ivfRankedSql]]'s tail
    * over the TRAINED quantizer's assignment (2 Lloyd iterations) at the
    * identical sf0.01 geometry — 16 fine cells, nprobe=4, pCoarse=2. */
  private lazy val trainedIvfRankedSql: String = {
    s"WITH ${trainedAsgSql(nCells = 16, nprobe = 4, iters = 2, dims = Dims)}, " +
      "cells AS (SELECT vec_id AS id, cid AS cell FROM asg WHERE rn = 1), " +
      "qcells AS (SELECT vec_id AS qid, cid AS cell FROM asg WHERE vec_id < 5), " +
      "pairs AS (SELECT DISTINCT q.qid, c.id AS vec_id FROM cells c " +
      "JOIN qcells q ON c.cell = q.cell AND c.id <> q.qid), " +
      "q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
      "cv AS (SELECT vec_id, embedding AS cvec FROM embeddings), " +
      s"scored AS (SELECT p.qid, p.vec_id, ${cosineSql("qvec", "cvec")} AS cos " +
      "FROM pairs p JOIN q ON p.qid = q.qid JOIN cv ON p.vec_id = cv.vec_id), " +
      "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
      s"SELECT qid, rank, vec_id, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= $K " +
      "ORDER BY qid, rank"
  }

  /** Deterministic CLUSTERED 16-dim embedding derived from vec_id by
    * integer arithmetic alone — the corpus for q_ivf_trained_gain, where
    * quantizer TRAINING can actually win. Cluster centers live on a
    * coarse lattice (cluster = vec_id / 64, so the LOW-ID seed rows all
    * fall in cluster 0 — the realistic bad-seed failure mode of seeding
    * a quantizer with arbitrary corpus rows), plus per-vector noise
    * whose modulus chain (67 then 53) is coprime to the cluster width:
    * no two cluster-mates are identical, and the noise is large enough
    * (±26 vs center steps of 4) that near-identical collapsed seeds
    * genuinely SCATTER a cluster across cells. Both engines compute the
    * identical integers and cast once to float, so the corpus — and the
    * whole trained-vs-untrained comparison over it — hash-verifies.
    * (The r17 board corpus was structureless — measured intra/inter-
    * label cosine 0.0016/0.0003 — where k-means cannot beat an
    * arbitrary quantizer; q_ivf_trained_recall records that inversion
    * honestly, THIS row measures training where structure exists.) */
  private val GainDims = 16

  private def clusteredVecCol(id: org.apache.spark.sql.Column) =
    array((0 until GainDims).map { d =>
      ((((id / 64).cast("long") * 37 + d * 13) % 19 - 9) * 4 +
        (((id * 31 + d * 17) % 67) % 53 - 26)).cast("float")
    }: _*)

  private def clusteredVecSqlList: String =
    (0 until GainDims).map { d =>
      s"CAST((((vec_id // 64) * 37 + ${d * 13}) % 19 - 9) * 4 + " +
        s"(((vec_id * 31 + ${d * 17}) % 67) % 53 - 26) AS REAL)"
    }.mkString("[", ", ", "]")

  private def ccCte: String =
    s"cc AS (SELECT vec_id, $clusteredVecSqlList AS embedding " +
      s"FROM embeddings WHERE vec_id < $GainCorpusCap)"

  /** One query per cluster, capped at 32 queries so the exact-truth side
    * stays |q|·n cosines at any scale. */
  private val GainQueryFilter = "vec_id % 64 = 7 AND vec_id < 2048"

  /** Corpus cap for the gain row (r18): the row is a controlled
    * EXPERIMENT — trained vs untrained at equal geometry on a corpus
    * with known structure — not a corpus metric, so its cost must not
    * scale with sf. 2048 rows = 32 full clusters of 64 (every query's
    * cluster complete) and ≥ the whole verify-scale table (sf0.01 has
    * 500 vectors, so the cap is INACTIVE there — oracle hashes
    * unchanged); past sf0.01 the board pays a fixed 2048-row train +
    * retrieve instead of Lloyd passes over the full embeddings table
    * (12.8 s at sf1 before the cap, audit-row priced like a corpus
    * scan it never needed). */
  private val GainCorpusCap = 2048L

  /** Exact-cosine truth ranking over the clustered corpus. */
  private lazy val ccCosineRankedSql: String =
    s"WITH $ccCte, " +
      s"q AS (SELECT vec_id AS qid, embedding AS qvec FROM cc WHERE $GainQueryFilter), " +
      "c AS (SELECT vec_id, embedding AS cvec FROM cc), " +
      s"scored AS (SELECT qid, vec_id, ${cosineSql("qvec", "cvec")} AS cos " +
      "FROM c, q WHERE vec_id <> qid), " +
      "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
      s"SELECT qid, rank, vec_id, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= $K " +
      "ORDER BY qid, rank"

  /** The shared IVF ranked tail over the clustered corpus, fed by an
    * assignment CTE chain ending in `asg` (seed or trained quantizer —
    * the ivfRankedSql convention with corpus = cc). */
  private def ccIvfRankedSql(asgCtes: String): String =
    s"WITH $ccCte, $asgCtes, " +
      "cells AS (SELECT vec_id AS id, cid AS cell FROM asg WHERE rn = 1), " +
      s"qcells AS (SELECT vec_id AS qid, cid AS cell FROM asg WHERE $GainQueryFilter), " +
      "pairs AS (SELECT DISTINCT q.qid, c.id AS vec_id FROM cells c " +
      "JOIN qcells q ON c.cell = q.cell AND c.id <> q.qid), " +
      s"q AS (SELECT vec_id AS qid, embedding AS qvec FROM cc WHERE $GainQueryFilter), " +
      "cv AS (SELECT vec_id, embedding AS cvec FROM cc), " +
      s"scored AS (SELECT p.qid, p.vec_id, ${cosineSql("qvec", "cvec")} AS cos " +
      "FROM pairs p JOIN q ON p.qid = q.qid JOIN cv ON p.vec_id = cv.vec_id), " +
      "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
      "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
      s"SELECT qid, rank, vec_id, round(cos, 6) AS cos_sim FROM ranked WHERE rank <= $K " +
      "ORDER BY qid, rank"

  /** q_ivf_trained_gain oracle: both variants' retrieval metrics against
    * the exact truth, tagged and unioned. Pins the sf0.01 geometry
    * (derivedCentroids(500, 32) = 16 cells, nprobe = 2, 2 Lloyd
    * iterations at dims = 16). */
  private lazy val ivfTrainedGainSql: String = {
    val unt = Similarity.retrievalMetricsSql(s"($ccCosineRankedSql)",
      s"(${ccIvfRankedSql(twoLevelAsgSql(nCells = 16, nprobe = 2, corpus = "cc"))})", K)
    val trn = Similarity.retrievalMetricsSql(s"($ccCosineRankedSql)",
      s"(${ccIvfRankedSql(trainedAsgSql(nCells = 16, nprobe = 2, iters = 2,
        dims = GainDims, corpus = "cc"))})", K)
    s"SELECT 'trained' AS variant, * FROM ($trn) " +
      s"UNION ALL SELECT 'untrained' AS variant, * FROM ($unt) " +
      "ORDER BY variant"
  }

  val defs: Seq[Q] = Seq(

    // Brute-force cosine top-k: the ANN correctness baseline. Queries
    // (vec_id < 5) broadcast; candidates scanned once; two-stage top-k.
    Q("q_ann_cosine",
      (s, d) => {
        val e = emb(s, d)
        Similarity.cosineTopK(e, e.filter(col("vec_id") < 5), K)
          .orderBy("qid", "rank")
      },
      Some(cosineRankedSql)),

    // LSH-bucketed ANN (16 random hyperplanes, 4 bands of 4 sign bits):
    // candidates share >= 1 band key with a query; exact cosine + top-k on
    // the candidate set only.
    Q("q_ann_lsh",
      (s, d) => {
        val e = emb(s, d)
        Similarity.lshTopK(e, e.filter(col("vec_id") < 5), K,
            bands = 4, rowsPerBand = 4, dims = Dims)
          .orderBy("qid", "rank")
      },
      Some(lshRankedSql)),

    // IVF ANN (nprobe=4) with the cell count CORPUS-DERIVED (target
    // cell 32 — a pinned count makes cell population ∝ corpus, so every
    // probe reads a FIXED FRACTION of all vectors at any scale) and the
    // two-level assignment (coarse √cells kernel + fine DataFrame join
    // — n·√cells flops, √cells-row codebook). Assignment and probe use
    // the same strict-fold squared-L2 on both sides, so cell contents
    // and the final ranking are bit-identical to the oracle, which pins
    // the sf0.01 derivation ceil(500/32) = 16.
    Q("q_ann_ivf",
      (s, d) => {
        val e = emb(s, d)
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), K,
            nCentroids = Similarity.derivedCentroids(e.count(), 32L),
            nprobe = 4)
          .orderBy("qid", "rank")
      },
      Some(ivfRankedSql)),

    // Embedding-cosine near-dup: LSH-bucketed candidate pairs kept when
    // exact cosine >= 0.3, with the band width derived from the vector
    // count (nearDupEdges — bucket population stays ~constant as the
    // corpus grows). The threshold compare runs on bit-identical
    // doubles, so even the boundary rows agree across engines.
    Q("q_embed_dup",
      (s, d) => nearDupEdges(s, d)
        .orderBy("a", "b"),
      Some(s"WITH cb AS (${hyperBandsSql(4, 4)}), " +
        "pairs AS (SELECT DISTINCT x.id AS a, y.id AS b FROM cb x " +
        "JOIN cb y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id), " +
        "scored AS (SELECT p.a, p.b, " +
        s"${cosineSql("va.embedding", "vb.embedding")} AS cos " +
        "FROM pairs p JOIN embeddings va ON p.a = va.vec_id " +
        "JOIN embeddings vb ON p.b = vb.vec_id) " +
        "SELECT a, b, round(cos, 6) AS cos_sim FROM scored WHERE cos >= 0.3 " +
        "ORDER BY a, b")),

    // k-means M-step (Lloyd iteration update): per-(cell, dim) member
    // means under the strict-fold squared-L2 assignment — the primitive
    // that (re)trains the IVF coarse quantizer. Bit-identical assignment
    // both sides; means rounded to 6.
    Q("q_kmeans_update",
      (s, d) => Similarity.kmeansUpdate(emb(s, d), nCentroids = 8)
        .orderBy("cell", "dim"),
      Some {
        val dist = s"(${dotSql("e.embedding", "e.embedding")} - " +
          s"2.0 * ${dotSql("e.embedding", "c.cvec")} + ${dotSql("c.cvec", "c.cvec")})"
        "WITH cent AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8), " +
          s"asg AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn " +
          s"FROM (SELECT e.vec_id, c.cid, $dist AS dist FROM embeddings e, cent c) t), " +
          "cells AS (SELECT a.cid AS cell, e.embedding FROM asg a " +
          "JOIN embeddings e ON a.vec_id = e.vec_id WHERE a.rn = 1) " +
          s"SELECT cell, CAST(i - 1 AS INTEGER) AS dim, count(*) AS n, " +
          s"round(avg(CAST(embedding[CAST(i AS INTEGER)] AS DOUBLE)), 6) AS mean " +
          s"FROM cells, range(1, ${Dims + 1}) t(i) " +
          "GROUP BY cell, dim ORDER BY cell, dim"
      }),

    // Declared BQ audit: recall@k + MRR of the sign-code retriever
    // against the exact-cosine truth — the q_ann_recall stance for the
    // 1-bit path, so the compression/recall trade the 10x rescoring
    // window buys is a BOARD number, not a spec aside.
    Q("q_bq_recall",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.retrievalMetrics(
          Similarity.cosineTopK(e, q, K),
          Similarity.bqTopK(e, q, k = K, n = 50, dims = Dims),
          k = K)
      },
      Some(Similarity.retrievalMetricsSql(
        s"($cosineRankedSql)",
        "(" + Similarity.bqTopKSql("embeddings", "vec_id < 5", k = K,
          n = 50, dims = Dims) + ")", k = K))),

    // BQ admission gate (multi-index Hamming, Norouzi 2012): a batch of
    // re-uploads — vec_id < 20 with two sign-flipped components, the
    // re-encode drift a perceptual fingerprint survives — probed against
    // the corpus's packed-code index. EXACT recall by pigeonhole (4
    // disjoint 16-bit bands, hamming <= 3 touches at most 3), so unlike
    // the LSH family there is no missed-pair probability to audit. Only
    // (band, bval) keys shuffle; the streaming face replays this exact
    // function per micro-batch.
    Q("q_bq_admit",
      (s, d) => {
        val e = emb(s, d)
        val batch = e.filter(col("vec_id") < 20).select(
          (col("vec_id") + 10000L).as("vec_id"),
          transform(col("embedding"),
            (x, i) => when(i < 2, -x).otherwise(x)).as("embedding"))
        Similarity.bqAdmitIndexed(Similarity.bqCodes(e, Dims), batch,
            maxHamming = 3, dims = Dims)
          .orderBy("new_id", "dup_of")
      },
      Some(Similarity.bqAdmitSql("embeddings",
        "(SELECT vec_id + 10000 AS vec_id, " +
          s"list_transform(range(1, ${Dims + 1}), " +
          "i -> CASE WHEN i <= 2 THEN -embedding[i] ELSE embedding[i] END) " +
          "AS embedding FROM embeddings WHERE vec_id < 20) bsub",
        maxHamming = 3, dims = Dims) + " ORDER BY new_id, dup_of")),

    // Full Lloyd loop (3 assignment rounds, k = 8) — the trainer
    // q_kmeans_update is one step of. Iteration is portable because the
    // means are exact integer-lattice points (floor(x·2^20) sums, one
    // double division): a cross-row float avg would drift between
    // engines by round 2. Driver traffic is bounded by k·dims
    // sufficient stats per round, never the corpus.
    Q("q_kmeans_iter",
      (s, d) => Similarity.kmeansLloyd(emb(s, d), nCentroids = 8, iters = 3),
      Some(Similarity.kmeansLloydSql("embeddings", nCentroids = 8,
        iters = 3, dims = Dims))),

    // Multimodal plumbing: opaque binary payload -> per-partition stubbed
    // decode -> typed features. ASCII payloads make the checksum (the same
    // polynomial byte fold as charHash) oracle-checkable end to end.
    Q("q_media_features",
      (s, d) => Multimodal.extractFeatures(
          Multimodal.mediaFromDocuments(Tables.load(s, d, "documents")))
        .toDF()
        .orderBy("media_id"),
      Some {
        val hash = graft.functions.TextFunctions.charHashSql("text")
        s"WITH f AS (SELECT doc_id AS media_id, 'text' AS kind, " +
          s"CAST(length(text) AS BIGINT) AS n_bytes, $hash AS checksum FROM documents) " +
          "SELECT media_id, kind, n_bytes, checksum, " +
          "checksum % 640 AS width, checksum % 480 AS height " +
          "FROM f ORDER BY media_id"
      }),

    // Media near-dup by shared per-frame dHash — the video-dedup shape
    // run END-TO-END through the multimodal seam with the REAL codec in
    // the loop (r9): each doc renders to packed 9×8 grayscale P6 frames,
    // frameSample demuxes on the 227-byte frame boundary, every frame
    // passes the real P6 decoder and hashes to its 64-bit dHash
    // (brightness-shift invariant, ImageCodecSpec), and media meet only
    // through shared hashes (never all-pairs). The oracle recomputes
    // the hash bits straight from the text (gray render ⟹ luma ≡ char
    // code; 9×8 ⟹ downscale ≡ identity).
    Q("q_media_dedup",
      (s, d) => Multimodal.mediaDHashDup(
          Multimodal.mediaFromDocumentsAsVideo(Tables.load(s, d, "documents")),
          stride = 2, minShared = 2)
        .orderBy("a", "b"),
      Some(Multimodal.mediaDHashDupSql("documents",
        stride = 2, minShared = 2) + " ORDER BY a, b")),

    // Product-quantization encode: 64 floats -> 4 codes (16-dim blocks,
    // 8 codewords = the RANKS of the 8 lowest non-negative vec_ids —
    // gapped id spaces rank instead of crashing). The declared corpora
    // have CONTIGUOUS ids 0..n−1, so rank == id and this oracle (and
    // q_pq_topk's / q_ann_ivf_pq's) may key its codebook CTE by
    // `vec_id < 8` directly; a gapped corpus would need a rank CTE
    // (ORDER BY vec_id LIMIT 8 + row_number) to stay engine-identical.
    // The Spark side embeds the collected codebook as plan constants
    // (scan-stage projection, zero shuffles); the oracle recomputes each
    // block's argmin with the identical strict-fold distance, so every
    // code — tie-breaks included — hash-verifies.
    Q("q_pq_encode",
      (s, d) => Similarity.pqEncode(emb(s, d), m = 4, nCodes = 8)
        .orderBy("vec_id"),
      Some {
        val sub = Dims / 4
        val codes = (0 until 4).map { j =>
          val se = s"array_slice(e.embedding, ${j * sub + 1}, ${(j + 1) * sub})"
          val sc = s"array_slice(c.cvec, ${j * sub + 1}, ${(j + 1) * sub})"
          val dist = s"(${dotSql(se, se)} - 2.0 * ${dotSql(se, sc)} + ${dotSql(sc, sc)})"
          s"(SELECT c.cid FROM cb c ORDER BY $dist, c.cid LIMIT 1) AS code_$j"
        }
        "WITH cb AS (SELECT vec_id AS cid, embedding AS cvec " +
          "FROM embeddings WHERE vec_id < 8) " +
          s"SELECT e.vec_id, ${codes.mkString(", ")} " +
          "FROM embeddings e ORDER BY e.vec_id"
      }),

    // PQ-ADC top-k: the query path over the codes — per-query LUTs (m ×
    // nCodes distances) compiled into the plan, candidate distance = m
    // table probes summed, original floats never read in the scan. The
    // oracle recomputes codes, LUT entries and tie-breaks with the
    // identical fold arithmetic, so the APPROXIMATION itself (not just
    // some bound) hash-verifies.
    Q("q_pq_topk",
      (s, d) => {
        val e = emb(s, d)
        Similarity.pqAdcTopK(e, e.filter(col("vec_id") < K), k = K,
            m = 4, nCodes = 8)
          .orderBy("qid", "rank")
      },
      Some {
        val sub = Dims / 4
        val codes = (0 until 4).map { j =>
          val se = s"array_slice(e.embedding, ${j * sub + 1}, ${(j + 1) * sub})"
          val sc = s"array_slice(c.cvec, ${j * sub + 1}, ${(j + 1) * sub})"
          val dist = s"(${dotSql(se, se)} - 2.0 * ${dotSql(se, sc)} + ${dotSql(sc, sc)})"
          s"(SELECT c.cid FROM cb c ORDER BY $dist, c.cid LIMIT 1) AS code_$j"
        }
        val ds = (0 until 4).map { j =>
          val sq = s"array_slice(q.qvec, ${j * sub + 1}, ${(j + 1) * sub})"
          val sc = s"array_slice(c.cvec, ${j * sub + 1}, ${(j + 1) * sub})"
          s"(SELECT (${dotSql(sq, sq)} - 2.0 * ${dotSql(sq, sc)} + ${dotSql(sc, sc)}) " +
            s"FROM cb c WHERE c.cid = enc.code_$j)"
        }
        "WITH cb AS (SELECT vec_id AS cid, embedding AS cvec " +
          "FROM embeddings WHERE vec_id < 8), " +
          s"enc AS (SELECT e.vec_id, ${codes.mkString(", ")} FROM embeddings e), " +
          s"q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < $K), " +
          s"scored AS (SELECT q.qid, enc.vec_id, (${ds.mkString(" + ")}) AS adc " +
          "FROM enc CROSS JOIN q WHERE enc.vec_id <> q.qid), " +
          "ranked AS (SELECT qid, vec_id, adc, row_number() OVER (" +
          "PARTITION BY qid ORDER BY adc, vec_id) AS rank FROM scored) " +
          s"SELECT qid, rank, vec_id, round(adc, 6) AS adc_dist FROM ranked " +
          s"WHERE rank <= $K ORDER BY qid, rank"
      }),

    // IVF + PQ-ADC composed ANN (the FAISS-style IVFPQ stack): the
    // two-level quantizer (corpus-derived cells, target 32 — oracle pins
    // the sf0.01 derivation 16) prunes candidates to the query's 4
    // nearest cells, then ADC scores ONLY those via per-query LUT probes over
    // the PQ codes — reads pruned by IVF, read cost shrunk by PQ. Every
    // stage (assignment, codes, LUT entries, tie-breaks) is the shared
    // strict-fold arithmetic, so the full approximation hash-verifies.
    Q("q_ann_ivf_pq",
      (s, d) => {
        val e = emb(s, d)
        Similarity.ivfPqTopK(e, e.filter(col("vec_id") < K), k = K,
            nCentroids = Similarity.derivedCentroids(e.count(), 32L),
            nprobe = 4, m = 4, nCodes = 8)
          .orderBy("qid", "rank")
      },
      Some {
        val sub = Dims / 4
        val codes = (0 until 4).map { j =>
          val se = s"array_slice(e.embedding, ${j * sub + 1}, ${(j + 1) * sub})"
          val sc = s"array_slice(c.cvec, ${j * sub + 1}, ${(j + 1) * sub})"
          val d = s"(${dotSql(se, se)} - 2.0 * ${dotSql(se, sc)} + ${dotSql(sc, sc)})"
          s"(SELECT c.cid FROM cb c ORDER BY $d, c.cid LIMIT 1) AS code_$j"
        }
        val ds = (0 until 4).map { j =>
          val sq = s"array_slice(q.qvec, ${j * sub + 1}, ${(j + 1) * sub})"
          val sc = s"array_slice(c.cvec, ${j * sub + 1}, ${(j + 1) * sub})"
          s"(SELECT (${dotSql(sq, sq)} - 2.0 * ${dotSql(sq, sc)} + ${dotSql(sc, sc)}) " +
            s"FROM cb c WHERE c.cid = enc.code_$j)"
        }
        s"WITH ${twoLevelAsgSql(nCells = 16, nprobe = 4)}, " +
          "cb AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8), " +
          "cells AS (SELECT vec_id AS id, cid AS cell FROM asg WHERE rn = 1), " +
          s"qcells AS (SELECT vec_id AS qid, cid AS cell FROM asg WHERE vec_id < $K), " +
          "cand AS (SELECT DISTINCT q.qid, c.id AS vec_id FROM cells c " +
          "JOIN qcells q ON c.cell = q.cell AND c.id <> q.qid), " +
          s"enc AS (SELECT e.vec_id, ${codes.mkString(", ")} FROM embeddings e), " +
          s"q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < $K), " +
          s"scored AS (SELECT cand.qid, cand.vec_id, (${ds.mkString(" + ")}) AS adc " +
          "FROM cand JOIN enc ON cand.vec_id = enc.vec_id JOIN q ON cand.qid = q.qid), " +
          "ranked AS (SELECT qid, vec_id, adc, row_number() OVER (" +
          "PARTITION BY qid ORDER BY adc, vec_id) AS rank FROM scored) " +
          s"SELECT qid, rank, vec_id, round(adc, 6) AS adc_dist FROM ranked " +
          s"WHERE rank <= $K ORDER BY qid, rank"
      }),

    // SemDeDup-style semantic dedup: nearest-centroid cells (first-n
    // convention, strict-fold L2 assignment) partition the pair space —
    // the embedding analogue of an LSH bucket — then a vector is dropped
    // when a lower-id cell-mate has cosine >= 0.2. The greedy
    // keep-lowest-id rule makes the result deterministic and the
    // threshold compare runs on bit-identical doubles, so even boundary
    // pairs agree with the oracle's quadratic recompute. The cell count
    // is CORPUS-DERIVED (target cell 64 — pinned nCentroids=8 made the
    // within-cell pair join corpus²/8, 28–56x at sf1 on the r12 board);
    // the oracle pins the sf0.01 derivation ceil(500/64) = 8.
    Q("q_semdedup",
      (s, d) => {
        val e = emb(s, d)
        Similarity.semDedup(e,
            nCentroids = Similarity.derivedCentroids(e.count(), 64L),
            tau = 0.2)
          .orderBy("id")
      },
      Some {
        s"WITH ${twoLevelAsgSql(nCells = 8, nprobe = 1)}, " +
          "cells AS (SELECT a.vec_id AS id, a.cid AS cell, e.embedding AS vec " +
          "FROM asg a JOIN embeddings e ON a.vec_id = e.vec_id WHERE a.rn = 1), " +
          "dup AS (SELECT x.id, min(y.id) AS dup_of FROM cells x " +
          "JOIN cells y ON x.cell = y.cell AND y.id < x.id " +
          s"WHERE ${cosineSql("x.vec", "y.vec")} >= 0.2 GROUP BY x.id) " +
          "SELECT c.id, c.cell, coalesce(d.dup_of, -1) AS dup_of, " +
          "(d.dup_of IS NULL) AS kept " +
          "FROM cells c LEFT JOIN dup d ON c.id = d.id ORDER BY c.id"
      }),

    // Signed random projection (JL-style dimensionality reduction) onto
    // 16 deterministic integer hyperplanes — the same plane family the
    // LSH bands sign, as a narrow zero-shuffle scan-stage projection;
    // projected vectors are bit-identical strict folds on both engines.
    // Declared form unrolls the projection to scalar columns p0..p15
    // (driver comparator sorts rows; array cells are unsortable in its
    // pandas frame); the array form stays the operator output and is
    // spec-verified component-wise in SimilaritySpec.
    Q("q_jl_project",
      (s, d) => Similarity.jlProject(emb(s, d), outDims = 16, dims = Dims)
        .select(col("vec_id") +:
          (0 until 16).map(j =>
            element_at(col("proj"), j + 1).as(s"p$j")): _*)
        .orderBy("vec_id"),
      Some {
        val comps = (0 until 16).map(j =>
          s"round(${graft.functions.VectorFunctions.planeDotSql("embedding", j, Dims)}, 6) AS p$j")
        s"SELECT vec_id, ${comps.mkString(", ")} " +
          "FROM embeddings ORDER BY vec_id"
      }),

    // Triangle census of the embedding near-dup graph: exact triangle
    // count + global clustering coefficient — the LSH-threshold sanity
    // audit (random-pair noise clusters at ~0, true duplicate cliques at
    // ~1). Oriented wedge join + closing-edge semi-join, all on 8-byte
    // vertex keys; the oracle rebuilds the identical edge set and counts
    // the same oriented triangles quadratically.
    Q("q_triangle_count",
      (s, d) => graft.operators.GraphOps.triangleStats(nearDupEdges(s, d)),
      Some(s"WITH cb AS (${hyperBandsSql(4, 4)}), " +
        "pairs AS (SELECT DISTINCT x.id AS a, y.id AS b FROM cb x " +
        "JOIN cb y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id), " +
        "e AS (SELECT p.a, p.b FROM pairs p " +
        "JOIN embeddings va ON p.a = va.vec_id " +
        "JOIN embeddings vb ON p.b = vb.vec_id " +
        s"WHERE ${cosineSql("va.embedding", "vb.embedding")} >= 0.3), " +
        "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM " +
        "(SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) GROUP BY v), " +
        "nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vertices FROM deg), " +
        "ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e), " +
        "w AS (SELECT CAST(coalesce(sum((deg * (deg - 1)) // 2), 0) AS BIGINT) AS n_wedges FROM deg), " +
        "t AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles " +
        "FROM e e1 JOIN e e2 ON e1.b = e2.a " +
        "JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) " +
        "SELECT n_vertices, n_edges, n_wedges, n_triangles, " +
        "CASE WHEN n_wedges > 0 THEN " +
        "round((CAST(3.0 AS DOUBLE) * CAST(n_triangles AS DOUBLE)) / " +
        "CAST(n_wedges AS DOUBLE), 6) ELSE 0.0 END AS clustering_coeff " +
        "FROM nv, ne, w, t")),

    // Local clustering coefficient per node over the same near-dup
    // graph — q_triangle_count's per-node refinement: lcc ~ 1 flags
    // clique-like duplicate neighborhoods (safe to merge transitively),
    // lcc ~ 0 flags template/boilerplate hubs a transitive merge would
    // wrongly collapse. Integer wedges/triangles, one IEEE division.
    Q("q_local_cc",
      (s, d) => graft.operators.GraphOps.localClusteringCoeff(
        nearDupEdges(s, d)),
      Some(s"WITH cb AS (${hyperBandsSql(4, 4)}), " +
        "pairs AS (SELECT DISTINCT x.id AS a, y.id AS b FROM cb x " +
        "JOIN cb y ON x.band = y.band AND x.bkey = y.bkey AND x.id < y.id), " +
        "edges0 AS (SELECT p.a, p.b FROM pairs p " +
        "JOIN embeddings va ON p.a = va.vec_id " +
        "JOIN embeddings vb ON p.b = vb.vec_id " +
        s"WHERE ${cosineSql("va.embedding", "vb.embedding")} >= 0.3), " +
        "lcc AS (" + graft.operators.GraphOps.localClusteringCoeffSql(
          "(SELECT a, b FROM edges0)").replace(" ORDER BY d.node", "") + ") " +
        "SELECT * FROM lcc ORDER BY node")),

    // PageRank (3 power iterations, d = 0.85) over a directed graph
    // synthesized deterministically from events (Shots-style): nodes
    // 50..63 never emit edges, exercising the dangling-mass path. Per-
    // round: two 8-byte-key shuffles; per-dst sums and the dangling fold
    // are ordered cumsums → ranks bit-identical, fully hash-verified.
    Q("q_pagerank",
      (s, d) => graft.operators.GraphOps.pageRank(
        Tables.load(s, d, "events")
          .select((col("user_id") % 50).as("src"),
            ((col("event_id") * 7919L) % 64).as("dst")),
        iters = 3, damping = 0.85)
        .orderBy("node"),
      Some(graft.operators.GraphOps.pageRankSql(
        "(SELECT user_id % 50 AS src, (event_id * 7919) % 64 AS dst FROM events)",
        iters = 3, damping = 0.85))),

    // Label propagation (3 synchronous rounds, smallest-label tie-break)
    // over a deterministic bipartite-ish community graph from events:
    // users attach to two hub nodes, so hubs stitch user blocks into
    // communities. All integer — fully hash-verified against the
    // identical unrolled CTE chain.
    Q("q_label_prop",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val e1 = ev.select((col("user_id") % 120).as("a"),
          (lit(1000L) + col("user_id") % 12).as("b"))
        val e2 = ev.select((col("user_id") % 120).as("a"),
          (lit(1000L) + (col("user_id") * 31) % 12).as("b"))
        graft.operators.GraphOps.labelProp(e1.unionByName(e2), iters = 3)
          .orderBy("node")
      },
      Some(graft.operators.GraphOps.labelPropSql(
        "(SELECT user_id % 120 AS a, 1000 + (user_id % 12) AS b FROM events " +
          "UNION ALL SELECT user_id % 120, 1000 + ((user_id * 31) % 12) FROM events)",
        iters = 3))),

    // HITS hubs/authorities (3 L1-normalized rounds) over the SAME event
    // graph q_pagerank scores — the two-score decomposition next to
    // PageRank's single authority prior. Every float reduction is an
    // ordered cumsum fold, so both engines produce bit-identical scores.
    Q("q_hits",
      (s, d) => graft.operators.GraphOps.hits(
          Tables.load(s, d, "events")
            .select((col("user_id") % 50).as("src"),
              ((col("event_id") * 7919) % 64).as("dst")),
          iters = 3)
        .orderBy("node"),
      Some(graft.operators.GraphOps.hitsSql(
        "(SELECT user_id % 50 AS src, (event_id * 7919) % 64 AS dst FROM events)",
        iters = 3))),

    // Degree assortativity (Newman r) of the hub-spoke community graph —
    // the structural audit for a dedup pair stage: ~+1 means clique-y
    // true-duplicate clusters, strongly negative means hub artifacts
    // (e.g. one boilerplate template matching everything). All-integer
    // DECIMAL(38,0) moments + one fixed double tree -> hash-verified.
    Q("q_degree_assort",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val e1 = ev.select((col("user_id") % 120).as("a"),
          (lit(1000L) + col("user_id") % 12).as("b"))
        val e2 = ev.select((col("user_id") % 120).as("a"),
          (lit(1000L) + (col("user_id") * 31) % 12).as("b"))
        graft.operators.GraphOps.degreeAssortativity(e1.unionByName(e2))
      },
      Some(graft.operators.GraphOps.degreeAssortativitySql(
        "(SELECT user_id % 120 AS a, 1000 + (user_id % 12) AS b FROM events " +
          "UNION ALL SELECT user_id % 120, 1000 + ((user_id * 31) % 12) FROM events) es"))),

    // k-core peel (k = 7, 4 synchronous rounds) over an ER-plus-dense-core
    // graph from events: the sparse 3000-vertex ER part peels away over
    // MULTIPLE cascading rounds (2172 -> 200 -> 60 vertices at sf0.01)
    // while the deliberately dense 60-vertex block survives as the stable
    // core — locating the dense center a near-dup cluster stage should
    // treat aggressively. Fixed-round form (pagerank convention) so the
    // oracle unrolls the identical semi-join chain; all-integer,
    // hash-verified.
    Q("q_kcore",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val er = ev.select((col("event_id") % 3000).as("a"),
          ((col("event_id") * 7919L + col("user_id")) % 3000).as("b"))
        val core = ev.select((lit(3000L) + col("event_id") % 60).as("a"),
          (lit(3000L) + (col("event_id") * 31L + col("user_id")) % 60).as("b"))
        graft.operators.GraphOps.kCore(er.unionByName(core), k = 7, rounds = 4)
          .orderBy("node")
      },
      Some(graft.operators.GraphOps.kCoreSql(
        "(SELECT event_id % 3000 AS a, (event_id * 7919 + user_id) % 3000 AS b " +
          "FROM events UNION ALL SELECT 3000 + (event_id % 60), " +
          "3000 + ((event_id * 31 + user_id) % 60) FROM events) es",
        k = 7, rounds = 4) + " ORDER BY node")),

    // Link prediction by Resource-Allocation index over the event graph:
    // ranks the non-adjacent pairs the candidate stage most plausibly
    // MISSED (many shared low-degree neighbors ⇒ near-certain duplicate)
    // — false-negative recovery at graph cost, no corpus re-banding. RA
    // (Σ 1/deg, one IEEE division per term) over Adamic-Adar's libm ln;
    // sorted-fold float reduction ⇒ fully hash-verified.
    Q("q_link_predict",
      (s, d) => graft.operators.GraphOps.linkPredictRA(
        Tables.load(s, d, "events")
          .select((col("user_id") % 50).as("a"),
            ((col("event_id") * 7919L) % 64).as("b")),
        topK = 50),
      Some(graft.operators.GraphOps.linkPredictRASql(
        "(SELECT user_id % 50 AS a, (event_id * 7919) % 64 AS b " +
          "FROM events) es", topK = 50))),

    // SQ8 two-stage ANN: int8 scalar-quantized INTEGER-dot coarse scan
    // (1-byte codes = 4x less scan bandwidth than floats; no codebook
    // training, unlike PQ), exact cosine rerank of the top-20 survivors.
    // Stage-1 ordering is pure integer (the mmr micro-unit lesson), so
    // the whole pipeline hash-verifies; recall vs exact is spec-measured.
    Q("q_sq8_topk",
      (s, d) => {
        val e = emb(s, d)
        Similarity.sq8TopK(e, e.filter(col("vec_id") < 5), k = K, n = 20)
          .orderBy("qid", "rank")
      },
      Some(Similarity.sq8TopKSql("embeddings", "vec_id < 5", k = K, n = 20,
        dims = Dims) + " ORDER BY qid, rank")),

    // Binary-quantization two-stage ANN: 1-bit sign codes packed into
    // two longs (32x compression — a billion-vector index scans from
    // ~24 GB instead of ~256 GB of floats), XOR+popcount Hamming coarse
    // scan, exact cosine rerank of the top-50 survivors (10x oversample
    // — 1-bit codes trade compression for a wider rescoring window;
    // recall 0.48@4x -> 0.80@10x, measured in the spec). Stage-1 is
    // float-free end to end (integer Hamming, vec_id ties), so the
    // pipeline hash-verifies.
    Q("q_bq_topk",
      (s, d) => {
        val e = emb(s, d)
        Similarity.bqTopK(e, e.filter(col("vec_id") < 5), k = K, n = 50,
            dims = Dims)
          .orderBy("qid", "rank")
      },
      Some(Similarity.bqTopKSql("embeddings", "vec_id < 5", k = K, n = 50,
        dims = Dims) + " ORDER BY qid, rank")),

    // MMR diversified rerank (λ = 0.7, 4 picks from the exact top-10):
    // the redundancy-killer between retrieval and serving — without it a
    // near-dup-heavy corpus fills the whole top-k with one cluster. The
    // corpus is touched only by the stage-1 retriever; the greedy chain
    // is |queries|·n²-bounded and unrolls set-based (no driver loop),
    // with every score face rounded so selections hash-verify.
    Q("q_mmr_rerank",
      (s, d) => {
        val e = emb(s, d)
        val ranked = Similarity.cosineTopK(e, e.filter(col("vec_id") < 5),
            k = 10).withColumnRenamed("cos_sim", "rel")
        Similarity.mmrRerank(ranked, e, k = 4, lambdaTenths = 7)
          .orderBy("qid", "step")
      },
      Some(Similarity.mmrRerankSql(
        s"(${cosineRankedSqlN(10, "rel")}) rsub",
        "embeddings", cosineSql, k = 4, lambdaTenths = 7) +
        " ORDER BY qid, step")),

    // Reciprocal-rank fusion of the LSH and IVF retrievers — the standard
    // robustness ensemble when two retrievers' scores aren't comparable.
    // Fusion cost is bounded by the rankings (|queries|·k rows), never
    // the corpus; both ranked inputs reuse the declared ANN plans and
    // oracles verbatim.
    Q("q_rrf_fusion",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.rrfFuse(
            Similarity.lshTopK(e, q, K, bands = 4, rowsPerBand = 4, dims = Dims),
            Similarity.ivfTopK(e, q, K,
              nCentroids = Similarity.derivedCentroids(e.count(), 32L),
              nprobe = 4),
            k = K)
          .orderBy("qid", "rank")
      },
      Some(Similarity.rrfFuseSql(s"($lshRankedSql)", s"($ivfRankedSql)", k = K))),

    // k-NN graph over ALL vectors via IVF cells (every vector a query):
    // the symmetric cell join — the only corpus shuffle is keyed on the
    // cell id, join degree bounded by cell population. Feeds the graph
    // operators (label_prop / components / triangle audit). The cell
    // count is CORPUS-DERIVED (Similarity.derivedCentroids, target cell
    // 32): pinned nCentroids=16 made cell population ∝ corpus and the
    // symmetric join corpus²/16 (28–40x at sf1 on the r12 board); the
    // oracle pins the sf0.01 derivation ceil(500/32) = 16.
    Q("q_knn_graph",
      (s, d) => {
        val e = emb(s, d)
        Similarity.knnGraph(e, k = K,
            nCentroids = Similarity.derivedCentroids(e.count(), 32L),
            nprobe = 2)
          .orderBy("src", "rank")
      },
      Some {
        s"WITH ${twoLevelAsgSql(nCells = 16, nprobe = 2)}, " +
          "cells AS (SELECT vec_id AS id, cid AS cell FROM asg WHERE rn = 1), " +
          "probes AS (SELECT vec_id AS qid, cid AS cell FROM asg), " +
          "pairs AS (SELECT p.qid, c.id AS vec_id FROM cells c " +
          "JOIN probes p ON c.cell = p.cell AND c.id <> p.qid), " +
          "q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings), " +
          "cv AS (SELECT vec_id, embedding AS cvec FROM embeddings), " +
          s"scored AS (SELECT p.qid, p.vec_id, ${cosineSql("qvec", "cvec")} AS cos " +
          "FROM pairs p JOIN q ON p.qid = q.qid JOIN cv ON p.vec_id = cv.vec_id), " +
          "ranked AS (SELECT qid, vec_id, cos, row_number() OVER (" +
          "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM scored) " +
          s"SELECT qid AS src, rank, vec_id AS dst, round(cos, 6) AS cos_sim " +
          s"FROM ranked WHERE rank <= $K ORDER BY src, rank"
      }),

    // Declared ANN audit: recall@k + MRR of the LSH retriever against
    // the exact-cosine truth (the q_lsh_recall stance for embeddings) —
    // integer hit counts + one ordered fold over the query frame, so
    // even the float metrics hash-verify.
    Q("q_ann_recall",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.retrievalMetrics(
          Similarity.cosineTopK(e, q, K),
          Similarity.lshTopK(e, q, K, bands = 4, rowsPerBand = 4, dims = Dims),
          k = K)
      },
      Some(Similarity.retrievalMetricsSql(
        s"($cosineRankedSql)", s"($lshRankedSql)", k = K))),

    // Declared IVF audit: recall@k + MRR of the two-level IVF retriever
    // (corpus-derived cells, nprobe=4) against the exact-cosine truth —
    // the path q_knn_graph / q_semdedup / q_ann_ivf_pq ride was audited
    // only in spec until r16 (measured 0.2992 knn recall at spec scale);
    // the q_lsh_recall stance says approximation quality is a BOARD
    // number, not a spec aside. Reuses the q_ann_ivf chain and oracle
    // verbatim, so the recall of the exact approximation that ships is
    // what's measured.
    Q("q_ivf_recall",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.retrievalMetrics(
          Similarity.cosineTopK(e, q, K),
          Similarity.ivfTopK(e, q, K,
            nCentroids = Similarity.derivedCentroids(e.count(), 32L),
            nprobe = 4),
          k = K)
      },
      Some(Similarity.retrievalMetricsSql(
        s"($cosineRankedSql)", s"($ivfRankedSql)", k = K))),

    // q_ivf_recall's TRAINED sibling: the identical retrieval geometry
    // (corpus-derived 16 cells, nprobe=4) with the quantizer replaced by
    // 2 Lloyd iterations over the corpus (trainIvfCentroids — the
    // serving assignment IS the training assignment). Reading this row
    // against q_ivf_recall is the trained-vs-low-id quantizer
    // comparison at equal nprobe; the oracle unrolls the full training
    // chain (lattice sums, REAL-rounded means, empty-cell keep) so the
    // trained approximation itself hash-verifies.
    Q("q_ivf_trained_recall",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.retrievalMetrics(
          Similarity.cosineTopK(e, q, K),
          Similarity.ivfTopKTrained(e, q, K,
            nCentroids = Similarity.derivedCentroids(e.count(), 32L),
            nprobe = 4, trainIters = 2),
          k = K)
      },
      Some(Similarity.retrievalMetricsSql(
        s"($cosineRankedSql)", s"($trainedIvfRankedSql)", k = K))),

    // Trained-vs-untrained on a CLUSTERED corpus — the measurement
    // q_ivf_trained_recall cannot make (the board embeddings are
    // structureless, so training honestly loses there). The corpus is
    // derived from vec_id by integer arithmetic (clusteredVecCol — both
    // engines build identical floats), clusters are real (lattice
    // centers, coprime-modulus noise), and the low-id seed convention is
    // pathological by construction (all seeds in cluster 0). Output: one
    // row per variant with (n_queries, n_hits, recall_at_k, mrr) at
    // EQUAL geometry (16 cells, nprobe=2) — trained recall >= untrained
    // is the measured, hash-verified outcome (spec-pinned: 1.0 vs 0.8 at
    // the sf0.01 gate). Corpus capped at GainCorpusCap (inactive at the
    // verify scale): a controlled experiment costs O(1), not corpus
    // Lloyd passes, at every sf.
    Q("q_ivf_trained_gain",
      (s, d) => {
        // cc feeds MANY consumers (truth, queries, two Lloyd passes, two
        // retrieval faces' candidate AND query sides) and truth feeds
        // both variants' metrics — checkpoint both once (r18): the
        // corpus is ≤ GainCorpusCap rows and truth |q|·K rows, so the
        // blocks are KBs while the saved re-evaluations are whole
        // scan+score+window subtrees per consumer.
        val cc = PB.sharedLocalCheckpoint(emb(s, d).select(col("vec_id"))
            .filter(col("vec_id") < GainCorpusCap)
            .withColumn("embedding", clusteredVecCol(col("vec_id"))))
        val nCells = Similarity.derivedCentroids(cc.count(), 32L)
        val q = cc.filter(col("vec_id") % 64 === 7 && col("vec_id") < 2048)
        val truth = PB.sharedLocalCheckpoint(Similarity.cosineTopK(cc, q, K))
        def tag(name: String, got: org.apache.spark.sql.DataFrame) =
          Similarity.retrievalMetrics(truth, got, K)
            .select(lit(name).as("variant"), col("n_queries"),
              col("n_hits"), col("recall_at_k"), col("mrr"))
        tag("trained", Similarity.ivfTopKTrained(cc, q, K,
            nCentroids = nCells, nprobe = 2, trainIters = 2))
          .unionByName(tag("untrained", Similarity.ivfTopK(cc, q, K,
            nCentroids = nCells, nprobe = 2)))
          .orderBy("variant")
      },
      Some(ivfTrainedGainSql)),

    // NDCG@k of the LSH retriever vs the exact ranking (graded rel =
    // k − exact_rank + 1): the POSITION-sensitive audit — right set in
    // the wrong order scores recall 1 but NDCG < 1. Fixed per-term ln
    // tree, rank-ordered fold, plan-time IDCG literal.
    Q("q_ndcg",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.ndcgAtK(
          Similarity.cosineTopK(e, q, K),
          Similarity.lshTopK(e, q, K, bands = 4, rowsPerBand = 4, dims = Dims),
          k = K).orderBy("qid")
      },
      Some(Similarity.ndcgAtKSql(
        s"($cosineRankedSql)", s"($lshRankedSql)", k = K) +
        " ORDER BY qid")),

    // Kendall-τ agreement between the LSH and IVF retrievers on their
    // shared top-k items: the disagreement diagnostic under q_rrf_fusion
    // — τ near 1 ⇒ fusing adds nothing, τ near −1 ⇒ the retrievers see
    // different structure. All-integer pair counts, k²-bounded.
    Q("q_kendall_tau",
      (s, d) => {
        val e = emb(s, d)
        val q = e.filter(col("vec_id") < 5)
        Similarity.kendallTau(
          Similarity.lshTopK(e, q, K, bands = 4, rowsPerBand = 4, dims = Dims),
          Similarity.ivfTopK(e, q, K,
            nCentroids = Similarity.derivedCentroids(e.count(), 32L),
            nprobe = 4))
          .orderBy("qid")
      },
      Some(Similarity.kendallTauSql(
        s"($lshRankedSql)", s"($ivfRankedSql)") + " ORDER BY nq.qid")),

    // Exact MaxSim (late-interaction / ColBERT) scoring of multi-vector
    // docs: groups of 4 consecutive vec_ids form one doc; score(q, d) =
    // Σ over query tokens of max over doc tokens of cosine. Per-token
    // maxima aggregate in one map-side-combined pass and sum in a FIXED
    // left-associated tree, so scores — and the ranking — hash-verify.
    Q("q_maxsim",
      (s, d) => {
        val t = LateInteraction.tokenFrame(emb(s, d), TokensPerDoc)
        LateInteraction.maxSim(t, t.filter(col("doc") < 3), K, TokensPerDoc)
          .orderBy("qdoc", "rank")
      },
      Some(s"WITH $tokenFrameSql, " +
        "q AS (SELECT doc AS qdoc, tok AS qtok, vec AS qvec FROM t WHERE doc < 3), " +
        "c AS (SELECT doc AS cdoc, tok AS ctok, vec AS cvec FROM t), " +
        s"sc AS (SELECT qdoc, cdoc, qtok, ${cosineSql("qvec", "cvec")} AS tcos " +
        "FROM c, q WHERE cdoc <> qdoc), " +
        s"ms AS (SELECT qdoc, cdoc, $maxsimScoreSql AS score FROM sc GROUP BY qdoc, cdoc), " +
        "ranked AS (SELECT qdoc, cdoc, score, row_number() OVER (" +
        "PARTITION BY qdoc ORDER BY score DESC, cdoc) AS rank FROM ms) " +
        s"SELECT qdoc, rank, cdoc, round(score, 6) AS maxsim FROM ranked " +
        s"WHERE rank <= $K ORDER BY qdoc, rank")),

    // The ColBERT serving shape: per query TOKEN top-10 candidate tokens
    // (brute force = audit form; the IVF token index at scale) generate
    // the candidate docs; full MaxSim is paid only for survivors
    // (|pairs|·16 token cosines, never |Q|·|corpus|).
    Q("q_maxsim_rerank",
      (s, d) => {
        val t = LateInteraction.tokenFrame(emb(s, d), TokensPerDoc)
        LateInteraction.maxSimRerank(t, t.filter(col("doc") < 3), K,
            tokenTopN = 10, tokensPerDoc = TokensPerDoc)
          .orderBy("qdoc", "rank")
      },
      Some(s"WITH $tokenFrameSql, " +
        "q AS (SELECT doc AS qdoc, tok AS qtok, vec AS qvec FROM t WHERE doc < 3), " +
        "c AS (SELECT doc AS cdoc, tok AS ctok, vec AS cvec FROM t), " +
        s"sc AS (SELECT qdoc, qtok, cdoc, ctok, ${cosineSql("qvec", "cvec")} AS tcos " +
        "FROM c, q WHERE cdoc <> qdoc), " +
        "tok AS (SELECT qdoc, qtok, cdoc, tcos, row_number() OVER (" +
        "PARTITION BY qdoc, qtok ORDER BY tcos DESC, cdoc, ctok) AS rn FROM sc), " +
        "prs AS (SELECT DISTINCT qdoc, cdoc FROM tok WHERE rn <= 10), " +
        "pc AS (SELECT p.qdoc, p.cdoc, q.qtok, " +
        s"${cosineSql("q.qvec", "c.cvec")} AS tcos " +
        "FROM prs p JOIN c ON p.cdoc = c.cdoc JOIN q ON p.qdoc = q.qdoc), " +
        s"ms AS (SELECT qdoc, cdoc, $maxsimScoreSql AS score FROM pc GROUP BY qdoc, cdoc), " +
        "ranked AS (SELECT qdoc, cdoc, score, row_number() OVER (" +
        "PARTITION BY qdoc ORDER BY score DESC, cdoc) AS rank FROM ms) " +
        s"SELECT qdoc, rank, cdoc, round(score, 6) AS maxsim FROM ranked " +
        s"WHERE rank <= $K ORDER BY qdoc, rank")),

    // Matryoshka (MRL) two-stage ANN: coarse top-20 on the first 16 dims
    // (the scan stage reads/multiplies a quarter of each vector), exact
    // 64-dim rerank of the survivors; both scores carried so the rerank
    // lift is auditable per row.
    Q("q_mrl_rerank",
      (s, d) => {
        val e = emb(s, d)
        LateInteraction.mrlRerank(e, e.filter(col("vec_id") < 5), K,
            coarseK = 20, prefixDims = PrefixDims)
          .orderBy("qid", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 5), " +
        "c AS (SELECT vec_id, embedding AS cvec FROM embeddings), " +
        "coarse AS (SELECT qid, vec_id, " +
        s"${cosineSql(s"qvec[1:$PrefixDims]", s"cvec[1:$PrefixDims]")} AS cosp " +
        "FROM c, q WHERE vec_id <> qid), " +
        "keep AS (SELECT qid, vec_id, cosp, row_number() OVER (" +
        "PARTITION BY qid ORDER BY cosp DESC, vec_id) AS crn FROM coarse), " +
        "rer AS (SELECT k.qid, k.vec_id, k.cosp, " +
        s"${cosineSql("q.qvec", "c.cvec")} AS cos " +
        "FROM keep k JOIN q ON k.qid = q.qid JOIN c ON k.vec_id = c.vec_id " +
        "WHERE k.crn <= 20), " +
        "ranked AS (SELECT qid, vec_id, cosp, cos, row_number() OVER (" +
        "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM rer) " +
        "SELECT qid, rank, vec_id, round(cos, 6) AS cos_sim, " +
        s"round(cosp, 6) AS cos_prefix FROM ranked WHERE rank <= $K " +
        "ORDER BY qid, rank")),

    // Contrastive hard-negative mining: per query, the 5 most-similar
    // OTHER-label vectors plus the margin below the hardest same-label
    // positive (negative margin = a negative outscoring every positive —
    // the highest-value contrastive training pairs).
    Q("q_hard_negatives",
      (s, d) => {
        val e = emb(s, d)
        LateInteraction.hardNegatives(e, e.filter(col("vec_id") < 8), K)
          .orderBy("qid", "rank")
      },
      Some("WITH q AS (SELECT vec_id AS qid, embedding AS qvec, label AS qlabel " +
        "FROM embeddings WHERE vec_id < 8), " +
        "c AS (SELECT vec_id, embedding AS cvec, label AS clabel FROM embeddings), " +
        "sc AS (SELECT qid, qlabel, vec_id, clabel, " +
        s"${cosineSql("qvec", "cvec")} AS cos FROM c, q WHERE vec_id <> qid), " +
        "pos AS (SELECT qid, max(cos) AS pos_best FROM sc " +
        "WHERE clabel = qlabel GROUP BY qid), " +
        "ranked AS (SELECT qid, vec_id, clabel, cos, row_number() OVER (" +
        "PARTITION BY qid ORDER BY cos DESC, vec_id) AS rank FROM sc " +
        "WHERE clabel <> qlabel) " +
        "SELECT r.qid, r.rank, r.vec_id AS neg_id, r.clabel AS neg_label, " +
        "round(r.cos, 6) AS neg_cos, round(p.pos_best - r.cos, 6) AS margin " +
        "FROM ranked r LEFT JOIN pos p ON r.qid = p.qid " +
        s"WHERE r.rank <= $K ORDER BY r.qid, r.rank")),

    // Multi-source BFS hop distance (4 frontier expansions) over the
    // sparse event graph: the blast-radius primitive — seed the known-bad
    // set, read off how far taint propagates in a near-dup graph. Each
    // round joins the adjacency against the CURRENT FRONTIER only, so the
    // per-round join shrinks as the expansion saturates; minimality is by
    // construction (first-appearance labeling + anti-join). All-integer,
    // hash-verified against the identically-unrolled MATERIALIZED chain.
    Q("q_bfs_hops",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val edges = ev.select((col("event_id") % 6000).as("a"),
          ((col("event_id") * 7919L + col("user_id")) % 6000).as("b"))
        val seeds = s.range(3).select(col("id").as("node"))
        graft.operators.GraphOps.bfsHops(edges, seeds, rounds = 4)
          .orderBy("node")
      },
      Some(graft.operators.GraphOps.bfsHopsSql(
        "(SELECT event_id % 6000 AS a, (event_id * 7919 + user_id) % 6000 AS b " +
          "FROM events) es",
        "(SELECT range AS node FROM range(3)) sd", rounds = 4) +
        " ORDER BY node")),

    // Modularity audit of the label-prop communities (Newman Q): near 0
    // ⇒ the "communities" are no better than random edge placement and
    // a dedup stage keyed on them would merge arbitrary documents.
    // Single-fraction integer form (4m·Σe_c − Σd_c²)/(4m²) in
    // DECIMAL(38,0) moments + one double division ⇒ hash-verified.
    Q("q_modularity",
      (s, d) => {
        val ev = Tables.load(s, d, "events")
        val e1 = ev.select((col("user_id") % 120).as("a"),
          (lit(1000L) + col("user_id") % 12).as("b"))
        val e2 = ev.select((col("user_id") % 120).as("a"),
          (lit(1000L) + (col("user_id") * 31) % 12).as("b"))
        val edges = e1.unionByName(e2)
        graft.operators.GraphOps.modularity(edges,
          graft.operators.GraphOps.labelProp(edges, iters = 3))
      },
      Some {
        val edgesSub =
          "(SELECT user_id % 120 AS a, 1000 + (user_id % 12) AS b FROM events " +
            "UNION ALL SELECT user_id % 120, 1000 + ((user_id * 31) % 12) FROM events)"
        graft.operators.GraphOps.modularitySql(edgesSub,
          graft.operators.GraphOps.labelPropSql(edgesSub, iters = 3))
      }),

    // Personalized PageRank (restart to a 3-node seed set): graph
    // proximity with MASS where q_bfs_hops gives distance — "rank every
    // node by closeness to this trusted/poisoned set". Same unrolled
    // fixed-round form and ordered-window float folds as q_pagerank.
    Q("q_ppr",
      (s, d) => graft.operators.GraphOps.personalizedPageRank(
        Tables.load(s, d, "events")
          .select((col("user_id") % 50).as("src"),
            ((col("event_id") * 7919L) % 64).as("dst")),
        s.range(3).select(col("id").as("node")),
        iters = 3, damping = 0.85)
        .orderBy("node"),
      Some(graft.operators.GraphOps.personalizedPageRankSql(
        "(SELECT user_id % 50 AS src, (event_id * 7919) % 64 AS dst FROM events)",
        "(SELECT range AS node FROM range(3)) sd",
        iters = 3, damping = 0.85))),

    // Centroid-distance OOD gate: each vector's cosine to its OWN
    // label's mean — far-from-centroid vectors are mislabeled, noisy, or
    // out-of-distribution, and a label-conditioned mix wants them
    // flagged. Relational fold (explode + broadcast centroid + ordered
    // cumsum) — no vector UDF; centroids follow the kmeansUpdate
    // round(avg,6) convention, so scores hash-verify.
    Q("q_ood_centroid",
      (s, d) => Similarity.centroidOod(emb(s, d), "label", threshold = 0.5)
        .orderBy("vec_id"),
      Some(Similarity.centroidOodSql("embeddings", "label", dims = Dims,
        threshold = 0.5) + " ORDER BY vec_id"))
  )
}
