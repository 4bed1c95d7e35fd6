package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Dedup, StatsOps, Temporal, TextOps}

/** SURVEY §2 r10 additions — evaluation/agreement/drift operators plus
  * the prefix-filtered overlap join: the measurement layer a curation
  * pipeline runs AFTER its gates (did the judges agree, did the
  * distribution drift, do two rankings tell the same story) and the
  * scale-correct candidate policy the sf1 audit asked for. Same oracle
  * conventions as every other module: exact integer frames wherever
  * possible, ordered float folds, aliases matched on both faces,
  * deterministic ORDER BY.
  */
object EvalQueries {

  private def ev(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")


  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "documents")

  /** q_jaro_winkler's (p_brand, p_size) block cap — the DedupQueries
    * SourceBlockCap convention (see that scaladoc): does not bind at or
    * below sf0.1 (max block 28), bounds the quadratic past it. */
  private val BrandSizeBlockCap = 48

  val defs: Seq[Q] = Seq(

    // Cohen's kappa between the classifier gate and the rule gate — the
    // chance-corrected agreement summary next to q_clf_calibration's
    // reliability table (ECE says WHERE they disagree; kappa says
    // whether agreement beats chance at all).
    Q("q_cohens_kappa",
      (s, d) => {
        // both gates in ONE scan (r19, TextOps.clfRuleGates) — the m⋈g
        // join re-scanned and re-tokenized the corpus; values identical
        StatsOps.cohensKappa(
          TextOps.clfRuleGates(docs(s, d), "doc_id", "text")
            .select(when(col("keep"), 1L).otherwise(0L).as("ka"),
              when(col("pass"), 1L).otherwise(0L).as("kb")),
          "ka", "kb")
      },
      Some {
        val codes = graft.functions.TextFunctions.tokenCodesSql("text")
        val toks = graft.functions.TextFunctions.tokensSql("text")
        StatsOps.cohensKappaSql(
          "(SELECT CAST(CASE WHEN m.margin > 0 THEN 1 ELSE 0 END AS VARCHAR) AS ra, " +
            "CAST(lab.rb AS VARCHAR) AS rb FROM " +
            s"(SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
            "(acc, c) -> acc + ((c % 64) * 2654435761 % 1999 - 999)) AS margin " +
            "FROM documents) m JOIN " +
            s"(SELECT doc_id, CASE WHEN (n_tok >= 20 AND n_tok <= 80) AND " +
            "(3 * n_tok <= ntc AND ntc <= 10 * n_tok) AND (nstop >= 2) AND " +
            "(100 * maxtf <= 15 * n_tok) THEN 1 ELSE 0 END AS rb FROM " +
            s"(SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok, " +
            s"CAST(len(list_filter($toks, t -> t IN ('the', 'a'))) AS BIGINT) AS nstop, " +
            s"CAST(list_max(list_transform(list_distinct($toks), " +
            s"t -> len(list_filter($toks, x -> x = t)))) AS BIGINT) AS maxtf, " +
            s"CAST(length(text) AS BIGINT) - (CAST(len($toks) AS BIGINT) - 1) AS ntc " +
            "FROM documents) g) lab ON m.doc_id = lab.doc_id)")
      }),

    // PSI per event type between the two user-parity populations over
    // fixed value-50 bins — the model-monitoring drift number next to
    // KS (anywhere-different) and Welch (mean-moved).
    Q("q_psi",
      (s, d) => StatsOps.psi(
        ev(s, d).select(col("event_type").as("grp"),
          floor(col("value") / 50.0).cast("long").as("bin"),
          (col("user_id") % 2).as("side")),
        "grp", "bin", "side", bins = 10)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n_ref, n_cur, psi FROM (" +
        StatsOps.psiSql(
          "(SELECT event_type AS grp, CAST(floor(value / 50.0) AS BIGINT) AS bin, " +
            "user_id % 2 AS side FROM events)",
          bins = 10, alpha = 0.5) + ") z ORDER BY event_type")),

    // Grouped AUC of the value score predicting the user-cohort label
    // over 64 exact buckets — the rank-sum AUC in its scalable bucketed
    // form (mid-rank fold on the bounded bucket grid, never a per-row
    // global rank).
    Q("q_group_auc",
      (s, d) => StatsOps.groupAuc(
        ev(s, d).select(col("event_type").as("grp"),
          least(floor(col("value") * 64.0 / 500.0), lit(63.0)).cast("long").as("b"),
          when(col("user_id") % 5 === 0, 1L).otherwise(0L).as("y")),
        "grp", "b", "y")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n_pos, n_neg, auc FROM (" +
        StatsOps.groupAucSql(
          "(SELECT event_type AS grp, " +
            "CAST(least(floor(value * 64.0 / 500.0), 63.0) AS BIGINT) AS b, " +
            "CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS y FROM events)") +
        ") z ORDER BY event_type")),

    // Rank-biased overlap between the top-20 users by event count and
    // by total floor(value) — do the two engagement rankings agree at
    // the head, head-weighted (p = 0.9).
    Q("q_rbo",
      (s, d) => StatsOps.rbo(
        ev(s, d).groupBy(col("user_id").as("id"))
          .agg(count(lit(1)).as("ma"),
            sum(floor(col("value")).cast("long")).as("mb")),
        "id", col("ma"), col("mb"), depth = 20, p = 0.9),
      Some(StatsOps.rboSql(
        "(SELECT user_id AS id, CAST(count(*) AS BIGINT) AS ma, " +
          "CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS mb " +
          "FROM events GROUP BY user_id)",
        depth = 20, p = 0.9))),

    // Frequent part triples per order with a-priori pruning — the
    // market-basket pair mining lifted one level. Support is
    // CORPUS-RELATIVE (StatsOps.scaledSupport — a fixed absolute minCo
    // stops pruning once every pair's co-occurrence outgrows it, so the
    // frequent-pair fan-out frame tracks the corpus); the oracle pins
    // the sf0.01 derivation scaledSupport(14743 baskets) = 3.
    Q("q_apriori_triples",
      (s, d) => {
        val baskets = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey").as("bk"), (col("l_partkey") % 40).as("it"))
        StatsOps.aprioriTriples(baskets, "bk", "it",
          minCo = StatsOps.scaledSupport(baskets.select("bk").distinct().count()),
          maxBasket = 100, k = 30)
      },
      Some(StatsOps.aprioriTriplesSql(
        "(SELECT l_orderkey AS bk, l_partkey % 40 AS it FROM lineitem)",
        minCo = 3, maxBasket = 100, k = 30))),

    // Jensen-Shannon drift per source vs the corpus — klDrift's
    // symmetric, bounded sibling over the identical top-V grid.
    Q("q_js_drift",
      (s, d) => TextOps.jsDrift(docs(s, d), "source", "text"),
      Some(TextOps.jsDriftSql("source", topV = 200, alpha = 0.5))),

    // Hourly OHLC bars per event type — first/last/min/max value in
    // (ts, event_id) order.
    Q("q_ohlc_bars",
      (s, d) => Temporal.ohlcBars(ev(s, d), "event_type", "ts", "event_id",
        "value", unit = "hour"),
      Some("SELECT k AS event_type, bar, n_rows, open, high, low, close FROM (" +
        Temporal.ohlcBarsSql(
          "(SELECT event_type AS k, ts, event_id AS tie, value AS v FROM events)",
          unit = "hour") + ") z ORDER BY event_type, bar")),

    // Time-weighted average value per event type — the correct mean for
    // irregular sampling (left-Riemann holding intervals in exact
    // microseconds, ordered fold).
    Q("q_twa",
      (s, d) => Temporal.timeWeightedAvg(ev(s, d), "event_type", "ts",
        "event_id", "value"),
      Some("SELECT k AS event_type, n_samples, span_us, twa FROM (" +
        Temporal.timeWeightedAvgSql(
          "(SELECT event_type AS k, ts, event_id AS tie, value AS v FROM events)") +
        ") z ORDER BY event_type")),

    // Sample-ratio mismatch gate per event type: user-parity arms vs
    // the declared 50/50 — the first sanity check of any experiment
    // readout (a biased assignment invalidates everything downstream).
    Q("q_srm",
      (s, d) => StatsOps.sampleRatioMismatch(
        ev(s, d).select(col("event_type").as("grp"),
          (col("user_id") % 2).as("arm")),
        "grp", "arm")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n0, n1, srm_chi2, srm_flag FROM (" +
        StatsOps.sampleRatioMismatchSql(
          "(SELECT event_type AS grp, user_id % 2 AS arm FROM events)",
          expected0 = 0.5) + ") z ORDER BY event_type")),

    // Single binary-segmentation changepoint per event type over the
    // daily count series — q_cusum localizes to the day.
    Q("q_changepoint",
      (s, d) => StatsOps.changepoint(
        ev(s, d).select(col("event_type").as("grp"), col("ts")),
        "grp", "ts")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, split_day, n_days, left_days, " +
        "left_sum, right_sum, score FROM (" +
        StatsOps.changepointSql(
          "(SELECT event_type AS grp, ts FROM events)") +
        ") z ORDER BY event_type")),

    // One Louvain move sweep over the embedding near-dup graph (the
    // q_local_cc input): exact-integer modularity-gain argmax from the
    // singleton partition — community detection's standard first pass.
    Q("q_louvain_move",
      (s, d) => graft.operators.GraphOps.louvainMove(
        SimilarityQueries.nearDupEdges(s, d)),
      Some(graft.operators.GraphOps.louvainMoveSql(
        s"(${SimilarityQueries.nearDupEdgesSql}) lm"))),

    // FULL Louvain phase 1 over the same near-dup graph: synchronous
    // gated move sweeps iterated to the no-improvement fixpoint
    // (q_louvain_move is the declared one-sweep face). The oracle
    // unrolls the IDENTICAL gated sweep 10 times — safe at any rounds >=
    // the convergence count because a rejected sweep is the identity
    // (the inverse of the dbscan fixed-round convention); the hash
    // compare therefore also proves the sf0.01 graph converges within 10
    // sweeps (measured: 7 accepted sweeps, Q = 0.5825).
    Q("q_louvain",
      (s, d) => graft.operators.GraphOps.louvain(
          SimilarityQueries.nearDupEdges(s, d))
        .select(col("node"), col("comm").as("community"))
        .orderBy("node"),
      Some(graft.operators.GraphOps.louvainSql(
        s"(${SimilarityQueries.nearDupEdgesSql}) lv", rounds = 10))),

    // TWO-LEVEL Louvain over the same near-dup graph: phase 1 to its
    // fixpoint, contract communities onto the weighted quotient, run
    // the weighted gated sweep there, compose labels back. Modularity
    // is monotone non-decreasing across levels by construction (the
    // GraphOpsSpec assertion); the oracle unrolls BOTH levels — level 1
    // verbatim from q_louvain, level 2 as the weighted sweep with
    // loop-aware degrees and the 4·W·(intra+loops) − Σvol² gate —
    // rejected rounds are the identity, so fixed unroll counts are safe.
    Q("q_louvain2",
      (s, d) => graft.operators.GraphOps.louvainTwoLevel(
          SimilarityQueries.nearDupEdges(s, d))
        .select(col("node"), col("comm").as("community"))
        .orderBy("node"),
      Some(graft.operators.GraphOps.louvainTwoLevelSql(
        s"(${SimilarityQueries.nearDupEdgesSql}) lv",
        rounds1 = 10, rounds2 = 8))),

    // Brier score with the Murphy decomposition over the same gates and
    // deciles as q_clf_calibration — reliability - resolution +
    // uncertainty in one row.
    Q("q_brier",
      (s, d) => TextOps.brierDecomposition(docs(s, d), "doc_id", "text"),
      Some(TextOps.brierDecompositionSql("documents", "doc_id", "text"))),

    // Bloom FPR audit: the engine prices its own pruning filter (the
    // q_lsh_recall stance) — orders keys not in the urgent set probe the
    // urgent bloom; exact companions hash-verify, the bound flag trips
    // the oracle if the realized rate drifts (q_hll_distinct convention).
    Q("q_bloom_fpr",
      (s, d) => {
        val orders = Tables.load(s, d, "orders")
        graft.operators.BloomOps.bloomFprAudit(
          orders.filter(col("o_orderpriority") === "1-URGENT"),
          orders, "o_orderkey", "o_orderkey",
          expectedItems = 100000, fpp = 0.03)
      },
      Some("SELECT " +
        "(SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders " +
        "WHERE o_orderpriority = '1-URGENT') AS n_inserted, " +
        "(SELECT CAST(count(DISTINCT o_orderkey) AS BIGINT) FROM orders " +
        "WHERE o_orderkey NOT IN (SELECT o_orderkey FROM orders " +
        "WHERE o_orderpriority = '1-URGENT')) AS n_probed, " +
        "TRUE AS within_bound")),

    // Lossless overlap join: same-source pairs with max containment
    // >= 1/4, candidate policy CHOSEN by the measured volume predictor
    // (Dedup.overlapCandidateVolumes — exact join-row counts from the
    // gram-df histogram): rare-gram prefix postings vs blocked
    // all-pairs, output-identical under either (spec-proven), so the
    // choice is pure cost. On this template-heavy corpus the chooser
    // picks all-pairs at every scale (measured r12: 6.0e3 pairs vs
    // 2.5e4 prefix rows at sf0.01; 6.2e5 vs 2.7e6 at sf0.1; r10 sf1:
    // 62M vs 289M); long-tail corpora flip it to prefix (spec-pinned).
    // Losslessness hash-proven by the quadratic oracle either way.
    // Source blocks hash-thinned to ~SourceBlockCap before the chooser
    // (Dedup.thinBlocks): BOTH candidate policies are quadratic inside
    // fixed-cardinality blocks (42–78x at sf1 unthinned on the r12
    // board), so the chooser only picked the cheaper quadratic — the
    // thinning bounds the block itself; oracle mirrors the rule.
    Q("q_overlap_join",
      (s, d) => Dedup.overlapJoinAuto(
          Dedup.thinBlocks(docs(s, d), Seq("source"), "doc_id",
            DedupQueries.SourceBlockCap),
          "doc_id", "text", "source", alphaNum = 1, alphaDen = 4)
        .orderBy("a", "b"),
      Some {
        val toks = graft.functions.TextFunctions.tokensSql("text")
        val grams = s"list_distinct(${graft.functions.TextFunctions.bigramsSql(toks)})"
        val thin = Dedup.thinBlocksSql("documents", Seq("source"),
          "doc_id", DedupQueries.SourceBlockCap)
        Dedup.overlapPrefixJoinSql(s"$thin thin", "doc_id", "source",
          grams, alphaNum = 1, alphaDen = 4) + " ORDER BY a, b"
      }),

    // Fleiss' kappa over the order/returnflag rating frame: each
    // lineitem is one "judge" vote on its order — the multi-annotator
    // agreement shape (do the >= 2 raters of an item pick the same
    // category beyond chance).
    Q("q_fleiss_kappa",
      (s, d) => StatsOps.fleissKappa(
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey").as("it"),
            col("l_returnflag").as("cat")),
        "it", "cat", maxRaters = 256),
      Some(StatsOps.fleissKappaSql(
        "(SELECT l_orderkey AS it, CAST(l_returnflag AS VARCHAR) AS cat " +
          "FROM lineitem)",
        maxRaters = 256))),

    // McNemar's paired test between the classifier gate and the rule
    // gate — q_cohens_kappa says whether they agree; this says whether
    // their disagreements are ASYMMETRIC (one gate systematically
    // stricter than the other).
    Q("q_mcnemar",
      (s, d) => {
        // both gates in ONE scan (r19, TextOps.clfRuleGates) — the m⋈g
        // join re-scanned and re-tokenized the corpus; values identical
        StatsOps.mcnemar(
          TextOps.clfRuleGates(docs(s, d), "doc_id", "text")
            .select(when(col("keep"), 1L).otherwise(0L).as("a"),
              when(col("pass"), 1L).otherwise(0L).as("b")),
          "a", "b")
      },
      Some {
        val codes = graft.functions.TextFunctions.tokenCodesSql("text")
        val toks = graft.functions.TextFunctions.tokensSql("text")
        StatsOps.mcnemarSql(
          "(SELECT CAST(CASE WHEN m.margin > 0 THEN 1 ELSE 0 END AS BIGINT) AS a, " +
            "CAST(lab.rb AS BIGINT) AS b FROM " +
            s"(SELECT doc_id, list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
            "(acc, c) -> acc + ((c % 64) * 2654435761 % 1999 - 999)) AS margin " +
            "FROM documents) m JOIN " +
            s"(SELECT doc_id, CASE WHEN (n_tok >= 20 AND n_tok <= 80) AND " +
            "(3 * n_tok <= ntc AND ntc <= 10 * n_tok) AND (nstop >= 2) AND " +
            "(100 * maxtf <= 15 * n_tok) THEN 1 ELSE 0 END AS rb FROM " +
            s"(SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tok, " +
            s"CAST(len(list_filter($toks, t -> t IN ('the', 'a'))) AS BIGINT) AS nstop, " +
            s"CAST(list_max(list_transform(list_distinct($toks), " +
            s"t -> len(list_filter($toks, x -> x = t)))) AS BIGINT) AS maxtf, " +
            s"CAST(length(text) AS BIGINT) - (CAST(len($toks) AS BIGINT) - 1) AS ntc " +
            "FROM documents) g) lab ON m.doc_id = lab.doc_id)")
      }),

    // Hellinger + total-variation drift per event type between the
    // user-parity populations — the bounded-metric pair next to q_psi
    // (PSI blows up on near-empty bins; these threshold cleanly).
    Q("q_hellinger",
      (s, d) => StatsOps.distShift(
        ev(s, d).select(col("event_type").as("grp"),
          floor(col("value") / 50.0).cast("long").as("bin"),
          (col("user_id") % 2).as("side")),
        "grp", "bin", "side", bins = 10)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n_ref, n_cur, hellinger, tv FROM (" +
        StatsOps.distShiftSql(
          "(SELECT event_type AS grp, CAST(floor(value / 50.0) AS BIGINT) AS bin, " +
            "user_id % 2 AS side FROM events)",
          bins = 10, alpha = 0.5) + ") z ORDER BY event_type")),

    // Benjamini-Hochberg FDR control over per-event-type binned-KS
    // drift tests — the many-feeds drift monitor: step-up rejection
    // keeps the expected false-alarm rate at alpha across the board.
    Q("q_bh_fdr",
      (s, d) => StatsOps.bhFdr(
        ev(s, d).select(col("event_type").as("grp"),
          least(floor(col("value") * 64.0 / 500.0), lit(63.0)).cast("long")
            .as("bin"),
          (col("user_id") % 2).as("side")),
        "grp", "bin", "side", bins = 64, alpha = 0.10)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n_ref, n_cur, ks_d, p_value, rnk, " +
        "reject FROM (" +
        StatsOps.bhFdrSql(
          "(SELECT event_type AS grp, " +
            "CAST(least(floor(value * 64.0 / 500.0), 63.0) AS BIGINT) AS bin, " +
            "user_id % 2 AS side FROM events)",
          bins = 64, alpha = 0.10) + ") z ORDER BY event_type")),

    // Average precision per event type over the q_group_auc buckets —
    // the PR summary where AUC is the ROC summary: AP moves when
    // positives are rare, the filter-tuning regime.
    Q("q_avg_precision",
      (s, d) => StatsOps.avgPrecision(
        ev(s, d).select(col("event_type").as("grp"),
          least(floor(col("value") * 64.0 / 500.0), lit(63.0)).cast("long")
            .as("b"),
          when(col("user_id") % 5 === 0, 1L).otherwise(0L).as("y")),
        "grp", "b", "y")
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type"),
      Some("SELECT grp AS event_type, n_pos, n_rows, avg_prec FROM (" +
        StatsOps.avgPrecisionSql(
          "(SELECT event_type AS grp, " +
            "CAST(least(floor(value * 64.0 / 500.0), 63.0) AS BIGINT) AS b, " +
            "CASE WHEN user_id % 5 = 0 THEN 1 ELSE 0 END AS y FROM events)") +
        ") z ORDER BY event_type")),

    // Jaro-Winkler linkage verify over (brand, size)-blocked part-name
    // pairs — the fuzzy-name comparator of every record-linkage stack
    // (q_record_linkage scores agreement PATTERNS; this is the
    // per-field string similarity that feeds such patterns). Native
    // codegen'd kernel, DuckDB-function parity proven by the oracle
    // hash; blocked (never corpus-quadratic), the q_edit_verify policy.
    // (brand, size) blocks hash-thinned to ~48 rows (1250 fixed blocks
    // grow 16 -> 160 rows from sf0.1 to sf1 — 55–111x wall unthinned on
    // the r12 board; the cap does not bind at or below sf0.1, and the
    // oracle mirrors the rule).
    Q("q_jaro_winkler",
      (s, d) => {
        val p = Dedup.thinBlocks(Tables.load(s, d, "part"),
          Seq("p_brand", "p_size"), "p_partkey", BrandSizeBlockCap)
        val a = p.select(col("p_brand").as("brand"),
          col("p_size").as("size"), col("p_partkey").as("a"),
          col("p_name").as("na"))
        val b = p.select(col("p_brand").as("brand"),
          col("p_size").as("size"), col("p_partkey").as("b"),
          col("p_name").as("nb"))
        a.join(b, Seq("brand", "size")).filter(col("a") < col("b"))
          .withColumn("jw", round(
            graft.functions.TextFunctions.jaroWinkler(col("na"), col("nb")),
            6))
          .filter(col("jw") >= 0.8)
          .select("a", "b", "jw").orderBy("a", "b")
      },
      Some {
        val thin = Dedup.thinBlocksSql("part", Seq("p_brand", "p_size"),
          "p_partkey", BrandSizeBlockCap)
        s"WITH tp AS (SELECT * FROM $thin thin) " +
          "SELECT a, b, jw FROM (SELECT x.p_partkey AS a, " +
          "y.p_partkey AS b, " +
          "round(jaro_winkler_similarity(x.p_name, y.p_name), 6) AS jw " +
          "FROM tp x JOIN tp y ON x.p_brand = y.p_brand " +
          "AND x.p_size = y.p_size AND x.p_partkey < y.p_partkey) z " +
          "WHERE jw >= 0.8 ORDER BY a, b"
      }),

    // Quantile normalization of per-event-type value buckets onto the
    // pooled distribution — one threshold then means the same quantile
    // in every feed (integer cross-product CDF mapping, fully exact).
    Q("q_quantile_norm",
      (s, d) => StatsOps.quantileNorm(
        ev(s, d).select(col("event_type").as("grp"),
          least(floor(col("value") * 64.0 / 500.0), lit(63.0)).cast("long")
            .as("bin")),
        "grp", "bin", bins = 64)
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type", "b"),
      Some("SELECT grp AS event_type, b, n, src_cdf_num, norm_b FROM (" +
        StatsOps.quantileNormSql(
          "(SELECT event_type AS grp, " +
            "CAST(least(floor(value * 64.0 / 500.0), 63.0) AS BIGINT) AS bin " +
            "FROM events)",
          bins = 64) + ") z ORDER BY event_type, b")),

    // Filter-cascade yield per source: documents surviving the rule
    // gate, the classifier gate, and both — the per-feed funnel read
    // before committing a training mix.
    Q("q_cascade_yield",
      (s, d) => TextOps.cascadeYield(docs(s, d), "doc_id", "text", "source"),
      Some(TextOps.cascadeYieldSql("documents", "doc_id", "text", "source"))),

    // Token-budget allocation: a 500k-token budget split uniformly
    // across sources, priced against each source's actual inventory —
    // sampling rate plus deficit per feed (mixes are budgeted in
    // tokens, not documents).
    Q("q_token_budget",
      (s, d) => TextOps.tokenBudget(docs(s, d), "text", "source",
        budget = 500000L),
      Some(TextOps.tokenBudgetSql("documents", "text", "source",
        budget = 500000L))),

    // Top-20 token-frequency drift between the doc-id-parity corpus
    // halves over the pooled top-200 vocabulary — the WHICH-terms
    // drill-down after q_kl_drift / q_js_drift fire; ranking on integer
    // cross products, term tie-break.
    Q("q_freq_drift",
      (s, d) => TextOps.freqDriftTopK(
        docs(s, d).select((col("doc_id") % 2).as("side"), col("text")),
        "side", "text", topV = 200, k = 20),
      Some(TextOps.freqDriftTopKSql(
        "(SELECT doc_id % 2 AS side, text FROM documents)",
        topV = 200, k = 20))),

    // Pairwise win-rate matrix with Wilson CIs over the q_bradley_terry
    // comparison frame — the arena dashboard cell: which head-to-head
    // edges are statistically separated at this sample size.
    Q("q_winrate_ci",
      (s, d) => StatsOps.winRateMatrix(ev(s, d), "user_id", "event_type"),
      Some(StatsOps.winRateMatrixSql("events", "user_id", "event_type"))),

    // Distinct-1/Distinct-2 lexical diversity per source — the
    // degeneracy gauge that catches template farms and n-gram loops.
    Q("q_distinct_ngrams",
      (s, d) => TextOps.distinctNgrams(docs(s, d), "text", "source"),
      Some(TextOps.distinctNgramsSql("documents", "text", "source")))
  )
}
