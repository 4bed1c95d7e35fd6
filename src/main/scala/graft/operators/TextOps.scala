package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.functions.TextFunctions

/** Text-analysis operators for the training-data pipeline (SURVEY §2.3):
  * token counting, quality scoring, language-ID, fingerprinting. All pure
  * column expression trees — narrow, zero-shuffle, whole-stage-codegen'd —
  * so at 100 TB each is a single scan stage over the documents table.
  */
object TextOps {

  /** Stopword set shared by qualityScore and the 'en' langId markers. */
  val stopwords: Seq[String] = Seq("the", "a")

  /** Marker-word table for the language-ID heuristic. The listed order is
    * the deterministic argmax tie-break preference. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "es" -> Seq("data", "row"),
    "fr" -> Seq("table", "query"),
    "de" -> Seq("spark", "batch"),
    "zh" -> Seq("vector", "stream"))

  private def memberPred(t: Column, words: Seq[String]): Column =
    words.map(w => t === w).reduceLeft(_ || _)

  private def memberPredSql(t: String, words: Seq[String]): String =
    words.map(w => s"$t = '$w'").mkString("(", " OR ", ")")

  /** Count of tokens matching any of `words`. */
  def markerCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => memberPred(t, words)))

  def markerCountSql(toks: String, words: Seq[String]): String =
    s"len(list_filter($toks, t -> ${memberPredSql("t", words)}))"

  /** Token counting: whitespace tokens + a BPE-ish regex token count
    * (alnum runs — the lowercase-word analogue of a byte-level BPE
    * pre-tokenizer split). */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_ws_tokens", size(TextFunctions.tokens(col(textCol))).cast("long"))
      .withColumn("n_re_tokens", regexp_count(col(textCol), lit("[a-z0-9]+")).cast("long"))

  /** Document quality scoring: token count, mean token length, stopword
    * ratio, and a combined [0,1] score — length-normalized and
    * stopword-penalized. Pure arithmetic over exact ints, so the rounded
    * doubles hash-match any engine computing the same tree. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val nTok = size(toks).cast("long")
    val nStop = element_at(TextFunctions.memberCounts(toks, Seq(stopwords)), 1)
    val avgLen = (length(col(textCol)).cast("long") - (nTok - 1L)) / nTok
    val stopRatio = nStop / nTok
    df.withColumn("n_tokens", nTok)
      .withColumn("avg_token_len", round(avgLen, 6))
      .withColumn("stopword_ratio", round(stopRatio, 6))
      .withColumn("quality_score",
        round(least(nTok / 100.0, lit(1.0)) * (lit(1.0) - stopRatio), 6))
  }

  /** Language-ID: marker-word count per language, deterministic argmax
    * (first language in `langMarkers` order wins ties). All per-language
    * counts come from ONE native pass over the tokens (MemberCounts;
    * the per-language HOF filter it replaces was CodegenFallback). */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val cnts = TextFunctions.memberCounts(toks, langMarkers.map(_._2))
    val scored = langMarkers.zipWithIndex.foldLeft(df) {
      case (d, ((lang, _), i)) =>
        d.withColumn(s"s_$lang", element_at(cnts, i + 1))
    }
    val langs = langMarkers.map(_._1)
    val pred = langs.zipWithIndex.init.foldRight(lit(langs.last): Column) {
      case ((lang, i), fallback) =>
        val beatsRest = langs.drop(i + 1)
          .map(other => col(s"s_$lang") >= col(s"s_$other"))
          .reduceLeft(_ && _)
        when(beatsRest, lang).otherwise(fallback)
    }
    scored.withColumn("pred_lang", pred)
  }

  /** DuckDB SQL for the identical argmax chain over s_<lang> columns. */
  def langIdArgmaxSql: String = {
    val langs = langMarkers.map(_._1)
    val cases = langs.zipWithIndex.init.map { case (lang, i) =>
      val beatsRest = langs.drop(i + 1)
        .map(other => s"s_$lang >= s_$other").mkString(" AND ")
      s"WHEN $beatsRest THEN '$lang'"
    }
    s"CASE ${cases.mkString(" ")} ELSE '${langs.last}' END"
  }

  /** Character-bigram profiles for the n-gram language-ID variant: counts
    * of language-characteristic char bigrams (same deterministic argmax
    * tie-break order as langMarkers). */
  val langNgramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("th", "he", "ng"),
    "es" -> Seq("os", "la", "ci"),
    "fr" -> Seq("le", "qu", "ou"),
    "de" -> Seq("ch", "ei", "sc"),
    "zh" -> Seq("zh", "ng", "sh"))

  /** Language-ID via character n-gram profiles: per language, the total
    * non-overlapping occurrence count of its profile bigrams; deterministic
    * argmax. The streaming-friendly sibling of langId (no tokenization).
    * All 15 profile-gram counts come from ONE native scan of the text
    * (SubstringCounts) instead of one regexp engine pass per gram; the
    * per-gram values are identical to regexp_count on the literal, so the
    * DuckDB oracle (len(regexp_extract_all)) keeps hash-matching. */
  def langIdNgram(df: DataFrame, textCol: String): DataFrame = {
    val grams = langNgramProfiles.flatMap(_._2).distinct
    val cnts = TextFunctions.substringCounts(col(textCol), grams)
    val scored = langNgramProfiles.foldLeft(df) { case (d, (lang, gs)) =>
      d.withColumn(s"n_$lang",
        gs.map(g => element_at(cnts, grams.indexOf(g) + 1))
          .reduceLeft(_ + _))
    }
    val langs = langNgramProfiles.map(_._1)
    val pred = langs.zipWithIndex.init.foldRight(lit(langs.last): Column) {
      case ((lang, i), fallback) =>
        val beatsRest = langs.drop(i + 1)
          .map(other => col(s"n_$lang") >= col(s"n_$other"))
          .reduceLeft(_ && _)
        when(beatsRest, lang).otherwise(fallback)
    }
    scored.withColumn("pred_lang_ngram", pred)
  }

  /** DuckDB SQL: per-language profile count + the identical argmax. */
  def langIdNgramSql(textExpr: String): (String, String) = {
    val scores = langNgramProfiles.map { case (lang, grams) =>
      grams.map(g => s"CAST(len(regexp_extract_all($textExpr, '$g')) AS BIGINT)")
        .mkString("(", " + ", s") AS n_$lang")
    }.mkString(", ")
    val langs = langNgramProfiles.map(_._1)
    val cases = langs.zipWithIndex.init.map { case (lang, i) =>
      val beatsRest = langs.drop(i + 1)
        .map(other => s"n_$lang >= n_$other").mkString(" AND ")
      s"WHEN $beatsRest THEN '$lang'"
    }
    (scores, s"CASE ${cases.mkString(" ")} ELSE '${langs.last}' END")
  }

  /** Text normalization (the cleaning pass every corpus gets before
    * hashing/dedup): lowercase, strip non-alphanumerics to spaces,
    * collapse runs of whitespace, trim. Pure codegen'd string exprs —
    * narrow, zero-shuffle. */
  def normalize(df: DataFrame, textCol: String,
                outCol: String = "norm_text"): DataFrame =
    df.withColumn(outCol,
      trim(regexp_replace(
        regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", " "),
        " +", " ")))

  /** Deterministic redaction: digit runs become `<num>` (the stand-in for
    * PII scrubbing patterns — emails/phones/ids — which are all
    * regexp_replace instances with the same plan shape). Reports the
    * redaction count per doc so the scrub is auditable. */
  def redact(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_redactions",
        regexp_count(col(textCol), lit("[0-9]+")).cast("long"))
      .withColumn("redacted", regexp_replace(col(textCol), "[0-9]+", "<num>"))

  /** Repetition quality signal (the Gopher-style duplicate-fraction
    * filters): per document, the fraction of repeated tokens and repeated
    * adjacent-bigram shingles. High ratios flag boilerplate/spam for a
    * pretraining mix. Pure narrow column expressions — zero shuffle. */
  def repetitionRatio(df: DataFrame, textCol: String): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val grams = TextFunctions.bigrams(toks)
    val nTok = size(toks).cast("long")
    val nDTok = size(array_distinct(toks)).cast("long")
    val nGram = size(grams).cast("long")
    val nDGram = size(array_distinct(grams)).cast("long")
    df.withColumn("n_tokens", nTok)
      .withColumn("n_distinct_tokens", nDTok)
      .withColumn("dup_token_ratio", round(lit(1.0) - nDTok / nTok, 6))
      .withColumn("n_grams", nGram)
      .withColumn("n_distinct_grams", nDGram)
      .withColumn("dup_gram_ratio",
        round(when(nGram > 0L, lit(1.0) - nDGram / nGram).otherwise(0.0), 6))
  }

  /** TF-IDF top-k terms per document. One explode + map-side-combined
    * (doc, term) count, then doc_freq via a count window over `term` —
    * the same by-term shuffle a tf⋈dfreq join would need, WITHOUT
    * recomputing the whole tf subtree for the vocabulary side (Spark
    * doesn't share duplicated DataFrame subplans; the join form scanned
    * and exploded the corpus twice). Corpus size joins in as a broadcast
    * 1-row aggregate, not a driver action. Top-k per doc via the
    * two-stage TopK — never a low-cardinality single window. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3): DataFrame = {
    val terms = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // doc_freq via map-side-combined groupBy + broadcast join, NOT a
    // per-term window (r12: with a fixed vocabulary a count-over-
    // partitionBy(term) window funnels corpus/|vocab| postings through
    // one task; the vocab-sized count frame broadcasts instead)
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      // no broadcast HINT on dfreq: it is vocab-sized, and a web-scale
      // vocabulary overflows the 8 GB broadcast cap — AQE converts the
      // term join to broadcast-hash at runtime when dfreq measures small,
      // and falls back to a plain shuffle join when it doesn't
      .join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", round(col("tf") *
        log((col("n_docs") + 1L).cast("double") / (col("doc_freq") + 1L)), 6))
    TopK.perGroupTopK(scored, Seq(col("doc_id")),
        Seq(col("tfidf").desc, col("term")), k,
        salt = TextFunctions.charHash(col("term")))
      .select(col("doc_id"), col("rn"), col("term"), col("tf"),
        col("doc_freq"), col("tfidf"))
  }

  /** Sequence packing for a pretraining token budget: documents are
    * bucketed by id hash, ordered within the bucket, and assigned
    * `seq_id = floor(cumulative_prior_tokens / budget)` — FIXED-BOUNDARY
    * bucketing of the running token count, not reset-on-cut first-fit.
    * Sequence boundaries sit at exact multiples of `budget` in the
    * cumulative sum, so a doc straddling a boundary lands in the sequence
    * its prefix sum dictates, an over-budget doc can consume several
    * boundary slots (seq_ids may skip), and later sequences do NOT
    * re-fill the slack it created. That trade is deliberate: fixed
    * boundaries are a closed-form window expression (one shuffle, no
    * per-bucket sequential scan) and keep the operator oracle-portable;
    * true first-fit needs a running reset (sessionize-style iteration)
    * for marginal fill-rate gain.
    *
    * Scale shape (r12 — the r11 form ranked every doc of a bucket in one
    * window task, corpus/|buckets| rows): the running token count is the
    * ksDistance TWO-STAGE prefix scan within bucket — range-partition by
    * (bucket, doc_id), per-partition window cumsum, a
    * (partition × bucket)-sized offsets frame (its own prefix window
    * reads ≤ numPartitions rows per bucket) broadcast back. Token counts
    * are exact integers, so the split points can't perturb the sums and
    * the output is partitioning-invariant. Returns one row per packed
    * sequence. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    budget: Int = 256, buckets: Int = 8,
                    numPartitions: Int = 8): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val nTok = size(TextFunctions.tokens(col(textCol))).cast("long")
    val base = df.select(col(idCol).as("doc_id"), nTok.as("n_tok"))
      .withColumn("bucket",
        pmod(TextFunctions.charHash(col("doc_id").cast("string")),
          lit(buckets.toLong)))
    val ranged = base
      .repartitionByRange(numPartitions, col("bucket"), col("doc_id"))
      .withColumn("_pid", spark_partition_id())
      .transform(PB.localCheckpoint)
    val wLoc = W.partitionBy(col("_pid"), col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    val wPre = W.partitionBy(col("bucket")).orderBy(col("_pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val prefix = ranged.groupBy(col("_pid"), col("bucket"))
      .agg(sum(col("n_tok")).as("pt"))
      .withColumn("off", coalesce(sum(col("pt")).over(wPre), lit(0L)))
      .select(col("_pid"), col("bucket"), col("off"))
    ranged
      .withColumn("loc_prev", coalesce(sum(col("n_tok")).over(wLoc), lit(0L)))
      .join(broadcast(prefix), Seq("_pid", "bucket"))
      .withColumn("prev_tok", col("loc_prev") + col("off"))
      .withColumn("seq_id", floor(col("prev_tok") / lit(budget.toDouble)).cast("long"))
      .groupBy("bucket", "seq_id")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
  }

  /** Benchmark decontamination — the standard pre-training hygiene pass:
    * find corpus documents sharing any n-token shingle with a benchmark /
    * eval set, so eval data can be excluded from the training mix.
    * Returns (doc_id, n_shared_grams) for contaminated documents only;
    * removal is a left-anti join against this frame.
    *
    * Scale shape: both sides reduce to sorted-distinct 8-byte gram hashes
    * in one narrow kernel pass — raw text never shuffles. The benchmark
    * side is tiny by construction (eval sets are MBs against a 100 TB
    * corpus), so its distinct gram set BROADCASTS and the corpus-side
    * probe is map-side: explode grams, hash-probe the broadcast set,
    * aggregate only the surviving (doc, gram) matches. No corpus shuffle
    * of gram data at any scale; the only shuffle is the final groupBy
    * over matched docs (contamination-sized, not corpus-sized). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String, n: Int = 13): DataFrame = {
    val bg = benchmark
      .select(explode(TextFunctions.ngramHashes(col(textCol), n)).as("g"))
      .distinct()
    val cg = corpus.select(col(idCol).as("doc_id"),
      explode(TextFunctions.ngramHashes(col(textCol), n)).as("g"))
    // per-doc grams are already distinct (sorted-distinct kernel), so the
    // match count IS the distinct shared-gram count
    cg.join(broadcast(bg), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_grams"))
  }

  /** Compile a benchmark set to its sorted distinct gram-hash array
    * (driver-side, ONCE — eval sets are MBs, their gram set is a
    * broadcast-sized constant). Feed to [[decontaminateFilter]]. */
  def benchmarkGrams(benchmark: DataFrame, textCol: String, n: Int = 13): Array[Long] =
    benchmark
      .select(explode(TextFunctions.ngramHashes(col(textCol), n)).as("g"))
      .distinct().orderBy("g")
      .collect().map(_.getLong(0))

  /** Row-level decontamination: stamp each doc with its shared-gram count
    * against a COMPILED benchmark gram set (plan-time constant, probed by
    * the native two-pointer intersect inside codegen — zero joins, zero
    * shuffles, zero state). This is the form a streaming ingest deploys
    * (works identically on readStream frames in append mode); the batch
    * [[decontaminate]] is the set-vs-set form for ad-hoc audits. */
  def decontaminateFilter(df: DataFrame, textCol: String,
                          benchGrams: Array[Long], n: Int = 13): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    require(benchGrams.sameElements(benchGrams.sorted.distinct),
      "benchGrams must be sorted distinct (use benchmarkGrams)")
    val shared = PlanBridge.column(graft.plans.Exprs.SortedIntersectSizeLong(
      PlanBridge.expression(TextFunctions.ngramHashes(col(textCol), n)),
      PlanBridge.expression(typedlit(benchGrams.toSeq))))
    df.withColumn("n_shared_grams", shared)
  }

  /** Corpus heavy hitters (vocabulary head): exact top-k terms by count,
    * each stamped with whether the DataSketches frequent-items sketch
    * (approx_top_k — mergeable, constant memory) also surfaced it. The
    * exact path is the verification companion at test SF; at 100 TB the
    * sketch IS the answer (one pass, no term shuffle beyond the sketch
    * merge) and `maxTracked` is sized to the heavy-hitter threshold —
    * frequent-items guarantees no false negatives above N/maxTracked. */
  def heavyHitters(df: DataFrame, textCol: String, k: Int = 10,
                   maxTracked: Int = 100000): DataFrame = {
    val toks = df.select(explode(TextFunctions.tokens(col(textCol))).as("term"))
    val top = toks.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)
    // ask the sketch for a deeper head than k: equal-count ties at the
    // top-k boundary are ordered arbitrarily by the sketch, so the
    // containment claim (exact top-k ⊆ sketch head) needs slack
    val sketchK = math.max(10 * k, 100)
    val sketch = toks.agg(
      expr(s"transform(approx_top_k(term, $sketchK, $maxTracked), x -> x.item)")
        .as("approx_terms"),
      count(lit(1)).as("n_tok_total"))
    // the frequent-items guarantee only covers items whose count exceeds
    // the sketch's error bound (~3.5N/maxTracked; 4N is a safe margin) —
    // below it, tie-ordering can legitimately push an exact-top-k item
    // out of the sketch head, so the flag must not claim containment there
    top.crossJoin(sketch) // 1-row broadcast
      .select(col("term"), col("cnt"),
        (array_contains(col("approx_terms"), col("term")) ||
          col("cnt") * lit(maxTracked.toLong) <= col("n_tok_total") * lit(4L))
          .as("in_sketch"))
      .orderBy(col("cnt").desc, col("term"))
  }

  /** Inverted-index build: term → (document frequency, capped sorted
    * posting list) — the retrieval-side corpus structure (BM25 /
    * keyword search over the training mix, duplicate-cluster triage).
    *
    * Scale shape: the posting CAP happens BEFORE any list materializes —
    * distinct (term, doc) pairs are ranked per term by the salted
    * two-stage TopK and cut at `maxPostings`, so a stopword's millions
    * of postings never pass through one task or one collect_list buffer
    * (an uncapped `collect_list` per term is the classic hot-key OOM).
    * doc_freq is a separate map-side-combined count over the full pair
    * set (exact, uncapped); the two meet in one term-keyed join. */
  def invertedIndex(df: DataFrame, idCol: String, textCol: String,
                    maxPostings: Int = 20): DataFrame = {
    val pairs = df
      .select(col(idCol).as("doc_id"),
        explode(array_distinct(TextFunctions.tokens(col(textCol)))).as("term"))
    val freq = pairs.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val capped = TopK.perGroupTopK(pairs,
        groupCols = Seq(col("term")),
        order = Seq(col("doc_id").asc),
        k = maxPostings, salt = col("doc_id"))
      .groupBy("term")
      .agg(array_join(
        transform(array_sort(collect_list(col("doc_id"))), _.cast("string")),
        ",").as("postings"))
    freq.join(capped, "term")
      .select(col("term"), col("doc_freq"), col("postings"))
  }

  /** Sliding-window document chunking — the context-window preparation
    * step of a pretraining/RAG pipeline: each document becomes overlapping
    * token-window chunks of `window` tokens every `stride` tokens (set
    * stride == window for disjoint chunks). Output one row per chunk:
    * (doc_id, chunk_idx, chunk_text, n_tok), the tail chunk shorter when
    * the token count isn't stride-aligned.
    *
    * Scale shape: purely NARROW — tokenize, explode the start offsets
    * (sequence step = stride), slice, join back to text. Zero shuffles;
    * output size is input × (1 + overlap ratio), governed by
    * window/stride. At 100 TB this runs entirely in the scan stage and
    * whole-stage codegen (sequence/slice/array_join are all codegen'd). */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val toks = TextFunctions.tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), toks.as("toks"))
      // one start offset per chunk: 0, stride, 2·stride, … < n_tok
      // (tokens() never yields an empty array — split("", " ") = [""] —
      // so the sequence upper bound n_tok - 1 is always ≥ 0)
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(stride))).as("start"))
      .select(
        col("doc_id"),
        (col("start") / stride).cast("long").as("chunk_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(window)), " ").as("chunk_text"),
        least(lit(window), size(col("toks")) - col("start")).cast("long").as("n_tok"))
  }

  /** Rolling-hash document fingerprint (winnowing-style): the full-document
    * polynomial hash plus the min/count over bigram-shingle hashes — the
    * k-gram fingerprint set collapsed to its winnowed representative. */
  def fingerprint(df: DataFrame, textCol: String): DataFrame = {
    val grams = TextFunctions.bigrams(TextFunctions.tokens(col(textCol)))
    // gram hashes materialize once; size/min then read the array column
    df.withColumn("_gram_hashes", transform(grams, g => TextFunctions.charHash(g)))
      .withColumn("doc_hash", TextFunctions.charHash(col(textCol)))
      .withColumn("n_kgrams", size(col("_gram_hashes")).cast("long"))
      .withColumn("min_kgram_hash", coalesce(array_min(col("_gram_hashes")), lit(-1L)))
      .drop("_gram_hashes")
  }

  /** BM25 top-k documents per query term — the retrieval scorer used to
    * curate/inspect a training corpus (and the ranking sibling of
    * [[invertedIndex]]).
    *
    * Scale shape: term frequencies for ALL query terms come from ONE
    * native pass over each document ([[TextFunctions.memberCounts]] — the
    * corpus-wide token explosion never happens; only |terms| rows per
    * matching doc leave the scan). Corpus stats (N, avgdl) are a 1-row
    * aggregate broadcast into the scoring stage; per-term doc_freq is a
    * count over the hit rows (hit-sized, not corpus-sized). The final
    * per-term ranking is the salted two-stage [[TopK]], so a stopword-ish
    * query term never funnels its whole posting set through one window
    * task. Formula: Robertson/Spärck Jones BM25 with
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)). */
  def bm25TopDocs(df: DataFrame, idCol: String, textCol: String,
                  terms: Seq[String], k: Int = 5,
                  k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "terms must be non-empty")
    val toks = TextFunctions.tokens(col(textCol))
    val base = df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .withColumn("doc_len", size(col("toks")).cast("long"))
      .withColumn("tfs", TextFunctions.memberCounts(col("toks"), terms.map(Seq(_))))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      avg(col("doc_len")).as("avgdl"))
    val hits = base
      .select(col("doc_id"), col("doc_len"),
        posexplode(col("tfs")).as(Seq("ti", "tf")))
      .filter(col("tf") > 0)
      .withColumn("term", element_at(array(terms.map(lit): _*), col("ti") + 1))
      .drop("ti")
    // per-term doc_freq via groupBy + broadcast join (|terms| rows), not
    // a per-term window — a stopword-ish term would funnel its whole
    // posting set through one window task (r12 funnel gate)
    val dfreq = hits.groupBy("term").agg(count(lit(1)).as("doc_freq"))
    val scored = hits
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("doc_freq") + lit(0.5)) /
          (col("doc_freq") + lit(0.5))))
      .withColumn("score", round(
        col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("doc_len") / col("avgdl"))),
        6))
    TopK.perGroupTopK(scored, Seq(col("term")),
        Seq(col("score").desc, col("doc_id")), k,
        salt = col("doc_id"))
      .select(col("term"), col("rn"), col("doc_id"), col("tf"),
        col("doc_len"), col("doc_freq"), col("score"))
  }

  /** DuckDB oracle for [[bm25TopDocs]] — identical arithmetic tree,
    * identical tie-break. */
  def bm25Sql(terms: Seq[String], k: Int, k1: Double, b: Double): String = {
    val termList = terms.map(t => s"'$t'").mkString(", ")
    val toks = TextFunctions.tokensSql("text")
    s"WITH d AS (SELECT doc_id, $toks AS toks, " +
      s"CAST(len($toks) AS BIGINT) AS doc_len FROM documents), " +
      "stats AS (SELECT count(*) AS n_docs, avg(doc_len) AS avgdl FROM d), " +
      s"q AS (SELECT unnest([$termList]) AS term), " +
      "hits0 AS (SELECT doc_id, doc_len, term, " +
      "CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf " +
      "FROM d CROSS JOIN q), " +
      "hits AS (SELECT * FROM hits0 WHERE tf > 0), " +
      "dfr AS (SELECT doc_id, doc_len, term, tf, " +
      "count(*) OVER (PARTITION BY term) AS doc_freq FROM hits), " +
      "scored AS (SELECT term, doc_id, tf, doc_len, doc_freq, " +
      s"round(ln(1.0 + (n_docs - doc_freq + 0.5) / (doc_freq + 0.5)) * " +
      s"(tf * ${k1 + 1.0}) / (tf + $k1 * (${1.0 - b} + $b * doc_len / avgdl)), 6) AS score " +
      "FROM dfr CROSS JOIN stats) " +
      "SELECT term, rn, doc_id, tf, doc_len, doc_freq, score FROM (" +
      "SELECT *, CAST(row_number() OVER (PARTITION BY term " +
      "ORDER BY score DESC, doc_id) AS INT) AS rn FROM scored) t " +
      s"WHERE rn <= $k ORDER BY term, rn"
  }

  /** Paragraph-level exact dedup, the block form: documents are split
    * into fixed `blockTokens`-token blocks (the paragraph analogue for
    * unstructured text — on corpora with real paragraph breaks the split
    * is the delimiter instead, everything downstream is identical), each
    * block is hashed, the globally FIRST occurrence of each distinct
    * block (by (doc_id, block index)) is kept, and every document is
    * reassembled from its surviving blocks — the boilerplate-removal pass
    * (repeated headers/footers/navigation) that document-level dedup
    * cannot express.
    *
    * Scale shape: the split is narrow; first-occurrence election is ONE
    * window over the 8-byte block hash (high-cardinality key — no hot
    * partition; raw block text rides along only to be re-emitted);
    * reassembly is a per-document groupBy whose state is bounded by
    * document size. Nothing joins corpus×corpus.
    *
    * Returns (doc_id, n_blocks, n_kept, dedup_text) for EVERY input
    * document — a doc whose blocks all lost election comes back with
    * n_kept = 0 and empty text. */
  def blockDedup(df: DataFrame, idCol: String, textCol: String,
                 blockTokens: Int = 32): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val toks = TextFunctions.tokens(col(textCol))
    val blocks = df.select(col(idCol).as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 1, lit(blockTokens))).as("start"))
      .select(col("doc_id"),
        (col("start") / blockTokens).cast("long").as("blk_idx"),
        array_join(slice(col("toks"), col("start") + 1, lit(blockTokens)), " ")
          .as("blk_text"))
      .withColumn("blk_hash", TextFunctions.charHash(col("blk_text")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("blk_hash").orderBy("doc_id", "blk_idx")
    val rn = Cols.fresh("_bd_rn", blocks.columns)
    val kept = blocks.withColumn(rn, row_number().over(w))
      .filter(col(rn) === 1)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("blk_idx"), col("blk_text")))),
            x => x.getField("blk_text")),
          " ").as("dedup_text"))
    val perDoc = blocks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_blocks"))
    perDoc.join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** DuckDB oracle for [[blockDedup]]. */
  def blockDedupSql(blockTokens: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    val blkText =
      s"array_to_string(list_slice(toks, start + 1, start + $blockTokens), ' ')"
    s"WITH d AS (SELECT doc_id, $toks AS toks FROM documents), " +
      s"b0 AS (SELECT doc_id, toks, unnest(range(0, len(toks), $blockTokens)) AS start FROM d), " +
      s"b AS (SELECT doc_id, CAST(start // $blockTokens AS BIGINT) AS blk_idx, " +
      s"$blkText AS blk_text, ${TextFunctions.charHashSql(blkText)} AS blk_hash FROM b0), " +
      "kept AS (SELECT doc_id, blk_idx, blk_text FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY blk_hash " +
      "ORDER BY doc_id, blk_idx) AS rn FROM b) t WHERE rn = 1), " +
      "ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "string_agg(blk_text, ' ' ORDER BY blk_idx) AS dedup_text " +
      "FROM kept GROUP BY doc_id), " +
      "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_blocks FROM b GROUP BY doc_id) " +
      "SELECT pd.doc_id, pd.n_blocks, COALESCE(ka.n_kept, 0) AS n_kept, " +
      "COALESCE(ka.dedup_text, '') AS dedup_text " +
      "FROM pd LEFT JOIN ka ON pd.doc_id = ka.doc_id ORDER BY pd.doc_id"
  }

  /** Character alphabet of normalized text ([[normalize]]'s codomain). */
  val entropyAlphabet: Seq[String] =
    (('a' to 'z') ++ ('0' to '9')).map(_.toString) :+ " "

  /** Per-document character-level Shannon entropy (bits/char) over the
    * normalized text — the classic gibberish/boilerplate quality signal
    * (natural language sits ~4 bits/char; runs of one symbol or random
    * noise fall outside the band).
    *
    * Scale shape: ONE native lookup-table scan per document
    * ([[TextFunctions.charEntropyBits]]) computing counts AND the fold —
    * narrow, zero-shuffle, one codegen stage. (The first cut built an
    * element_at-per-symbol column tree over a counts array; 37 array
    * references re-evaluated the counting scan per symbol — 13 s at
    * sf0.1 against 0.4 s for this kernel, same bit-exact values.) */
  def charEntropy(df: DataFrame, textCol: String): DataFrame =
    normalize(df, textCol)
      .withColumn("n_chars", length(col("norm_text")).cast("long"))
      .withColumn("entropy_bits",
        when(col("n_chars") > 0,
          round(TextFunctions.charEntropyBits(col("norm_text"), entropyAlphabet), 6))
          .otherwise(lit(0.0)))
      .drop("norm_text")

  /** Unigram-LM negative log-likelihood per document — the perplexity
    * quality filter in its exact unigram form: score each document by the
    * average per-token -ln p(token) under the corpus unigram distribution
    * (high = off-distribution / gibberish; the CCNet-style LM filter with
    * the corpus itself as the LM).
    *
    * Scale shape: the corpus explodes ONCE into (doc, term, tf); the
    * vocabulary is a term-keyed aggregate whose size is the VOCABULARY
    * (bounded), so it broadcasts back — the corpus never shuffles on the
    * term key for scoring. The per-document sum runs as an ORDERED window
    * cumsum (by term) instead of a float aggregate: double addition is
    * non-associative, so an unordered sum is engine- and partitioning-
    * dependent, while the ordered fold is bit-identical everywhere — the
    * portable-summation pattern for any float reduction that must
    * hash-verify. */
  def unigramNll(df: DataFrame, idCol: String, textCol: String): DataFrame = PB.scoped {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    // r18: tf feeds vocab + the scoring join and vocab feeds total + the
    // broadcast — without sharing, the corpus explode+shuffle subtree
    // evaluated 3x (no DataFrame CSE). Lazy shared checkpoints: one
    // evaluation each, zero extra actions (see PlanBridge).
    val shared = org.apache.spark.sql.graftbridge.PlanBridge
      .sharedLocalCheckpoint(_: DataFrame)
    val tf = shared(toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf")))
    val vocab = shared(tf.groupBy("term").agg(sum(col("tf")).as("cnt")))
    val total = vocab.agg(sum(col("cnt")).as("total"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("term")
    val cum = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    tf.join(broadcast(vocab), "term")
      .crossJoin(broadcast(total))
      .withColumn("nll", -log(col("cnt").cast("double") / col("total")) * col("tf"))
      .withColumn("cum_nll", sum(col("nll")).over(cum))
      .withColumn("cum_tf", sum(col("tf")).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
      .filter(col("rn") === col("nt"))
      .select(col("doc_id"), col("cum_tf").as("n_tok"),
        round(col("cum_nll") / col("cum_tf"), 6).as("avg_nll"))
  }

  /** DuckDB oracle for [[unigramNll]] — identical CTEs, identical ordered
    * fold. */
  def unigramNllSql: String = {
    val toks = TextFunctions.tokensSql("text")
    s"WITH toks AS (SELECT doc_id, unnest($toks) AS term FROM documents), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf " +
      "FROM toks GROUP BY doc_id, term), " +
      "vocab AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY term), " +
      "tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM vocab), " +
      "sc AS (SELECT doc_id, term, tf, " +
      "-ln(CAST(cnt AS DOUBLE) / total) * tf AS nll " +
      "FROM tf JOIN vocab USING (term) CROSS JOIN tot), " +
      "cum AS (SELECT doc_id, " +
      "sum(nll) OVER (PARTITION BY doc_id ORDER BY term " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_nll, " +
      "CAST(sum(tf) OVER (PARTITION BY doc_id ORDER BY term " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY term) AS rn, " +
      "count(*) OVER (PARTITION BY doc_id) AS nt FROM sc) " +
      "SELECT doc_id, cum_tf AS n_tok, round(cum_nll / cum_tf, 6) AS avg_nll " +
      "FROM cum WHERE rn = nt ORDER BY doc_id"
  }

  /** Interpolated bigram-LM perplexity filter (the KenLM/CCNet-style
    * quality signal one order up from [[unigramNll]]): per document, the
    * average `-ln(λ·p_ml(b|a) + (1−λ)·p_uni(b))` over its bigrams, where
    * `p_ml(b|a) = c(ab)/c(a·)` is the corpus maximum-likelihood
    * conditional (history count = bigrams starting with `a`, so rows
    * always interpolate against a live history) and `p_uni` smooths
    * unseen continuations.
    *
    * Scale shape: the corpus explodes once into per-doc distinct bigram
    * counts; the conditional joins on the (a, b) term key (the bigram
    * vocabulary is corpus-sized — deliberately NOT broadcast; AQE may
    * still elect to), history/unigram frames broadcast. The per-doc float
    * reduction is the repo's ordered-cumsum pattern — (a, b) is unique
    * within a doc, so the fold order is total and the NLL values are
    * bit-identical on every engine/partitioning. */
  def bigramNll(df: DataFrame, idCol: String, textCol: String,
                lambda: Double = 0.75): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("_t"))
    val bi = toks.filter(size(col("_t")) >= 2)
      .select(col("doc_id"),
        explode(expr(TextFunctions.adjacentPairsExpr)).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    // r18: tf / cab / uni each feed 2+ consumers — without sharing the
    // corpus bigram explode+shuffle evaluated 3x and the token explode
    // 2x (no DataFrame CSE). Lazy shared checkpoints: one evaluation
    // each, zero extra actions.
    val shared = org.apache.spark.sql.graftbridge.PlanBridge
      .sharedLocalCheckpoint(_: DataFrame)
    val tf = shared(bi.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("tf")))
    val cab = shared(tf.groupBy(col("a"), col("b"))
      .agg(sum(col("tf")).as("c_ab")))
    val hist = cab.groupBy(col("a")).agg(sum(col("c_ab")).as("c_hist"))
    val uni = shared(toks.select(explode(col("_t")).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c_uni")))
    val n = uni.agg(sum(col("c_uni")).as("total"))
    val w = W.partitionBy("doc_id").orderBy("a", "b")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    val p = lit(lambda) * (col("c_ab").cast("double") / col("c_hist").cast("double")) +
      lit(1.0 - lambda) * (col("c_uni").cast("double") / col("total").cast("double"))
    // hist/uni are VOCABULARY-sized (heaps-law unbounded at corpus
    // scale) — like cab, they join on the term key and AQE may elect to
    // broadcast them when small; forcing it would OOM the driver at the
    // scale this operator targets. Only the 1-row total broadcasts.
    // r19 (§2.4): enrich the (a,b)-TYPE frame with hist/uni FIRST, then
    // join the corpus-sized tf once — when the vocabulary frames exceed
    // broadcast, the corpus frame crosses one exchange instead of three
    // ((a,b), (a), (b)); locally every join broadcasts either way (plan
    // dumps identical modulo order). Inner joins on the same keys —
    // value-identical.
    val cabE = cab.join(hist, Seq("a")).join(uni, Seq("b"))
    tf.join(cabE, Seq("a", "b"))
      .crossJoin(broadcast(n))
      .withColumn("nll", -log(p) * col("tf"))
      .withColumn("cum_nll", sum(col("nll")).over(cum))
      .withColumn("cum_tf", sum(col("tf")).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nt", count(lit(1)).over(W.partitionBy("doc_id")))
      .filter(col("rn") === col("nt"))
      .select(col("doc_id"), col("cum_tf").as("n_bigrams"),
        round(col("cum_nll") / col("cum_tf"), 6).as("avg_nll"))
  }

  /** DuckDB oracle for [[bigramNll]] — identical CTEs, casts, and
    * ordered fold. */
  def bigramNllSql(lambda: Double): String = {
    val lam = s"CAST($lambda AS DOUBLE)"
    val oneMinus = s"CAST(${1.0 - lambda} AS DOUBLE)"
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      s"bi0 AS (SELECT doc_id, unnest(${TextFunctions.adjacentPairsSql("t")}) AS bg FROM toks), " +
      "bi AS (SELECT doc_id, bg.a AS a, bg.b AS b FROM bi0), " +
      "tf AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS tf " +
      "FROM bi GROUP BY doc_id, a, b), " +
      "cab AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS c_ab FROM tf GROUP BY a, b), " +
      "hist AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_hist FROM cab GROUP BY a), " +
      "uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c_uni " +
      "FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w), " +
      "tot AS (SELECT CAST(sum(c_uni) AS BIGINT) AS total FROM uni), " +
      "sc AS (SELECT doc_id, a, b, tf, " +
      s"-ln(($lam * (CAST(c_ab AS DOUBLE) / CAST(c_hist AS DOUBLE))) + " +
      s"($oneMinus * (CAST(c_uni AS DOUBLE) / CAST(total AS DOUBLE)))) * tf AS nll " +
      "FROM tf JOIN cab USING (a, b) JOIN hist USING (a) " +
      "JOIN uni ON uni.w = tf.b CROSS JOIN tot), " +
      "cum AS (SELECT doc_id, " +
      "sum(nll) OVER (PARTITION BY doc_id ORDER BY a, b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_nll, " +
      "CAST(sum(tf) OVER (PARTITION BY doc_id ORDER BY a, b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY a, b) AS rn, " +
      "count(*) OVER (PARTITION BY doc_id) AS nt FROM sc) " +
      "SELECT doc_id, cum_tf AS n_bigrams, round(cum_nll / cum_tf, 6) AS avg_nll " +
      "FROM cum WHERE rn = nt ORDER BY doc_id"
  }

  /** Interpolated Kneser-Ney bigram NLL (Kneser & Ney 1995; the smoothing
    * KenLM ships as its default): absolute discount D off every seen
    * bigram, with the freed mass backing off to the CONTINUATION
    * unigram — P_cont(b) = |{a : c(a,b)>0}| / |bigram types| — rather
    * than the raw frequency q_bigramNll interpolates with. The
    * distinction is the whole point: a token that appears often but
    * only after one history ("Francisco") gets a LOW continuation
    * probability, so boilerplate-heavy corpora don't inflate novel-
    * context likelihoods.
    *
    *   P(b|a) = max(c_ab − D, 0)/c_a + (D · N1+(a,·)/c_a) · P_cont(b)
    *
    * Scale shape (the bigramNll chassis): ONE corpus bigram explode;
    * c_ab / history totals / following-type and continuation-type
    * counts are all map-side-combined aggregates of the (a,b) type
    * frame; the vocabulary-sized frames join on the term key (never
    * broadcast — heaps-law unbounded), only the 1-row type total
    * broadcasts. Per-doc NLL reduces by ordered cumsum so the doubles
    * are bit-identical cross-engine. */
  def kneserNeyNll(df: DataFrame, idCol: String, textCol: String,
                   discount: Double = 0.75): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("_t"))
    val bi = toks.filter(size(col("_t")) >= 2)
      .select(col("doc_id"),
        explode(expr(TextFunctions.adjacentPairsExpr)).as("bg"))
      .select(col("doc_id"), col("bg.a").as("a"), col("bg.b").as("b"))
    // r18: tf feeds cab + the scoring join — shared so the corpus
    // explode+shuffle runs once; cab's eager checkpoint (4 consumers)
    // becomes shared too: same dedup, one action fewer.
    val sharedKn = org.apache.spark.sql.graftbridge.PlanBridge
      .sharedLocalCheckpoint(_: DataFrame)
    val tf = sharedKn(bi.groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("tf")))
    // the (a,b) TYPE frame feeds FOUR consumers (hist, cont, types, the
    // scoring join) — materialize once or Spark re-explodes the corpus
    // per consumer (round-6 CSE rule; reliable checkpoint on a cluster)
    val cab = sharedKn(tf.groupBy(col("a"), col("b"))
      .agg(sum(col("tf")).as("c_ab")))
    // one pass over the type frame per side: history mass + following
    // types keyed by a, continuation types keyed by b, global type total
    val hist = cab.groupBy(col("a"))
      .agg(sum(col("c_ab")).as("c_hist"), count(lit(1)).as("n1f"))
    val cont = cab.groupBy(col("b")).agg(count(lit(1)).as("n1b"))
    val types = cab.agg(count(lit(1)).as("t_types"))
    val dd = lit(discount)
    val p = (greatest(col("c_ab").cast("double") - dd, lit(0.0)) /
        col("c_hist").cast("double")) +
      ((dd * col("n1f").cast("double") / col("c_hist").cast("double")) *
        (col("n1b").cast("double") / col("t_types").cast("double")))
    val w = W.partitionBy("doc_id").orderBy("a", "b")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    // r19 (§2.4): same corpus-joins-once reorder as [[bigramNll]] — the
    // type frame picks up hist/cont before the one tf join.
    val cabE = cab.join(hist, Seq("a")).join(cont, Seq("b"))
    tf.join(cabE, Seq("a", "b"))
      .crossJoin(broadcast(types))
      .withColumn("nll", -log(p) * col("tf"))
      .withColumn("cum_nll", sum(col("nll")).over(cum))
      .withColumn("cum_tf", sum(col("tf")).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nt", count(lit(1)).over(W.partitionBy("doc_id")))
      .filter(col("rn") === col("nt"))
      .select(col("doc_id"), col("cum_tf").as("n_bigrams"),
        round(col("cum_nll") / col("cum_tf"), 6).as("avg_nll"))
  }

  /** DuckDB oracle for [[kneserNeyNll]] — identical CTEs, casts, and
    * ordered fold. */
  def kneserNeyNllSql(discount: Double): String = {
    val d = s"CAST($discount AS DOUBLE)"
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      s"bi0 AS (SELECT doc_id, unnest(${TextFunctions.adjacentPairsSql("t")}) AS bg " +
      "FROM toks WHERE len(t) >= 2), " +
      "bi AS (SELECT doc_id, bg.a AS a, bg.b AS b FROM bi0), " +
      "tf AS (SELECT doc_id, a, b, CAST(count(*) AS BIGINT) AS tf " +
      "FROM bi GROUP BY doc_id, a, b), " +
      "cab AS (SELECT a, b, CAST(sum(tf) AS BIGINT) AS c_ab FROM tf GROUP BY a, b), " +
      "hist AS (SELECT a, CAST(sum(c_ab) AS BIGINT) AS c_hist, " +
      "CAST(count(*) AS BIGINT) AS n1f FROM cab GROUP BY a), " +
      "cont AS (SELECT b, CAST(count(*) AS BIGINT) AS n1b FROM cab GROUP BY b), " +
      "types AS (SELECT CAST(count(*) AS BIGINT) AS t_types FROM cab), " +
      "sc AS (SELECT doc_id, a, b, tf, " +
      s"-ln((greatest(CAST(c_ab AS DOUBLE) - $d, 0.0) / CAST(c_hist AS DOUBLE)) + " +
      s"((($d * CAST(n1f AS DOUBLE)) / CAST(c_hist AS DOUBLE)) * " +
      "(CAST(n1b AS DOUBLE) / CAST(t_types AS DOUBLE)))) * tf AS nll " +
      "FROM tf JOIN cab USING (a, b) JOIN hist USING (a) " +
      "JOIN cont ON cont.b = tf.b CROSS JOIN types), " +
      "cum AS (SELECT doc_id, " +
      "sum(nll) OVER (PARTITION BY doc_id ORDER BY a, b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_nll, " +
      "CAST(sum(tf) OVER (PARTITION BY doc_id ORDER BY a, b " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY a, b) AS rn, " +
      "count(*) OVER (PARTITION BY doc_id) AS nt FROM sc) " +
      "SELECT doc_id, cum_tf AS n_bigrams, round(cum_nll / cum_tf, 6) AS avg_nll " +
      "FROM cum WHERE rn = nt ORDER BY doc_id"
  }

  /** Hashing-trick token features (Weinberger et al.'s feature hashing —
    * the fasttext-style classifier front-end): per document, a fixed
    * `nBuckets`-long count vector where token t lands in bucket
    * `charHash(t) % nBuckets`. No vocabulary is ever built or shuffled —
    * the whole operator is a narrow zero-shuffle scan-stage projection
    * (token codes computed once per doc by the native one-pass
    * expression), so it scales like a filter. Output dimensionality is a
    * plan-time constant, which is what makes the downstream model input
    * fixed-width regardless of corpus vocabulary growth. */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  nBuckets: Int = 16): DataFrame =
    df.select(col(idCol), TextFunctions.tokenCodes(col(textCol)).as("_codes"))
      .select(col(idCol),
        expr(s"transform(sequence(0, ${nBuckets - 1}), " +
          s"b -> CAST(size(filter(_codes, c -> c % $nBuckets = b)) AS BIGINT))")
          .as("features"))

  /** DuckDB oracle fragment for [[featureHash]]: identical bucket map. */
  def featureHashSql(textExpr: String, nBuckets: Int): String =
    s"list_transform(range(0, $nBuckets), " +
      s"b -> len(list_filter(${TextFunctions.tokenCodesSql(textExpr)}, " +
      s"c -> c % $nBuckets = b)))"

  /** PMI-style collocation mining: the top-k adjacent token pairs by lift
    * = P(ab) / (P(a)·P(b)) with a minimum pair count (the association
    * measure behind phrase detection / tokenizer-merge candidates).
    *
    * The corpus explodes once for bigrams and once for unigrams, both
    * map-side combined; the bigram frame joins the vocabulary on the term
    * key (AQE broadcasts the vocab when it is small); the final global
    * top-k is a TakeOrdered, never a full sort. The lift is computed as
    * exact-integer counts cast individually to double with one multiply
    * each and a single divide — every step is a deterministic IEEE op on
    * both engines (and immune to the count*count bigint overflow a 100 TB
    * corpus would hit), so the scores and the ranking hash-verify. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   minCount: Long = 3, k: Int = 20): DataFrame = PB.scoped {
    val toks = df.select(col(idCol), TextFunctions.tokens(col(textCol)).as("_t"))
    val bi = toks.filter(size(col("_t")) >= 2)
      .select(explode(expr(TextFunctions.adjacentPairsExpr)).as("bg"))
      .select(col("bg.a").as("a"), col("bg.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
    // the vocabulary frame feeds THREE consumers (both lift joins + the
    // total-token agg); Spark does not CSE subtrees, so without the
    // materialization the corpus unigram explode+shuffle runs three
    // times (the kneserNeyNll type-frame lesson — vocabulary-sized, not
    // corpus-sized, so the checkpoint is cheap at any scale)
    val uni = toks.select(explode(col("_t")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c_w"))
      .transform(PB.localCheckpoint)
    val n = uni.agg(sum(col("c_w")).as("n_tok"))
    bi.filter(col("c_ab") >= minCount)
      .join(uni.select(col("w").as("a"), col("c_w").as("c_a")), "a")
      .join(uni.select(col("w").as("b"), col("c_w").as("c_b")), "b")
      .crossJoin(broadcast(n))
      .withColumn("lift",
        round((col("c_ab").cast("double") * col("n_tok").cast("double")) /
          (col("c_a").cast("double") * col("c_b").cast("double")), 6))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"), col("lift"))
      .orderBy(col("lift").desc, col("a"), col("b"))
      .limit(k)
  }

  /** DuckDB oracle for [[collocations]] — identical counting trees, casts
    * and rounding, so the ranking (ties broken on the rounded score) is
    * engine-proof. */
  def collocationsSql(minCount: Long, k: Int): String =
    "WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents), " +
      // scalar range(): DuckDB's table-function form can't take a lateral
      // column bound, the list form can
      s"bi0 AS (SELECT unnest(${TextFunctions.adjacentPairsSql("t")}) AS bg FROM toks), " +
      "bi AS (SELECT bg.a AS a, bg.b AS b, CAST(count(*) AS BIGINT) AS c_ab " +
      "FROM bi0 GROUP BY 1, 2), " +
      "uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c_w " +
      "FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w), " +
      "n AS (SELECT CAST(sum(c_w) AS BIGINT) AS n_tok FROM uni) " +
      "SELECT a, b, c_ab, ua.c_w AS c_a, ub.c_w AS c_b, " +
      "round((CAST(c_ab AS DOUBLE) * CAST(n_tok AS DOUBLE)) / " +
      "(CAST(ua.c_w AS DOUBLE) * CAST(ub.c_w AS DOUBLE)), 6) AS lift " +
      "FROM bi JOIN uni ua ON bi.a = ua.w JOIN uni ub ON bi.b = ub.w CROSS JOIN n " +
      s"WHERE c_ab >= $minCount " +
      s"ORDER BY lift DESC, a, b LIMIT $k"

  /** Zipf rank-frequency fit — the corpus-health diagnostic: least-
    * squares slope of ln(freq) on ln(rank) over the top `topV` terms.
    * Natural text sits near slope -1 (Zipf's law); a corpus of
    * boilerplate, spam, or synthetic repetition bends the curve, so the
    * slope (with r²) is a one-row drift gate for an ingest feed.
    *
    * Scale shape: the vocabulary count is one term-keyed map-side-
    * combined shuffle; the top-V cut is a TakeOrdered (never a full
    * sort); everything after is bounded by topV rows — the regression
    * runs as an ordered cumulative fold over the ranked frame, so the
    * slope double is bit-identical across engines (same single IEEE ops
    * in the same order) and the declared query hash-verifies.
    *
    * Output: one row (n_terms, slope, intercept, r2). */
  def zipfFit(df: DataFrame, textCol: String, topV: Int = 200): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val cnt = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    val top = cnt.orderBy(col("c").desc, col("term")).limit(topV)
    val ranked = top.withColumn("rank",
      row_number().over(W.orderBy(col("c").desc, col("term"))))
    val xy = ranked.select(col("rank"),
      log(col("rank").cast("double")).as("x"),
      log(col("c").cast("double")).as("y"))
    val ord = W.orderBy("rank")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val agg = xy
      .withColumn("sx", sum(col("x")).over(cum))
      .withColumn("sy", sum(col("y")).over(cum))
      .withColumn("sxy", sum(col("x") * col("y")).over(cum))
      .withColumn("sxx", sum(col("x") * col("x")).over(cum))
      .withColumn("syy", sum(col("y") * col("y")).over(cum))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nc", count(lit(1)).over())
      .filter(col("rn") === col("nc"))
    val n = col("nc").cast("double")
    val num = n * col("sxy") - col("sx") * col("sy")
    val den = n * col("sxx") - col("sx") * col("sx")
    val deny = n * col("syy") - col("sy") * col("sy")
    val slope = num / den
    agg.select(col("nc").cast("long").as("n_terms"),
      round(slope, 6).as("slope"),
      round((col("sy") - slope * col("sx")) / n, 6).as("intercept"),
      round((num * num) / (den * deny), 6).as("r2"))
  }

  /** DuckDB oracle for [[zipfFit]]: identical count → top-V → ranked
    * cumulative-fold → closed-form regression expression tree. */
  def zipfFitSql(topV: Int): String = {
    val n = "CAST(nc AS DOUBLE)"
    val num = s"($n * sxy - sx * sy)"
    val den = s"($n * sxx - sx * sx)"
    val deny = s"($n * syy - sy * sy)"
    val slope = s"($num / $den)"
    "WITH cnt AS (SELECT w AS term, CAST(count(*) AS BIGINT) AS c FROM " +
      "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w), " +
      s"top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT $topV), " +
      "r AS (SELECT c, row_number() OVER (ORDER BY c DESC, term) AS rank FROM top), " +
      "xy AS (SELECT rank, ln(CAST(rank AS DOUBLE)) AS x, " +
      "ln(CAST(c AS DOUBLE)) AS y FROM r), " +
      "cum AS (SELECT sum(x) OVER w AS sx, sum(y) OVER w AS sy, " +
      "sum(x * y) OVER w AS sxy, sum(x * x) OVER w AS sxx, " +
      "sum(y * y) OVER w AS syy, " +
      "row_number() OVER (ORDER BY rank) AS rn, count(*) OVER () AS nc FROM xy " +
      "WINDOW w AS (ORDER BY rank ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT CAST(nc AS BIGINT) AS n_terms, " +
      s"round($slope, 6) AS slope, " +
      s"round((sy - $slope * sx) / $n, 6) AS intercept, " +
      s"round(($num * $num) / ($den * $deny), 6) AS r2 " +
      "FROM cum WHERE rn = nc"
  }

  /** Exact substring-duplication fraction (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", arXiv 2107.06499 —
    * re-expressed relationally): per document, the fraction of its
    * distinct n-token shingles that also occur in at least one OTHER
    * document. Near-1 fractions mark templated/mirrored pages that
    * MinHash may miss (it thresholds whole-doc similarity; this catches
    * partial containment, e.g. a long quoted span inside fresh text).
    *
    * Scale shape: the corpus TEXT is scanned twice — once exploding
    * (doc, gram-hash) pairs, once for the narrow zero-shuffle n_grams
    * denominator projection (deliberate: deriving the denominator from
    * the exploded frame instead would shuffle the corpus×grams rows on
    * doc_id, which costs more than a second narrow scan). The explode
    * happens ONCE —
    * per-doc grams are already distinct (sorted-distinct native kernel),
    * so `count(*)` per gram IS the distinct-document frequency. The gram
    * frequency frame is corpus-sized and deliberately NOT broadcast
    * (same stance as the bigram vocabulary): the dup-gram probe is a
    * gram-keyed shuffle join whose per-key degree is the number of docs
    * sharing that shingle — bounded by the duplication being measured,
    * never all-pairs. Zero-dup docs are recovered by a doc-keyed left
    * join against the narrow per-doc gram-count frame. */
  /** Winnowing candidate pairs (Schleimer, Wilkerson & Aiken 2003 — the
    * MOSS fingerprint): hash every bigram shingle, slide a `w`-window
    * over the hash sequence, keep each window's minimum (rightmost on
    * ties — the paper's rule), and pair documents sharing ≥ `minShared`
    * distinct selected fingerprints. The guarantee q_fingerprint's
    * single representative can't give: any shared token run spanning
    * ≥ w + 1 bigrams MUST contribute a common fingerprint, while only
    * ~2/(w+1) of positions are ever kept.
    *
    * The window min is min(struct(h, −pos)) — struct ordering is
    * lexicographic on both engines, so value ties resolve to the same
    * (rightmost) position and the selected sets are bit-identical.
    *
    * Scale shape: the winnow window is per-document (partitioned,
    * frame ≤ w — never a corpus funnel); the fingerprint frame joins on
    * the hash key (vocabulary stance, not broadcast). `maxDf` drops
    * fingerprints shared by more than that many docs BEFORE pairing —
    * the paper's own over-common-fingerprint rule, and the skew guard
    * that keeps Σ C(df,2) linear in fingerprint count instead of
    * quadratic in corpus size when boilerplate concentrates a hash. */
  /** Per-document winnowed fingerprint set (doc_id, fp) — the selection
    * stage of [[winnowPairs]], exposed so the streaming admission face
    * winnows each micro-batch with the SAME chain (one definition per
    * metric). Docs with fewer than w shingles produce no fingerprints
    * (Schleimer's short-document boundary: pos <= m − w + 1 yields its
    * first window exactly at m == w). */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         w: Int = 4): DataFrame = {
    require(w >= 1)
    val W = org.apache.spark.sql.expressions.Window
    val grams = df.select(col(idCol).as("doc_id"),
        posexplode(TextFunctions.bigrams(TextFunctions.tokens(col(textCol))))
          .as(Seq("pos0", "gram")))
      .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
        TextFunctions.charHash(col("gram")).as("h"))
    val perDoc = W.partitionBy("doc_id")
    val win = perDoc.orderBy("pos").rowsBetween(W.currentRow, w - 1)
    grams
      .withColumn("m", count(lit(1)).over(perDoc))
      .withColumn("sel", min(struct(col("h"), (-col("pos")).as("np"))).over(win))
      .filter(col("pos") <= col("m") - (w - 1))
      .select(col("doc_id"), col("sel.h").as("fp"))
      .distinct()
  }

  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  w: Int = 4, minShared: Int = 2,
                  maxDf: Int = 64): DataFrame = PB.scoped {
    require(minShared >= 1 && maxDf >= 2)
    // the fingerprint frame feeds the df count AND the kept join, and
    // kept feeds both pair sides — materialize each once or the whole
    // explode+window chain re-runs per consumer (round-6 CSE rule)
    val fps = winnowFingerprints(df, idCol, textCol, w)
      .transform(PB.localCheckpoint)
    val kept = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxDf).select("fp"),
        Seq("fp"))
      .transform(PB.localCheckpoint)
    val l = kept.select(col("doc_id").as("a"), col("fp"))
    val r = kept.select(col("doc_id").as("b"), col("fp"))
    l.join(r, Seq("fp")).filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** DuckDB oracle for [[winnowPairs]] — identical hashes, struct-min
    * window, truncated-tail filter, df cap, and pair fold. */
  def winnowPairsSql(w: Int, minShared: Int, maxDf: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    s"WITH t AS (SELECT doc_id, ${TextFunctions.bigramsSql(toks)} AS gr " +
      "FROM documents), " +
      "g0 AS (SELECT doc_id, unnest(list_zip(gr, range(1, len(gr) + 1))) AS z " +
      "FROM t), " +
      "g AS (SELECT doc_id, CAST(z[2] AS BIGINT) AS pos, " +
      s"${TextFunctions.charHashSql("z[1]")} AS h FROM g0), " +
      "sel AS (SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id) AS m, " +
      "min({'h': h, 'np': -pos}) OVER (PARTITION BY doc_id ORDER BY pos " +
      s"ROWS BETWEEN CURRENT ROW AND ${w - 1} FOLLOWING) AS s FROM g), " +
      s"fp AS (SELECT DISTINCT doc_id, s.h AS fp FROM sel WHERE pos <= m - ${w - 1}), " +
      "kept AS (SELECT fp.doc_id, fp.fp FROM fp JOIN (SELECT fp, count(*) AS df " +
      s"FROM fp GROUP BY fp HAVING count(*) <= $maxDf) d ON fp.fp = d.fp) " +
      "SELECT l.doc_id AS a, r.doc_id AS b, CAST(count(*) AS BIGINT) AS n_shared " +
      "FROM kept l JOIN kept r ON l.fp = r.fp AND l.doc_id < r.doc_id " +
      s"GROUP BY a, b HAVING count(*) >= $minShared"
  }

  def substrDupFraction(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 13): DataFrame = {
    val grams = df.select(col(idCol).as("doc_id"),
      explode(TextFunctions.ngramHashes(col(textCol), n)).as("g"))
    val dup = grams.groupBy("g").agg(count(lit(1)).as("n_docs_with"))
      .filter(col("n_docs_with") >= 2)
    val perDoc = grams.join(dup, Seq("g"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_grams"))
    df.select(col(idCol).as("doc_id"),
        size(TextFunctions.ngramHashes(col(textCol), n)).cast("long")
          .as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_dup_grams"))
      .withColumn("dup_fraction",
        round(col("n_dup_grams").cast("double") /
          greatest(col("n_grams"), lit(1L)), 6))
  }

  /** DuckDB oracle for [[substrDupFraction]] — the gram STRINGS stand in
    * for the 64-bit gram hashes (identical up to ~2^-64 collisions, the
    * q_decontaminate stance); same distinct/count/probe/left-join tree. */
  def substrDupFractionSql(n: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    val grams = s"list_distinct(${TextFunctions.ngramsSql("t", n)})"
    s"WITH tk AS (SELECT doc_id, $toks AS t FROM documents), " +
      s"g AS (SELECT doc_id, unnest($grams) AS g FROM tk), " +
      "f AS (SELECT g, count(*) AS n_docs_with FROM g GROUP BY g), " +
      "d AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup " +
      "FROM g JOIN f USING (g) WHERE n_docs_with >= 2 GROUP BY doc_id), " +
      s"base AS (SELECT doc_id, CAST(len($grams) AS BIGINT) AS n_grams FROM tk) " +
      "SELECT base.doc_id, n_grams, " +
      "CAST(coalesce(n_dup, 0) AS BIGINT) AS n_dup_grams, " +
      "round(CAST(coalesce(n_dup, 0) AS DOUBLE) / greatest(n_grams, 1), 6) " +
      "AS dup_fraction FROM base LEFT JOIN d ON base.doc_id = d.doc_id " +
      "ORDER BY base.doc_id"
  }

  /** Per-group KL divergence from the corpus token distribution (the
    * source-drift gate: which ingest feed's language has wandered from
    * the mix?). Distributions are over the top-V corpus vocabulary plus
    * ONE tail bucket ("other" mass), with additive smoothing `alpha` so
    * zero cells stay finite: KL(P_g ‖ Q) = Σ p ln(p/q) over V+1 cells,
    * p = (c_g + α)/(n_g + α(V+1)).
    *
    * Scale shape: the corpus explodes once; term counts are map-side
    * combined; the top-V cut is a TakeOrdered (no full vocabulary sort);
    * the per-group cell grid is |groups|·(V+1) — DOMAIN-bounded like the
    * chi² marginal grid, never vocabulary- or corpus-sized (the entire
    * tail collapses into the closed-form other-bucket mass). The KL sum
    * runs as an ordered cumulative fold over rank within each group, so
    * the doubles are bit-identical on every engine/partitioning. */
  def klDrift(df: DataFrame, groupCol: String, textCol: String,
              topV: Int = 200, alpha: Double = 0.5): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    // null groups are excluded OUTRIGHT (mutualInfo stance): a null grp
    // would miss the grid's equi-join yet still inflate the corpus
    // totals, silently mis-normalizing Q on both engines at once
    val toks = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
    // Spark does not CSE DataFrame subtrees (the r6 materialization
    // rule): everything below derives from the (grp, term) count frame —
    // group-term-bounded, far smaller than the corpus — materialized
    // ONCE, so the corpus is exploded and scanned exactly once. cnt/
    // gTot/top/consts are vocab-/group-/V-sized rollups of it.
    val gCnt = toks.groupBy("grp", "term").agg(count(lit(1)).as("gc"))
      .transform(PB.localCheckpoint)
    val cnt = gCnt.groupBy("term").agg(sum(col("gc")).as("c"))
      .transform(PB.localCheckpoint)
    val top = cnt.orderBy(col("c").desc, col("term")).limit(topV)
      .withColumn("rank",
        row_number().over(W.orderBy(col("c").desc, col("term"))))
      .transform(PB.localCheckpoint)
    // 1-row corpus constants: top-vocab size, top mass, total mass
    val consts = top.agg(count(lit(1)).as("vn"), sum(col("c")).as("topc"))
      .crossJoin(cnt.agg(sum(col("c")).as("bign")))
      .transform(PB.localCheckpoint)
    val gTot = gCnt.groupBy("grp").agg(sum(col("gc")).as("n_tokens"))
    val grid = gTot.crossJoin(broadcast(top))
      .join(gCnt, Seq("grp", "term"), "left")
      .na.fill(0L, Seq("gc"))
    val gTop = grid.groupBy("grp").agg(sum(col("gc")).as("gtopc"))
    val other = gTot.join(gTop, "grp")
      .crossJoin(broadcast(consts))
      .select(col("grp"), col("n_tokens"),
        (col("vn") + 1).cast("int").as("rank"),
        (col("n_tokens") - col("gtopc")).as("gc"),
        (col("bign") - col("topc")).as("c"))
    val cells = grid.select(col("grp"), col("n_tokens"), col("rank"),
        col("gc"), col("c"))
      .unionByName(other)
      .crossJoin(broadcast(consts.select(col("vn"), col("bign"))))
    val vp1 = (col("vn") + 1).cast("double")
    val p = (col("gc").cast("double") + lit(alpha)) /
      (col("n_tokens").cast("double") + lit(alpha) * vp1)
    val q = (col("c").cast("double") + lit(alpha)) /
      (col("bign").cast("double") + lit(alpha) * vp1)
    val ord = W.partitionBy("grp").orderBy("rank")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    cells.withColumn("cell", p * log(p / q))
      .withColumn("cum", sum(col("cell")).over(cum))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nc", count(lit(1)).over(W.partitionBy("grp")))
      .filter(col("rn") === col("nc"))
      .select(col("grp").as(groupCol), col("n_tokens"),
        round(col("cum"), 6).as("kl_nats"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[klDrift]] — identical count → top-V → grid →
    * other-bucket → smoothed ordered-fold tree. */
  def klDriftSql(groupCol: String, topV: Int, alpha: Double): String = {
    val toks = TextFunctions.tokensSql("text")
    s"WITH toks AS (SELECT $groupCol AS grp, unnest($toks) AS term " +
      s"FROM documents WHERE $groupCol IS NOT NULL), " +
      "cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY term), " +
      s"top AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rank " +
      s"FROM (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT $topV)), " +
      "consts AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM top) AS vn, " +
      "(SELECT CAST(sum(c) AS BIGINT) FROM top) AS topc, " +
      "(SELECT CAST(sum(c) AS BIGINT) FROM cnt) AS bign), " +
      "gcnt AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS gc " +
      "FROM toks GROUP BY grp, term), " +
      "gtot AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_tokens " +
      "FROM toks GROUP BY grp), " +
      "grid AS (SELECT gtot.grp, gtot.n_tokens, top.rank, " +
      "CAST(coalesce(gcnt.gc, 0) AS BIGINT) AS gc, top.c " +
      "FROM gtot CROSS JOIN top LEFT JOIN gcnt " +
      "ON gcnt.grp = gtot.grp AND gcnt.term = top.term), " +
      "gtop AS (SELECT grp, CAST(sum(gc) AS BIGINT) AS gtopc FROM grid GROUP BY grp), " +
      "other AS (SELECT gtot.grp, gtot.n_tokens, " +
      "CAST(vn + 1 AS INTEGER) AS rank, gtot.n_tokens - gtop.gtopc AS gc, " +
      "bign - topc AS c FROM gtot JOIN gtop ON gtot.grp = gtop.grp " +
      "CROSS JOIN consts), " +
      "cells AS (SELECT grp, n_tokens, rank, gc, c FROM grid " +
      "UNION ALL BY NAME SELECT grp, n_tokens, rank, gc, c FROM other), " +
      "sc AS (SELECT grp, n_tokens, rank, " +
      s"((CAST(gc AS DOUBLE) + $alpha) / (CAST(n_tokens AS DOUBLE) + $alpha * CAST(vn + 1 AS DOUBLE))) AS p, " +
      s"((CAST(c AS DOUBLE) + $alpha) / (CAST(bign AS DOUBLE) + $alpha * CAST(vn + 1 AS DOUBLE))) AS q " +
      "FROM cells CROSS JOIN consts), " +
      "cum AS (SELECT grp, n_tokens, " +
      "sum(p * ln(p / q)) OVER (PARTITION BY grp ORDER BY rank " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (PARTITION BY grp ORDER BY rank) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS nc FROM sc) " +
      s"SELECT grp AS $groupCol, n_tokens, round(cum, 6) AS kl_nats " +
      s"FROM cum WHERE rn = nc ORDER BY $groupCol"
  }

  /** Canonicalization chain for URL dedup, shared by the Spark and SQL
    * forms so the two engines cannot desynchronize: lowercase → strip
    * fragment → strip utm_* tracking params (repairing '?&' and dangling
    * separators) → strip scheme/www → strip trailing slash. Order
    * matters: the fragment must go before param surgery ('#' terminates
    * a param value), the scheme after (its '//' would survive a
    * trailing-slash strip). */
  private val urlCanonSteps: Seq[(String, String)] = Seq(
    "#.*$" -> "",
    // utm params are anchored to their '?'/'&' separator (kept via $1),
    // so a non-utm param whose NAME contains "utm_" is untouched; the
    // separator-run repairs below absorb the leftover '&'s
    "([?&])utm_[a-z]+=[^&#]*" -> "$1",
    "&&+" -> "&",
    "\\?&" -> "?",
    "[?&]+$" -> "",
    "^https?://" -> "",
    "^www\\." -> "",
    "/$" -> "")

  /** URL canonicalization + exact dedup election (the crawl-curation
    * front door: the same page arrives as http/https, with and without
    * www, tracking params, fragments). Adds `canonical_url`; narrow
    * zero-shuffle regexp chain, whole-stage codegen — a free column at
    * 100 TB. Dedup is then [[Dedup]]'s exact hash-groupBy on the
    * canonical form. */
  def urlCanonicalize(df: DataFrame, urlCol: String): DataFrame =
    df.withColumn("canonical_url",
      urlCanonSteps.foldLeft(lower(col(urlCol))) {
        case (c, (pat, rep)) => regexp_replace(c, pat, rep)
      })

  /** DuckDB side of [[urlCanonicalize]] — the same step table ('g' flag:
    * DuckDB's regexp_replace is first-match-only by default, Spark's is
    * global; group references translate $1 → \1 for RE2 replacement
    * syntax). */
  def urlCanonicalizeSql(urlExpr: String): String =
    urlCanonSteps.foldLeft(s"lower($urlExpr)") {
      case (c, (pat, rep)) =>
        s"regexp_replace($c, '$pat', '${rep.replace("$1", "\\1")}', 'g')"
    }

  /** First BPE tokenizer-training iteration at corpus scale: the top-k
    * adjacent character-pair merge candidates, each pair's count weighted
    * by its words' corpus frequencies (Sennrich et al. 2015, arXiv
    * 1508.07909 — the step a distributed engine runs repeatedly to train
    * the vocabulary; subsequent iterations re-run this after applying the
    * winning merge).
    *
    * Scale shape: the corpus explodes to words ONCE and collapses to the
    * word VOCABULARY (map-side combined) before any character work — the
    * char-pair explode runs over distinct words, not corpus tokens, which
    * is the classic BPE-training trick (vocabulary ≪ corpus). Pair counts
    * are one more map-side-combined shuffle; the top-k cut is a
    * TakeOrdered (no full sort). Single-char words contribute nothing
    * (guarded sequence, the adjacent-pairs contract). */
  def bpeMerges(df: DataFrame, textCol: String, k: Int = 20): DataFrame = {
    val words = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .filter(length(col("w")) >= 2)
    val pairs = words.select(col("wc"), explode(expr(
      "transform(sequence(1, length(w) - 1), " +
        "i -> substring(w, i, 2))")).as("pair"))
    pairs.groupBy("pair").agg(sum(col("wc")).as("n_occ"))
      .orderBy(col("n_occ").desc, col("pair")).limit(k)
  }

  /** DuckDB oracle for [[bpeMerges]] — identical vocab-collapse →
    * guarded pair explode → weighted count → top-k tree. */
  def bpeMergesSql(k: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    s"WITH words AS (SELECT w, CAST(count(*) AS BIGINT) AS wc FROM " +
      s"(SELECT unnest($toks) AS w FROM documents) GROUP BY w " +
      "HAVING length(w) >= 2), " +
      "pairs AS (SELECT wc, unnest(list_transform(" +
      "range(1, length(w)), i -> w[i:i+1])) AS pair FROM words) " +
      "SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occ FROM pairs " +
      s"GROUP BY pair ORDER BY n_occ DESC, pair LIMIT $k"
  }

  /** The BPE training RECURRENCE, unrolled: `iters` rounds of (count
    * weighted adjacent symbol pairs over the word vocabulary → take the
    * most frequent pair → merge it EVERYWHERE), i.e. the actual loop of
    * Sennrich 1508.07909 §3.1 — [[bpeMerges]] computes only round one's
    * candidate list. Output: the learned merge table, one row per round
    * (iter, pair_a, pair_b, n_occ).
    *
    * Words travel as sentinel-delimited symbol strings (" h  e  l " —
    * DOUBLE spaces between symbols, single-space sentinels, built by one
    * regexp_replace): the merge step is then ONE literal non-regex
    * replace of " a  b " with " ab ". Left-to-right non-overlapping on
    * both engines, the sentinels keep "ca|b" unmergeable against
    * pattern "a|b", and back-to-back sites (" a  b  a  b ") both match
    * because each match consumes its own sentinels exactly.
    *
    * Scale shape: everything after the one corpus explode runs on the
    * word VOCABULARY (the bpeMerges trick); each round is one
    * map-side-combined pair-count shuffle + a 1-row TakeOrdered argmax,
    * broadcast back onto the vocab as a crossJoin constant. The running
    * vocab is localCheckpoint-ed per round (reliable checkpoint on a
    * cluster) so round k never replays rounds 1..k-1. */
  def bpeTrain(df: DataFrame, textCol: String, iters: Int = 3): DataFrame = PB.scoped {
    require(iters >= 1 && iters <= 8, "iters must be in [1, 8] (unrolled rounds)")
    var words = df
      .select(explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(regexp_replace(col("w"), "(.)", " $1 ").as("sym"), col("wc"))
      .transform(PB.localCheckpoint)
    val rounds = (1 to iters).map { it =>
      val best = words
        .select(col("wc"), split(trim(col("sym")), "  ").as("_t"))
        .filter(size(col("_t")) >= 2)
        .select(col("wc"), explode(expr(TextFunctions.adjacentPairsExpr)).as("bg"))
        .groupBy(col("bg.a").as("pair_a"), col("bg.b").as("pair_b"))
        .agg(sum(col("wc")).as("n_occ"))
        .orderBy(col("n_occ").desc, col("pair_a"), col("pair_b")).limit(1)
        .select(lit(it.toLong).as("iter"), col("pair_a"), col("pair_b"), col("n_occ"))
        .transform(PB.localCheckpoint)
      if (it < iters)
        words = words
          .crossJoin(broadcast(best.select(col("pair_a"), col("pair_b"))))
          .select(expr("replace(sym, ' ' || pair_a || '  ' || pair_b || ' ', " +
            "' ' || pair_a || pair_b || ' ')").as("sym"), col("wc"))
          .transform(PB.localCheckpoint)
      best
    }
    rounds.reduce(_ unionByName _).orderBy("iter")
  }

  /** DuckDB oracle for [[bpeTrain]] — identical sentinel encoding,
    * per-round pair count / argmax / literal replace, as a CTE chain. */
  def bpeTrainSql(iters: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    val rounds = (1 to iters).map { it =>
      val prev = s"w${it - 1}"
      s"b$it AS (SELECT wc, unnest(${TextFunctions.adjacentPairsSql("t")}) AS bg FROM " +
        s"(SELECT wc, string_split(trim(sym), '  ') AS t FROM $prev) WHERE len(t) >= 2), " +
        s"p$it AS (SELECT bg.a AS pair_a, bg.b AS pair_b, " +
        s"CAST(sum(wc) AS BIGINT) AS n_occ FROM b$it GROUP BY 1, 2), " +
        s"m$it AS (SELECT pair_a, pair_b, n_occ FROM p$it " +
        "ORDER BY n_occ DESC, pair_a, pair_b LIMIT 1), " +
        s"w$it AS (SELECT replace(sym, ' ' || pair_a || '  ' || pair_b || ' ', " +
        s"' ' || pair_a || pair_b || ' ') AS sym, wc FROM $prev CROSS JOIN m$it)"
    }.mkString(", ")
    val union = (1 to iters)
      .map(it => s"SELECT $it AS iter, pair_a, pair_b, n_occ FROM m$it")
      .mkString(" UNION ALL ")
    "WITH w0 AS (SELECT regexp_replace(w, '(.)', ' \\1 ', 'g') AS sym, " +
      "CAST(count(*) AS BIGINT) AS wc FROM " +
      s"(SELECT unnest($toks) AS w FROM documents) GROUP BY w), " +
      s"$rounds SELECT CAST(iter AS BIGINT) AS iter, pair_a, pair_b, n_occ " +
      s"FROM ($union) ORDER BY iter"
  }

  /** BPE ENCODE — apply an ordered, already-learned merge table to the
    * corpus and count the resulting tokens per document (the step that
    * actually runs on every ingest batch once [[bpeTrain]] has produced
    * the vocabulary; Sennrich 1508.07909 §3.2 applies merges in learned
    * order). Token counts with the REAL tokenizer are the budget
    * currency of a training pipeline — whitespace counts (q_token_count)
    * misprice CJK/code/URLs badly.
    *
    * Same sentinel-delimited symbol machinery as [[bpeTrain]] (double-
    * space between symbols, single-space sentinels, merge = one literal
    * global replace), so the two operators cannot drift. Scale shape:
    * the corpus explodes to words once and collapses to (doc, word)
    * counts AND the distinct-word vocabulary; the |merges| replace chain
    * runs over the VOCABULARY only (vocab ≪ corpus — the training
    * trick reused at encode time), then one word-keyed join prices each
    * document. Two map-side-combined shuffles + one join; the replace
    * chain is narrow codegen. */
  /** Fixed demonstration merge table for the declared query: common
    * English pairs, in an order that exercises CHAINED merges (t+h
    * produces th, which the next merge extends to the). Any real
    * deployment passes bpeTrain's learned table instead. */
  val demoMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("an", "d"))

  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame = {
    require(merges.nonEmpty, "empty merge table")
    val dw = df
      .select(col(idCol).as("doc_id"),
        explode(TextFunctions.tokens(col(textCol))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("nw"))
    def escS(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    val symSql = merges.foldLeft("regexp_replace(w, '(.)', ' $1 ')") {
      case (c, (a, b)) =>
        s"replace($c, ' ${escS(a)}  ${escS(b)} ', ' ${escS(a)}${escS(b)} ')"
    }
    val vocab = dw.select(col("w")).distinct()
      .select(col("w"), size(split(trim(expr(symSql)), "  ")).as("n_sym"))
    dw.join(vocab, "w")
      .groupBy("doc_id")
      .agg(sum(col("nw")).as("n_words"),
        sum(col("nw") * col("n_sym")).as("n_tokens"))
  }

  /** DuckDB oracle for [[bpeEncode]] — identical sentinel encode, the
    * same ordered literal-replace chain, same vocab-collapse shape. */
  def bpeEncodeSql(table: String, idExpr: String, textExpr: String,
                   merges: Seq[(String, String)]): String = {
    def esc(s: String) = s.replace("'", "''")
    val toks = TextFunctions.tokensSql(textExpr)
    val sym = merges.foldLeft("regexp_replace(w, '(.)', ' \\1 ', 'g')") {
      case (c, (a, b)) =>
        s"replace($c, ' ${esc(a)}  ${esc(b)} ', ' ${esc(a)}${esc(b)} ')"
    }
    s"WITH dw AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS nw FROM " +
      s"(SELECT $idExpr AS doc_id, unnest($toks) AS w FROM $table) GROUP BY 1, 2), " +
      s"v AS (SELECT w, len(string_split(trim($sym), '  ')) AS n_sym " +
      "FROM (SELECT DISTINCT w FROM dw)) " +
      "SELECT doc_id, CAST(sum(nw) AS BIGINT) AS n_words, " +
      "CAST(sum(nw * n_sym) AS BIGINT) AS n_tokens " +
      "FROM dw JOIN v USING (w) GROUP BY doc_id ORDER BY doc_id"
  }

  /** Boilerplate mining: the top-k n-token shingles appearing in the
    * most DISTINCT documents (nav bars, cookie banners, license headers —
    * the removal list [[substrDupFraction]] measures the damage of).
    * Gram STRINGS, not hashes: the output is a human-readable removal
    * list, so interpretability beats the hash kernel's speed here.
    *
    * Scale shape: one corpus explode of per-doc DISTINCT grams (so
    * count(*) per gram = document frequency), map-side combined; the
    * ranking cut is a TakeOrdered over grams with df ≥ 2 — never a full
    * vocabulary sort. */
  def boilerplate(df: DataFrame, idCol: String, textCol: String,
                  n: Int = 5, k: Int = 20): DataFrame = {
    val grams = df
      .withColumn("_toks", TextFunctions.tokens(col(textCol)))
      .select(col(idCol).as("doc_id"), explode(array_distinct(expr(
        s"if(size(_toks) < $n, array(), " +
          s"transform(sequence(1, size(_toks) - ${n - 1}), " +
          s"i -> concat_ws(' ', slice(_toks, i, $n))))"))).as("gram"))
    grams.groupBy("gram").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("gram")).limit(k)
  }

  /** DuckDB oracle for [[boilerplate]] — identical distinct-gram
    * explode, document-frequency count and top-k cut. */
  def boilerplateSql(n: Int, k: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    s"WITH tk AS (SELECT doc_id, $toks AS t FROM documents), " +
      s"g AS (SELECT doc_id, unnest(list_distinct(${TextFunctions.ngramsSql("t", n)})) AS gram FROM tk), " +
      "c AS (SELECT gram, count(*) AS n_docs FROM g GROUP BY gram) " +
      "SELECT gram, n_docs FROM c WHERE n_docs >= 2 " +
      s"ORDER BY n_docs DESC, gram LIMIT $k"
  }

  /** Token-balanced shard planner: assign rows to contiguous output
    * shards of ~`budget` weight each, in id order — the write-side
    * manifest for "pack this corpus into N-token training shards"
    * (contiguity keeps the assignment reproducible and mergeable;
    * [[packSequences]] is the intra-shard form). shard = exclusive-
    * prefix-weight div budget, all integer — exact at any scale.
    *
    * Scale shape: the global ordered prefix sum uses the two-stage
    * prefix scan (the ksDistance pattern): range-partition by id,
    * per-partition window cumsum, partition totals' own prefix broadcast
    * back as offsets. No corpus-sized single-task window; the only
    * single-task step is the ≤ numPartitions-row offsets window. */
  def shardPlan(df: DataFrame, idCol: String, weightCol: String,
                budget: Long, numPartitions: Int = 8): DataFrame = PB.scoped {
    require(budget > 0, "shard budget must be positive")
    val W = org.apache.spark.sql.expressions.Window
    // null weights coalesce to 0 mass (Spark's null-propagating subtract
    // would null the shard id while SQL's null-skipping window sum would
    // not — pin one behavior on both engines)
    val w = df.select(col(idCol).as("id"),
        coalesce(col(weightCol).cast("long"), lit(0L)).as("wt"))
      .repartitionByRange(numPartitions, col("id"))
      .withColumn("_pid", spark_partition_id())
      .transform(PB.localCheckpoint)
    val wLoc = W.partitionBy(col("_pid")).orderBy(col("id"))
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val local = w.withColumn("l", sum(col("wt")).over(wLoc))
    val wPre = W.orderBy(col("_pid")).rowsBetween(W.unboundedPreceding, -1)
    val prefix = w.groupBy(col("_pid")).agg(sum(col("wt")).as("p"))
      .withColumn("off", coalesce(sum(col("p")).over(wPre), lit(0L)))
      .select(col("_pid"), col("off"))
    local.join(broadcast(prefix), "_pid")
      .select(col("id"), col("wt"),
        (col("l") + col("off") - col("wt")).as("prev"))
      .select(col("id"), col("wt"),
        expr(s"CAST(prev div $budget AS BIGINT)").as("shard_id"))
  }

  /** DuckDB oracle for [[shardPlan]] — the single-window form of the
    * same exclusive prefix (the two-stage scan is partitioning
    * machinery, not semantics). */
  def shardPlanSql(table: String, idExpr: String, weightExpr: String,
                   budget: Long): String =
    s"WITH w AS (SELECT $idExpr AS id, CAST(coalesce($weightExpr, 0) AS BIGINT) AS wt FROM $table), " +
      "c AS (SELECT id, wt, CAST(coalesce(sum(wt) OVER (ORDER BY id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS prev FROM w) " +
      s"SELECT id, wt, CAST(prev // $budget AS BIGINT) AS shard_id FROM c ORDER BY id"

  /** DuckDB oracle fragment for [[charEntropy]]: (n_chars, entropy) SQL
    * over a normalized-text expression — identical fold shape. */
  def charEntropySql(normExpr: String): (String, String) = {
    val terms = entropyAlphabet.map { ch =>
      val lit = if (ch == " ") "' '" else s"'$ch'"
      val c = s"CAST(len(regexp_extract_all($normExpr, $lit)) AS BIGINT)"
      s"CASE WHEN $c > 0 THEN -(($c / n_chars) * ln($c / n_chars)) ELSE 0.0 END"
    }.mkString(" + ")
    (s"CAST(length($normExpr) AS BIGINT)",
      s"CASE WHEN n_chars > 0 THEN round(($terms) / ln(2.0), 6) ELSE 0.0 END")
  }

  /** Pairwise source vocabulary overlap — exact distinct-token
    * intersection / union / Jaccard for every source pair (the
    * mix-design diagnostic: which feeds are near-copies of each other,
    * which contribute genuinely new vocabulary). Null sources are
    * excluded on both engines (the mutualInfo stance).
    *
    * Scale shape — the BITMASK-HISTOGRAM trick, never a pairwise token
    * join: one corpus explode collapses to the distinct (source, token)
    * membership frame (map-side combined); each token then folds to a
    * ≤64-bit source-membership mask (one token-keyed shuffle), and the
    * mask HISTOGRAM (≤ min(vocab, 2^s) rows, in practice tiny — tokens
    * sharing a membership pattern share a row) is the only frame the
    * s²/2 pair statistics ever read. A token shared by every source
    * costs one histogram row — not s² join rows — so stopwords cannot
    * create a hot key anywhere. Requires ≤ 63 distinct sources (mask
    * fits a signed long); the source index is a domain-bounded
    * single-task window (the mutual_info stance). */
  def sourceOverlap(df: DataFrame, groupCol: String, textCol: String): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    // distinct (source, token) membership — the only corpus-sized stage
    val st = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("g"),
        explode(TextFunctions.tokens(col(textCol))).as("tok"))
      .distinct()
      .transform(PB.localCheckpoint)
    val idx = st.select(col("g")).distinct()
      .withColumn("i", row_number().over(W.orderBy(col("g"))) - lit(1))
      .transform(PB.localCheckpoint)
    val nSources = idx.count()
    require(nSources <= 63, s"sourceOverlap: mask needs <= 63 sources, got $nSources")
    val masks = st.join(broadcast(idx), "g")
      .groupBy(col("tok"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), i))").as("mask"))
      .groupBy(col("mask")).agg(count(lit(1)).as("cnt"))
      .transform(PB.localCheckpoint)
    // DataFrame shiftright only takes a literal shift — the SQL form
    // accepts a column amount
    def bitSet(idxName: String) =
      expr(s"(shiftright(mask, $idxName) & CAST(1 AS BIGINT)) = 1")
    val totals = masks.join(broadcast(idx), bitSet("i"))
      .groupBy(col("g")).agg(sum(col("cnt")).as("n_toks"))
    val pairs = idx.select(col("g").as("ga"), col("i").as("ia"))
      .crossJoin(idx.select(col("g").as("gb"), col("i").as("ib")))
      .filter(col("ga") < col("gb"))
      .transform(PB.localCheckpoint)
    // inner join with the s²/2-row pair frame BROADCAST (the histogram
    // side streams); zero-overlap pairs are reinstated from the pair
    // frame afterwards so every pair appears exactly once
    val inter0 = masks.join(broadcast(pairs), bitSet("ia") && bitSet("ib"))
      .groupBy(col("ga"), col("gb"))
      .agg(sum(col("cnt")).as("n_inter0"))
    val inter = pairs.select(col("ga"), col("gb"))
      .join(inter0, Seq("ga", "gb"), "left")
      .withColumn("n_inter", coalesce(col("n_inter0"), lit(0L)))
      .drop("n_inter0")
    inter
      .join(broadcast(totals.withColumnRenamed("g", "ga")
        .withColumnRenamed("n_toks", "n_a")), "ga")
      .join(broadcast(totals.withColumnRenamed("g", "gb")
        .withColumnRenamed("n_toks", "n_b")), "gb")
      .select(col("ga").as("src_a"), col("gb").as("src_b"),
        col("n_a"), col("n_b"), col("n_inter"),
        (col("n_a") + col("n_b") - col("n_inter")).as("n_union"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")).cast("double"), 6)
          .as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  /** DuckDB oracle for [[sourceOverlap]] — the direct pairwise form
    * (distinct-membership self-join) the bitmask histogram must equal. */
  def sourceOverlapSql(table: String, groupExpr: String, textExpr: String): String =
    s"WITH st AS (SELECT DISTINCT g, tok FROM " +
      s"(SELECT $groupExpr AS g, unnest(${TextFunctions.tokensSql(textExpr)}) AS tok " +
      s"FROM $table WHERE $groupExpr IS NOT NULL)), " +
      "totals AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM st GROUP BY g), " +
      "inter AS (SELECT x.g AS ga, y.g AS gb, CAST(count(*) AS BIGINT) AS ni " +
      "FROM st x JOIN st y ON x.tok = y.tok AND x.g < y.g GROUP BY x.g, y.g) " +
      "SELECT a.g AS src_a, b.g AS src_b, a.n AS n_a, b.n AS n_b, " +
      "coalesce(ni, 0) AS n_inter, a.n + b.n - coalesce(ni, 0) AS n_union, " +
      "round(CAST(coalesce(ni, 0) AS DOUBLE) / " +
      "CAST(a.n + b.n - coalesce(ni, 0) AS DOUBLE), 6) AS jaccard " +
      "FROM totals a JOIN totals b ON a.g < b.g " +
      "LEFT JOIN inter ON inter.ga = a.g AND inter.gb = b.g " +
      "ORDER BY src_a, src_b"

  /** Train/eval split-leakage audit: after [[Sampling.hashSplit]]
    * assigns the reproducible id-hash split, how many n-grams does each
    * EVAL document share with the TRAIN side? Decontamination
    * (q_decontaminate) guards against EXTERNAL benchmarks; this guards
    * against the split itself — near-duplicates straddling the boundary
    * leak eval content into training, and loss on those eval docs is
    * memorization, not generalization. Flag ⇒ drop or re-split.
    *
    * Scale shape: one narrow scan fans out (doc, split, gram-hash) via
    * the native sorted-n-gram kernel; the train gram set and the eval
    * grams meet in a GRAM-KEYED left-semi join — the train side is
    * corpus-sized and deliberately NEVER broadcast (the q_decontaminate
    * broadcast is only valid for KB-sized external benchmarks). Output
    * is eval-doc-sized. */
  def splitLeakage(df: DataFrame, idCol: String, textCol: String,
                   evalPct: Int = 10, n: Int = 5): DataFrame = PB.scoped {
    require(evalPct >= 1 && evalPct <= 50, "evalPct must be in [1, 50]")
    val sp = Sampling.hashSplit(df, idCol,
      Seq("train" -> (100 - evalPct), "eval" -> evalPct))
    val grams = sp.select(col(idCol).as("doc_id"), col("split"),
        explode(TextFunctions.ngramHashes(col(textCol), n)).as("g"))
      .distinct()
    val trainG = grams.filter(col("split") === "train").select("g").distinct()
    val evalG = grams.filter(col("split") === "eval")
      .select("doc_id", "g")
      .transform(PB.localCheckpoint) // profile + semi-join both read it
    val prof = evalG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val shared = evalG.join(trainG, Seq("g"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared_grams"))
    prof.join(shared, Seq("doc_id"), "left")
      .withColumn("n_shared_grams", coalesce(col("n_shared_grams"), lit(0L)))
      .select(col("doc_id"), col("n_grams"), col("n_shared_grams"),
        (col("n_shared_grams") > 0L).as("leaked"))
  }

  /** DuckDB oracle for [[splitLeakage]] — identical split CASE, distinct
    * gram sets (strings vs the kernel's hashes — the q_decontaminate
    * equivalence) and join chain. */
  def splitLeakageSql(table: String, idExpr: String, textCol: String,
                      evalPct: Int = 10, n: Int = 5): String = {
    val (_, caseExpr) = Sampling.hashSplitSql(idExpr,
      Seq("train" -> (100 - evalPct), "eval" -> evalPct))
    val grams = TextFunctions.ngramsSql(TextFunctions.tokensSql(textCol), n)
    s"WITH sp AS (SELECT $idExpr AS doc_id, $textCol, " +
      s"$caseExpr AS split FROM $table), " +
      s"g AS (SELECT DISTINCT doc_id, split, unnest($grams) AS g FROM sp), " +
      "tg AS (SELECT DISTINCT g FROM g WHERE split = 'train'), " +
      "eg AS (SELECT doc_id, g FROM g WHERE split = 'eval'), " +
      "prof AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams " +
      "FROM eg GROUP BY doc_id), " +
      "sh AS (SELECT eg.doc_id, CAST(count(*) AS BIGINT) AS n_shared_grams " +
      "FROM eg JOIN tg USING (g) GROUP BY eg.doc_id) " +
      "SELECT prof.doc_id, n_grams, coalesce(n_shared_grams, 0) AS n_shared_grams, " +
      "(coalesce(n_shared_grams, 0) > 0) AS leaked " +
      "FROM prof LEFT JOIN sh USING (doc_id)"
  }

  /** Heaps'-law fit (Heaps 1978): vocabulary growth `V = K·N^β` fitted
    * in log-log across the per-source (token-count, vocab-size) points —
    * the capacity-planning signal for tokenizer/vocab sizing: β ≈ 0.5
    * says vocabulary doubles per 4× corpus growth; β drifting toward 1
    * says the "vocabulary" is IDs/noise and dedup or normalization is
    * failing upstream.
    *
    * Exactness: per-source token/vocab counts are exact integers; the
    * regression runs over the SOURCE frame (domain-bounded) as a
    * source-ordered cumsum of (x, y, x², xy) with x = ln N, y = ln V
    * (ln precedent), then one closed-form tree for β / ln K / r².
    *
    * Scale shape: one corpus explode → map-side-combined (source, term)
    * distinct → source-frame counts; the fold never sees corpus rows. */
  def heapsLaw(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(groupCol).as("g"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val nTok = toks.groupBy("g").agg(count(lit(1)).as("n_tokens"))
    val nVoc = toks.select("g", "term").distinct()
      .groupBy("g").agg(count(lit(1)).as("n_vocab"))
    val pts = nTok.join(nVoc, Seq("g"))
      .select(col("g"), log(col("n_tokens").cast("double")).as("x"),
        log(col("n_vocab").cast("double")).as("y"))
    val ord = W.orderBy("g")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    val folded = pts
      .withColumn("sx", sum(col("x")).over(cum))
      .withColumn("sy", sum(col("y")).over(cum))
      .withColumn("sxx", sum(col("x") * col("x")).over(cum))
      .withColumn("syy", sum(col("y") * col("y")).over(cum))
      .withColumn("sxy", sum(col("x") * col("y")).over(cum))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nc", count(lit(1)).over())
      .filter(col("rn") === col("nc"))
    val nD = col("nc").cast("double")
    val num = nD * col("sxy") - col("sx") * col("sy")
    val den = nD * col("sxx") - col("sx") * col("sx")
    val deny = nD * col("syy") - col("sy") * col("sy")
    folded.select(col("nc").cast("long").as("n_sources"),
      when(den > 0.0, round(num / den, 6)).as("beta"),
      when(den > 0.0, round((col("sy") - (num / den) * col("sx")) / nD, 6))
        .as("ln_k"),
      when(den > 0.0 && deny > 0.0, round((num * num) / (den * deny), 6))
        .as("r2"))
  }

  /** DuckDB oracle for [[heapsLaw]] — identical counts, ordered fold and
    * closed-form tree. */
  def heapsLawSql(table: String, groupExpr: String, textCol: String): String = {
    val toksExpr = TextFunctions.tokensSql(textCol)
    "WITH toks AS (SELECT " + groupExpr + " AS g, unnest(" + toksExpr + ") AS term " +
      s"FROM $table), " +
      "nt AS (SELECT g, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY g), " +
      "nv AS (SELECT g, CAST(count(*) AS BIGINT) AS n_vocab FROM " +
      "(SELECT DISTINCT g, term FROM toks) dt GROUP BY g), " +
      "pts AS (SELECT nt.g, ln(CAST(n_tokens AS DOUBLE)) AS x, " +
      "ln(CAST(n_vocab AS DOUBLE)) AS y FROM nt JOIN nv ON nt.g = nv.g), " +
      "f AS (SELECT " +
      "sum(x) OVER w AS sx, sum(y) OVER w AS sy, sum(x * x) OVER w AS sxx, " +
      "sum(y * y) OVER w AS syy, sum(x * y) OVER w AS sxy, " +
      "row_number() OVER (ORDER BY g) AS rn, count(*) OVER () AS nc FROM pts " +
      "WINDOW w AS (ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
      "c AS (SELECT CAST(nc AS BIGINT) AS n_sources, CAST(nc AS DOUBLE) AS nd, " +
      "sx, sy, sxx, syy, sxy FROM f WHERE rn = nc) " +
      "SELECT n_sources, " +
      "CASE WHEN (nd * sxx - sx * sx) > 0.0 THEN " +
      "round((nd * sxy - sx * sy) / (nd * sxx - sx * sx), 6) END AS beta, " +
      "CASE WHEN (nd * sxx - sx * sx) > 0.0 THEN " +
      "round((sy - ((nd * sxy - sx * sy) / (nd * sxx - sx * sx)) * sx) / nd, 6) END AS ln_k, " +
      "CASE WHEN (nd * sxx - sx * sx) > 0.0 AND (nd * syy - sy * sy) > 0.0 THEN " +
      "round(((nd * sxy - sx * sy) * (nd * sxy - sx * sy)) / " +
      "((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6) END AS r2 " +
      "FROM c"
  }

  /** N-gram novelty score: per document, the fraction of its DISTINCT
    * n-grams that appear in NO other document (document frequency 1) —
    * the inverse-redundancy curation signal: low novelty means the doc
    * is assembled from corpus-common phrasing (boilerplate / near-dup
    * territory even when no single pair-level match fires); high
    * novelty is where new information lives. Complements q_rep_ratio
    * (WITHIN-doc repetition) with the ACROSS-corpus view.
    *
    * Scale shape: one explode into distinct (doc, gram-hash) via the
    * native sorted-n-gram kernel, one map-side-combined df count on the
    * gram key, one gram-keyed join back — the exact-dedup shape; per-doc
    * reduce is map-side-combined integer counts + one division tree. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 5): DataFrame = PB.scoped {
    val grams = df.select(col(idCol).as("doc_id"),
        explode(TextFunctions.ngramHashes(col(textCol), n)).as("g"))
      .distinct()
      .transform(PB.localCheckpoint) // df count + join back both read it
    val dfreq = grams.groupBy("g").agg(count(lit(1)).as("df"))
    grams.join(dfreq, Seq("g"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_unique"))
      .withColumn("novelty", round(
        col("n_unique").cast("double") / col("n_grams").cast("double"), 6))
  }

  /** DuckDB oracle for [[ngramNovelty]] — identical distinct gram sets
    * (strings vs kernel hashes: the q_decontaminate equivalence), df
    * counts and tree. */
  def ngramNoveltySql(table: String, idExpr: String, textCol: String,
                      n: Int = 5): String = {
    val grams = TextFunctions.ngramsSql(TextFunctions.tokensSql(textCol), n)
    s"WITH g AS (SELECT DISTINCT $idExpr AS doc_id, unnest($grams) AS g " +
      s"FROM $table), " +
      "dfq AS (SELECT g, CAST(count(*) AS BIGINT) AS df FROM g GROUP BY g) " +
      "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams, " +
      "CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique, " +
      "round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE), 6) AS novelty " +
      "FROM g JOIN dfq USING (g) GROUP BY doc_id"
  }

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, the
    * published heuristic gate most curation stacks run before any model
    * scorer): per-document boolean flags for
    *  - word count within [minWords, maxWords],
    *  - mean word length within [3, 10] characters,
    *  - at least `minStops` stop-word occurrences,
    *  - most-frequent-word fraction ≤ repPctCap % (the repetition gate),
    * and the conjunction `pass`. Returning per-RULE flags (not just the
    * verdict) is the operational form — rule-level reject histograms are
    * how thresholds get tuned.
    *
    * Every rule is integer arithmetic: the two rational thresholds
    * compare CROSS-MULTIPLIED (`3·n_tok ≤ n_alpha ≤ 10·n_tok`;
    * `100·max_tf ≤ repPctCap·n_tok`), so no float ever forms and the
    * flags are exact on any engine. Zero-shuffle narrow scan: the
    * max-tf probe runs inside the row as a bounded array fold (docs are
    * token-bounded by the upstream chunker), so the gate scales like a
    * filter. */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 20, maxWords: Long = 80,
                  stops: Seq[String] = Seq("the", "a"), minStops: Long = 2,
                  repPctCap: Long = 15): DataFrame =
    withRuleFlags(df.select(col(idCol),
        TextFunctions.tokens(col(textCol)).as("_t"),
        length(col(textCol)).as("_nch")),
        minWords, maxWords, stops, minStops, repPctCap)
      .select(col(idCol) +: ruleFlagCols: _*)

  /** The [[gopherRules]] flag tree over `_t` (tokens) and `_nch` (text
    * length): adds `n_tok`, the four `r_*` rule flags and `pass`. The
    * one definition both [[gopherRules]] and [[clfRuleGates]] run. */
  private def withRuleFlags(df: DataFrame, minWords: Long = 20,
                            maxWords: Long = 80,
                            stops: Seq[String] = Seq("the", "a"),
                            minStops: Long = 2,
                            repPctCap: Long = 15): DataFrame = {
    val stopList = stops.map(s => s"'$s'").mkString(", ")
    df.withColumn("n_tok", size(col("_t")).cast("long"))
      .withColumn("_nstop",
        expr(s"CAST(size(filter(_t, t -> t IN ($stopList))) AS BIGINT)"))
      .withColumn("_maxtf",
        expr("CAST(array_max(transform(array_distinct(_t), " +
          "t -> size(filter(_t, x -> x = t)))) AS BIGINT)"))
      // single-space-joined text: total token chars = n_chars - (n_tok-1)
      .withColumn("_ntc", col("_nch").cast("long") - (col("n_tok") - 1))
      .withColumn("r_word_count",
        col("n_tok") >= minWords && col("n_tok") <= maxWords)
      .withColumn("r_mean_word_len",
        lit(3L) * col("n_tok") <= col("_ntc") &&
          col("_ntc") <= lit(10L) * col("n_tok"))
      .withColumn("r_stopwords", col("_nstop") >= minStops)
      .withColumn("r_repetition",
        lit(100L) * col("_maxtf") <= lit(repPctCap) * col("n_tok"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_stopwords") && col("r_repetition"))
  }

  private def ruleFlagCols: Seq[Column] =
    Seq("n_tok", "r_word_count", "r_mean_word_len", "r_stopwords",
      "r_repetition", "pass").map(col)

  /** DuckDB oracle for [[gopherRules]] — identical integer rule tree. */
  def gopherRulesSql(table: String, idExpr: String, textExpr: String,
                     minWords: Long = 20, maxWords: Long = 80,
                     stops: Seq[String] = Seq("the", "a"), minStops: Long = 2,
                     repPctCap: Long = 15): String = {
    val toks = TextFunctions.tokensSql(textExpr)
    val stopList = stops.map(s => s"'$s'").mkString(", ")
    s"WITH t AS (SELECT $idExpr AS doc_id, " +
      s"CAST(len($toks) AS BIGINT) AS n_tok, " +
      s"CAST(len(list_filter($toks, t -> t IN ($stopList))) AS BIGINT) AS nstop, " +
      s"CAST(list_max(list_transform(list_distinct($toks), " +
      s"t -> len(list_filter($toks, x -> x = t)))) AS BIGINT) AS maxtf, " +
      s"CAST(length($textExpr) AS BIGINT) - (CAST(len($toks) AS BIGINT) - 1) AS ntc " +
      s"FROM $table) " +
      s"SELECT doc_id, n_tok, " +
      s"(n_tok >= $minWords AND n_tok <= $maxWords) AS r_word_count, " +
      s"(3 * n_tok <= ntc AND ntc <= 10 * n_tok) AS r_mean_word_len, " +
      s"(nstop >= $minStops) AS r_stopwords, " +
      s"(100 * maxtf <= $repPctCap * n_tok) AS r_repetition, " +
      s"((n_tok >= $minWords AND n_tok <= $maxWords) AND " +
      s"(3 * n_tok <= ntc AND ntc <= 10 * n_tok) AND (nstop >= $minStops) AND " +
      s"(100 * maxtf <= $repPctCap * n_tok)) AS pass FROM t"
  }

  /** BOTH quality gates ([[gopherRules]] flags + [[clfMarginFilter]]
    * margin) evaluated in ONE corpus scan (r19): the rule flags and the
    * classifier margin are per-row expressions of the same text, so
    * joining two separate scans on doc_id — the r18 shape under
    * q_brier/q_clf_calibration/q_cohens_kappa/q_mcnemar/q_cascade_yield —
    * paid a second scan + tokenization + a corpus-keyed join for columns
    * one projection carries. Both gates run at their default
    * thresholds through the same builders ([[withMargin]],
    * [[withRuleFlags]]) as the single-gate operators, so values are
    * identical; the declared oracles keep their two-CTE join (values
    * equal). `carryCols` lets a caller ride extra input columns (e.g.
    * the source key) through the same scan. */
  private[graft] def clfRuleGates(df: DataFrame, idCol: String,
                                  textCol: String,
                                  carryCols: Seq[String] = Nil): DataFrame =
    withRuleFlags(withMargin(df.select(col(idCol) +: carryCols.map(col) ++:
        Seq(TextFunctions.tokens(col(textCol)).as("_t"),
          TextFunctions.tokenCodes(col(textCol)).as("_codes"),
          length(col(textCol)).as("_nch")): _*)))
      .select(col(idCol) +: carryCols.map(col) ++:
        Seq(col("margin"), col("keep")) ++: ruleFlagCols: _*)

  /** Hashed linear-classifier margin filter (the fastText-style quality
    * classifier gate — GPT-3/LLaMA-lineage curation runs one after the
    * heuristic rules): score(doc) = Σ_tokens w[h(token) mod D], keep
    * docs with margin > 0. Weights here are a deterministic pseudo-model
    * derived from the bucket index (`(b·2654435761) mod 1999 − 999` —
    * Knuth multiplicative mixing); swapping in TRAINED weights is a
    * broadcast array of the same shape. All-integer scoring ⇒
    * hash-exact.
    *
    * Scale shape: zero-shuffle narrow scan — token codes come from the
    * native one-pass expression, the weight lookup is arithmetic on the
    * code (no vocabulary, no join), so the gate runs at filter cost and
    * the model never shuffles. */
  def clfMarginFilter(df: DataFrame, idCol: String, textCol: String,
                      nBuckets: Long = 64): DataFrame =
    withMargin(df.select(col(idCol),
        TextFunctions.tokenCodes(col(textCol)).as("_codes")), nBuckets)
      .select(col(idCol), col("margin"), col("keep"))

  /** The [[clfMarginFilter]] weight fold over `_codes` (token codes):
    * adds `margin` and `keep`. The one definition both
    * [[clfMarginFilter]] and [[clfRuleGates]] run. */
  private def withMargin(df: DataFrame, nBuckets: Long = 64): DataFrame =
    df.withColumn("margin",
        expr(s"aggregate(_codes, CAST(0 AS BIGINT), " +
          s"(acc, c) -> acc + ((c % $nBuckets) * 2654435761 % 1999 - 999))"))
      .withColumn("keep", col("margin") > 0L)

  /** DuckDB oracle for [[clfMarginFilter]] — identical fold. */
  def clfMarginFilterSql(table: String, idExpr: String, textExpr: String,
                         nBuckets: Long = 64): String = {
    val codes = TextFunctions.tokenCodesSql(textExpr)
    s"SELECT $idExpr AS doc_id, " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
      s"(acc, c) -> acc + ((c % $nBuckets) * 2654435761 % 1999 - 999)) AS margin, " +
      s"(list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
      s"(acc, c) -> acc + ((c % $nBuckets) * 2654435761 % 1999 - 999)) > 0) AS keep " +
      s"FROM $table"
  }

  /** Content-defined-chunking dedup profile (the rsync/LBFS cut rule —
    * the shift-resistant dedup primitive for BLOB-shaped payloads, where
    * fixed blocks (q_block_dedup) lose alignment after one insertion):
    * documents cut into variable chunks wherever the rolling w-char hash
    * hits the mask, then a corpus-wide chunk index reports, per doc, how
    * many of its chunks also occur in OTHER documents. `total_len`
    * reconstructs n_chars exactly (cuts partition the text — conserved,
    * spec-asserted).
    *
    * Scale shape: the native one-pass kernel emits chunk codes in the
    * scan stage (no per-char closure); ONE explode → (doc, code) counts
    * (map-side combined), one code-keyed join against the chunk index —
    * the exact-dedup shape at chunk granularity. Chunk code =
    * hash·2^20+len, so length stats need no second text scan. */
  def cdcChunkProfile(df: DataFrame, idCol: String, textCol: String,
                      window: Int = 8, maskBits: Int = 5): DataFrame = {
    val ex = df.select(col(idCol).as("doc_id"),
        explode(TextFunctions.cdcChunkCodes(col(textCol), window, maskBits))
          .as("code"))
    val pcd = ex.groupBy("doc_id", "code").agg(count(lit(1)).as("k"))
    val byc = pcd.groupBy("code").agg(count(lit(1)).as("n_docs"))
    pcd.join(byc, Seq("code"))
      .groupBy("doc_id")
      .agg(sum(col("k")).as("n_chunks"),
        count(lit(1)).as("distinct_chunks"),
        sum(col("k") * (col("code") % 1048576L)).as("total_len"),
        max(col("code") % 1048576L).as("max_chunk_len"),
        sum(when(col("n_docs") >= 2, col("k")).otherwise(0L))
          .as("shared_chunks"))
  }

  /** DuckDB oracle for [[cdcChunkProfile]] — identical staged cut lists,
    * identical explode/count/join chain. */
  def cdcChunkProfileSql(table: String, idExpr: String, textCol: String,
                         window: Int = 8, maskBits: Int = 5): String =
    s"WITH ch AS MATERIALIZED (${TextFunctions.cdcChunkCodesSql(
      table, idExpr, textCol, window, maskBits)}), " +
      "ex AS (SELECT doc_id, unnest(codes) AS code FROM ch), " +
      "pcd AS (SELECT doc_id, code, CAST(count(*) AS BIGINT) AS k " +
      "FROM ex GROUP BY doc_id, code), " +
      "byc AS (SELECT code, CAST(count(*) AS BIGINT) AS n_docs " +
      "FROM pcd GROUP BY code) " +
      "SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_chunks, " +
      "CAST(count(*) AS BIGINT) AS distinct_chunks, " +
      "CAST(sum(k * (code % 1048576)) AS BIGINT) AS total_len, " +
      "CAST(max(code % 1048576) AS BIGINT) AS max_chunk_len, " +
      "CAST(sum(CASE WHEN n_docs >= 2 THEN k ELSE 0 END) AS BIGINT) AS shared_chunks " +
      "FROM pcd JOIN byc USING (code) GROUP BY doc_id"

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection via
    * Importance Resampling"): per document, the average log-likelihood
    * RATIO between a TARGET unigram LM (built from the in-domain subset)
    * and the RAW LM (built from the whole corpus) —
    * `logw = Σ tf·(ln p_t − ln p_r) / n_tok`, add-1 smoothed over the
    * full vocabulary so target-unseen terms stay finite. Positive means
    * the doc looks more like the target domain than the raw pool; sample
    * ∝ exp(logw) to tilt the mix (q_weighted_sample downstream).
    *
    * Scale shape: the corpus explodes ONCE into (doc, term, tf); both LMs
    * are term-keyed aggregates of that same frame (the target one just
    * filter-reduced), vocabulary-bounded so they broadcast back; the
    * corpus never shuffles on the term key. The per-doc float reduction
    * is the repo's ordered-cumsum portability pattern (unigramNll), so
    * weights hash-verify. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetFilter: Column): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.select(col(idCol).as("doc_id"), targetFilter.as("_tgt"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), max(col("_tgt")).as("_tgt"))
      .transform(PB.localCheckpoint) // exploded once; both LMs and the scorer reuse it
    val vocabR = tf.groupBy("term").agg(sum(col("tf")).as("cnt_r"))
    val vocabT = tf.filter(col("_tgt")).groupBy("term")
      .agg(sum(col("tf")).as("cnt_t"))
    val vocab = vocabR.join(vocabT, Seq("term"), "left")
      .withColumn("cnt_t", coalesce(col("cnt_t"), lit(0L)))
    val tot = vocab.agg(sum(col("cnt_r")).as("tot_r"),
      sum(col("cnt_t")).as("tot_t"), count(lit(1)).as("v"))
    val w = W.partitionBy("doc_id").orderBy("term")
    val cum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    tf.join(broadcast(vocab), "term")
      .crossJoin(broadcast(tot))
      .withColumn("lr",
        (log((col("cnt_t") + 1).cast("double") / (col("tot_t") + col("v")).cast("double")) -
          log((col("cnt_r") + 1).cast("double") / (col("tot_r") + col("v")).cast("double"))) *
          col("tf"))
      .withColumn("cum_lr", sum(col("lr")).over(cum))
      .withColumn("cum_tf", sum(col("tf")).over(cum))
      .withColumn("rn", row_number().over(w))
      .withColumn("nt", count(lit(1)).over(W.partitionBy("doc_id")))
      .filter(col("rn") === col("nt"))
      .select(col("doc_id"), col("cum_tf").as("n_tok"),
        round(col("cum_lr") / col("cum_tf"), 6).as("logw"))
  }

  /** DuckDB oracle for [[dsirWeights]] — identical CTEs, identical
    * ordered fold. `targetExpr` must mirror the Spark targetFilter. */
  def dsirWeightsSql(table: String, idExpr: String, textExpr: String,
                     targetExpr: String): String = {
    val toks = TextFunctions.tokensSql(textExpr)
    s"WITH toks AS (SELECT $idExpr AS doc_id, $targetExpr AS tgt, " +
      s"unnest($toks) AS term FROM $table), " +
      "tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf, " +
      "max(tgt) AS tgt FROM toks GROUP BY doc_id, term), " +
      "vr AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt_r FROM tf GROUP BY term), " +
      "vt AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt_t FROM tf " +
      "WHERE tgt GROUP BY term), " +
      "vocab AS (SELECT vr.term, cnt_r, coalesce(cnt_t, 0) AS cnt_t " +
      "FROM vr LEFT JOIN vt ON vr.term = vt.term), " +
      "tot AS (SELECT CAST(sum(cnt_r) AS BIGINT) AS tot_r, " +
      "CAST(sum(cnt_t) AS BIGINT) AS tot_t, CAST(count(*) AS BIGINT) AS v FROM vocab), " +
      "sc AS (SELECT doc_id, term, tf, " +
      "(ln(CAST(cnt_t + 1 AS DOUBLE) / CAST(tot_t + v AS DOUBLE)) - " +
      "ln(CAST(cnt_r + 1 AS DOUBLE) / CAST(tot_r + v AS DOUBLE))) * tf AS lr " +
      "FROM tf JOIN vocab USING (term) CROSS JOIN tot), " +
      "cum AS (SELECT doc_id, " +
      "sum(lr) OVER (PARTITION BY doc_id ORDER BY term " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_lr, " +
      "CAST(sum(tf) OVER (PARTITION BY doc_id ORDER BY term " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tf, " +
      "row_number() OVER (PARTITION BY doc_id ORDER BY term) AS rn, " +
      "count(*) OVER (PARTITION BY doc_id) AS nt FROM sc) " +
      "SELECT doc_id, cum_tf AS n_tok, round(cum_lr / cum_tf, 6) AS logw " +
      "FROM cum WHERE rn = nt"
  }

  // patterns shared by BOTH engines (RE2 ∩ java.util.regex subset, the
  // seqMatch convention): declared once so the operator and its oracle
  // cannot desynchronize
  val PiiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+"
  val PiiDigitRunRe = "[0-9]{6,}"

  /** Per-source PII exposure audit — the release gate q_redact's
    * per-document scrub needs upstream: BEFORE deciding to redact,
    * measure how much redaction each source would need (a source with
    * heavy email/long-digit density gets routed to the scrub or dropped;
    * a clean one skips the rewrite pass entirely). Counts are exact
    * integers over lowercased text; densities are per-KILOCHAR (source
    * sizes differ by orders of magnitude, so per-doc rates mislead).
    *
    * Scale shape: zero-shuffle narrow scan (regexp_count is codegen'd),
    * one map-side-combined source collapse — audit costs a filter. */
  def piiDensity(df: DataFrame, sourceCol: String, textCol: String): DataFrame =
    df.select(col(sourceCol).as("source"),
        length(col(textCol)).cast("long").as("nch"),
        regexp_count(lower(col(textCol)), lit(PiiEmailRe)).cast("long").as("ne"),
        regexp_count(col(textCol), lit(PiiDigitRunRe)).cast("long").as("nd"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("nch")).as("n_chars"),
        sum(col("ne")).as("n_emails"), sum(col("nd")).as("n_digit_runs"))
      .select(col("source"), col("n_docs"), col("n_emails"), col("n_digit_runs"),
        round(col("n_emails").cast("double") * 1000.0 /
          col("n_chars").cast("double"), 6).as("emails_per_kchar"),
        round(col("n_digit_runs").cast("double") * 1000.0 /
          col("n_chars").cast("double"), 6).as("digit_runs_per_kchar"))
      .orderBy("source")

  /** DuckDB oracle for [[piiDensity]] — identical patterns and trees. */
  def piiDensitySql(table: String, sourceExpr: String, textExpr: String): String =
    s"WITH d AS (SELECT $sourceExpr AS source, " +
      s"CAST(length($textExpr) AS BIGINT) AS nch, " +
      s"CAST(len(regexp_extract_all(lower($textExpr), '$PiiEmailRe')) AS BIGINT) AS ne, " +
      s"CAST(len(regexp_extract_all($textExpr, '$PiiDigitRunRe')) AS BIGINT) AS nd " +
      s"FROM $table), " +
      "m AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(nch) AS BIGINT) AS n_chars, CAST(sum(ne) AS BIGINT) AS n_emails, " +
      "CAST(sum(nd) AS BIGINT) AS n_digit_runs FROM d GROUP BY source) " +
      "SELECT source, n_docs, n_emails, n_digit_runs, " +
      "round(CAST(n_emails AS DOUBLE) * 1000.0 / CAST(n_chars AS DOUBLE), 6) AS emails_per_kchar, " +
      "round(CAST(n_digit_runs AS DOUBLE) * 1000.0 / CAST(n_chars AS DOUBLE), 6) AS digit_runs_per_kchar " +
      "FROM m ORDER BY source"

  /** Capitalized-token pattern (the entity-mention heuristic). */
  val EntityRe = "[A-Z][a-z]{2,}"

  /** Per-source entity-mention profile (capitalized-token heuristic —
    * the no-model stand-in for NER): mention volume, distinct surface
    * forms, and mentions-per-kilotoken. The curation read: a source
    * whose mention density collapses is template/log noise; one whose
    * DISTINCT form count stays flat while volume grows is spinning the
    * same entities (SEO farms).
    *
    * Scale shape: one extract-all + explode into a map-side-combined
    * (source, form) collapse, then the source rollup — the tfidf explode
    * shape without the per-doc window. */
  def entityMentions(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val base = df.select(col(sourceCol).as("source"),
      expr(s"regexp_extract_all($textCol, '$EntityRe', 0)").as("_ms"),
      size(split(col(textCol), " ")).cast("long").as("ntok"))
    val perForm = base
      .select(col("source"), explode(col("_ms")).as("form"))
      .groupBy("source", "form").agg(count(lit(1)).as("k"))
      .groupBy("source")
      .agg(sum(col("k")).as("n_mentions"), count(lit(1)).as("n_forms"))
    val toks = base.groupBy("source").agg(sum(col("ntok")).as("n_tokens"))
    toks.join(perForm, Seq("source"), "left")
      .select(col("source"), col("n_tokens"),
        coalesce(col("n_mentions"), lit(0L)).as("n_mentions"),
        coalesce(col("n_forms"), lit(0L)).as("n_forms"),
        round(coalesce(col("n_mentions"), lit(0L)).cast("double") * 1000.0 /
          col("n_tokens").cast("double"), 6).as("mentions_per_ktok"))
      .orderBy("source")
  }

  /** DuckDB oracle for [[entityMentions]] — identical pattern, explode
    * and rollups. */
  def entityMentionsSql(table: String, sourceExpr: String, textExpr: String): String =
    s"WITH base AS (SELECT $sourceExpr AS source, " +
      s"regexp_extract_all($textExpr, '$EntityRe') AS ms, " +
      s"CAST(len(string_split($textExpr, ' ')) AS BIGINT) AS ntok FROM $table), " +
      "pf AS (SELECT source, unnest(ms) AS form FROM base), " +
      "fc AS (SELECT source, form, count(*) AS k FROM pf GROUP BY source, form), " +
      "pm AS (SELECT source, CAST(sum(k) AS BIGINT) AS n_mentions, " +
      "CAST(count(*) AS BIGINT) AS n_forms FROM fc GROUP BY source), " +
      "tk AS (SELECT source, CAST(sum(ntok) AS BIGINT) AS n_tokens FROM base GROUP BY source) " +
      "SELECT tk.source, tk.n_tokens, coalesce(pm.n_mentions, 0) AS n_mentions, " +
      "coalesce(pm.n_forms, 0) AS n_forms, " +
      "round(CAST(coalesce(pm.n_mentions, 0) AS DOUBLE) * 1000.0 / " +
      "CAST(tk.n_tokens AS DOUBLE), 6) AS mentions_per_ktok " +
      "FROM tk LEFT JOIN pm ON tk.source = pm.source ORDER BY tk.source"

  /** Calibration audit of the classifier gate against the rule gate
    * (reliability table → expected-calibration-error terms): per
    * confidence decile of `sigmoid(clf margin / 1000)`, the classifier's
    * mean confidence vs the FRACTION of docs the Gopher rules actually
    * pass. The curation read: a well-calibrated cheap classifier can
    * replace the rule cascade at scan cost; a bin with a large gap says
    * which confidence region still needs the rules. |gap| weighted by
    * bin mass is the ECE.
    *
    * Exactness: margins and pass labels are exact integers; the bin's
    * mean confidence folds through the blockTotal FIXED TREE (the q_twa
    * r12 pattern — see the scale note): per (bin, blk) an ordered
    * cumsum-take-last in doc order, then a per-bin fold over the
    * ≤ [[ClfFoldBlocks]] block partials in blk order. The tree is fixed
    * by VALUES (blk = portable hash of the id), so the double sum is
    * reproducible and the oracle mirrors it term for term. Sigmoid's
    * exp differs across libms by an ulp, absorbed by round 6 (the
    * unigramNll precedent).
    *
    * Scale shape (r13 — the r12 form ran the ordered fold over
    * corpus/10 rows of a bin in ONE window task, the declared funnel
    * the window board gate exempted by name; 30–38× at sf1): both
    * gates are zero-shuffle narrow scans; integer counts/labels are
    * plain map-side-combined aggregates; the float fold is
    * bin×[[ClfFoldBlocks]]-way parallel at stage 1 and reads ≤
    * ClfFoldBlocks rows per bin at stage 2; output ≤ 10 rows. */
  def clfCalibration(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val scored = clfGateScores(df, idCol, textCol)
      .withColumn("conf",
        lit(1.0) / (lit(1.0) + exp(col("margin").cast("double") / -1000.0)))
      .withColumn("bin", least(floor(col("conf") * 10.0).cast("long"), lit(9L)))
      .withColumn("blk",
        pmod(graft.functions.TextFunctions.charHash(col(idCol).cast("string")),
          lit(ClfFoldBlocks)))
    // exact integers: partitioning-invariant plain aggregates
    val ints = scored.groupBy("bin")
      .agg(count(lit(1)).as("nc"), sum(col("label")).as("lab"))
    // fixed float tree, stage 1: per-(bin, blk) ordered cumsum take-last
    val wBlk = W.partitionBy("bin", "blk").orderBy(idCol)
    val partials = scored
      .withColumn("cum", sum(col("conf"))
        .over(wBlk.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rn", row_number().over(wBlk))
      .withColumn("nb", count(lit(1)).over(W.partitionBy("bin", "blk")))
      .filter(col("rn") === col("nb"))
      .select(col("bin"), col("blk"), col("cum"))
    // stage 2: per-bin fold over <= ClfFoldBlocks partials in blk order
    val wFold = W.partitionBy("bin").orderBy("blk")
    val conf = partials
      .withColumn("cc", sum(col("cum"))
        .over(wFold.rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("rn", row_number().over(wFold))
      .withColumn("ncb", count(lit(1)).over(W.partitionBy("bin")))
      .filter(col("rn") === col("ncb"))
      .select(col("bin"), col("cc"))
    ints.join(conf, Seq("bin"))
      .select(col("bin"), col("nc").as("n_docs"),
        round(col("cc") / col("nc").cast("double"), 6).as("avg_conf"),
        round(col("lab").cast("double") / col("nc").cast("double"), 6)
          .as("pass_rate"),
        round(abs(col("cc") / col("nc").cast("double") -
          col("lab").cast("double") / col("nc").cast("double")), 6)
          .as("gap"))
      .orderBy("bin")
  }

  /** Block count for the clfCalibration / brierDecomposition fixed float
    * trees — 256 (not the twa 512) keeps the worst-case stage-2 frame
    * (10 bins × 256 partials) below the sf0.1 corpus floor the window
    * board gate checks against, while still giving bin×256-way stage-1
    * parallelism. */
  val ClfFoldBlocks: Long = 256L

  /** DuckDB oracle for [[clfCalibration]] — identical margin fold, rule
    * tree, sigmoid, binning and the IDENTICAL fixed block fold tree
    * (the timeWeightedAvgSql convention). */
  def clfCalibrationSql(table: String, idExpr: String, textExpr: String): String = {
    val codes = graft.functions.TextFunctions.tokenCodesSql(textExpr)
    val toks = graft.functions.TextFunctions.tokensSql(textExpr)
    s"WITH m AS (SELECT $idExpr AS doc_id, " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
      "(acc, c) -> acc + ((c % 64) * 2654435761 % 1999 - 999)) AS margin " +
      s"FROM $table), " +
      s"g AS (SELECT $idExpr AS doc_id, " +
      s"CAST(len($toks) AS BIGINT) AS n_tok, " +
      s"CAST(len(list_filter($toks, t -> t IN ('the', 'a'))) AS BIGINT) AS nstop, " +
      s"CAST(list_max(list_transform(list_distinct($toks), " +
      s"t -> len(list_filter($toks, x -> x = t)))) AS BIGINT) AS maxtf, " +
      s"CAST(length($textExpr) AS BIGINT) - (CAST(len($toks) AS BIGINT) - 1) AS ntc " +
      s"FROM $table), " +
      "lab AS (SELECT doc_id, CASE WHEN (n_tok >= 20 AND n_tok <= 80) AND " +
      "(3 * n_tok <= ntc AND ntc <= 10 * n_tok) AND (nstop >= 2) AND " +
      "(100 * maxtf <= 15 * n_tok) THEN 1 ELSE 0 END AS label FROM g), " +
      "sc AS (SELECT m.doc_id, " +
      "1.0 / (1.0 + exp(CAST(m.margin AS DOUBLE) / -1000.0)) AS conf, " +
      "lab.label FROM m JOIN lab ON m.doc_id = lab.doc_id), " +
      "b AS (SELECT doc_id, conf, label, " +
      "least(CAST(floor(conf * 10.0) AS BIGINT), 9) AS bin, " +
      s"(${graft.functions.TextFunctions.charHashSql("CAST(doc_id AS VARCHAR)")}) " +
      s"% $ClfFoldBlocks AS blk FROM sc), " +
      "ints AS (SELECT bin, CAST(count(*) AS BIGINT) AS nc, " +
      "CAST(sum(label) AS BIGINT) AS lab FROM b GROUP BY bin), " +
      "p AS (SELECT bin, blk, cum FROM (SELECT bin, blk, " +
      "sum(conf) OVER (PARTITION BY bin, blk ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (PARTITION BY bin, blk ORDER BY doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY bin, blk) AS nb FROM b) z WHERE rn = nb), " +
      "f AS (SELECT bin, cc FROM (SELECT bin, " +
      "sum(cum) OVER (PARTITION BY bin ORDER BY blk " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc, " +
      "row_number() OVER (PARTITION BY bin ORDER BY blk) AS rn, " +
      "count(*) OVER (PARTITION BY bin) AS ncb FROM p) z WHERE rn = ncb) " +
      "SELECT ints.bin, ints.nc AS n_docs, " +
      "round(f.cc / CAST(ints.nc AS DOUBLE), 6) AS avg_conf, " +
      "round(CAST(ints.lab AS DOUBLE) / CAST(ints.nc AS DOUBLE), 6) AS pass_rate, " +
      "round(abs(f.cc / CAST(ints.nc AS DOUBLE) - " +
      "CAST(ints.lab AS DOUBLE) / CAST(ints.nc AS DOUBLE)), 6) AS gap " +
      "FROM ints JOIN f ON ints.bin = f.bin ORDER BY ints.bin"
  }

  /** Jensen-Shannon divergence per group against the corpus — the
    * SYMMETRIC, bounded (<= ln 2) sibling of [[klDrift]]: KL explodes
    * when a group has mass where the corpus is thin (good alarm, bad
    * dashboard number); JSD = 0.5 KL(P||M) + 0.5 KL(Q||M) with
    * M = (P+Q)/2 stays finite and comparable across groups — the mix
    * designer's drift score. Identical smoothed top-V + other-bucket
    * grid as klDrift (same counts frame shape, same ordered fold), so
    * the two drift scores are computed over the same vocabulary slice
    * and can sit side by side.
    *
    * Output: (group, n_tokens, jsd_nats). */
  def jsDrift(df: DataFrame, groupCol: String, textCol: String,
              topV: Int = 200, alpha: Double = 0.5): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val toks = df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("grp"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
    val gCnt = toks.groupBy("grp", "term").agg(count(lit(1)).as("gc"))
      .transform(PB.localCheckpoint)
    val cnt = gCnt.groupBy("term").agg(sum(col("gc")).as("c"))
      .transform(PB.localCheckpoint)
    val top = cnt.orderBy(col("c").desc, col("term")).limit(topV)
      .withColumn("rank",
        row_number().over(W.orderBy(col("c").desc, col("term"))))
      .transform(PB.localCheckpoint)
    val consts = top.agg(count(lit(1)).as("vn"), sum(col("c")).as("topc"))
      .crossJoin(cnt.agg(sum(col("c")).as("bign")))
      .transform(PB.localCheckpoint)
    val gTot = gCnt.groupBy("grp").agg(sum(col("gc")).as("n_tokens"))
    val grid = gTot.crossJoin(broadcast(top))
      .join(gCnt, Seq("grp", "term"), "left")
      .na.fill(0L, Seq("gc"))
    val gTop = grid.groupBy("grp").agg(sum(col("gc")).as("gtopc"))
    val other = gTot.join(gTop, "grp")
      .crossJoin(broadcast(consts))
      .select(col("grp"), col("n_tokens"),
        (col("vn") + 1).cast("int").as("rank"),
        (col("n_tokens") - col("gtopc")).as("gc"),
        (col("bign") - col("topc")).as("c"))
    val cells = grid.select(col("grp"), col("n_tokens"), col("rank"),
        col("gc"), col("c"))
      .unionByName(other)
      .crossJoin(broadcast(consts.select(col("vn"), col("bign"))))
    val vp1 = (col("vn") + 1).cast("double")
    val p = (col("gc").cast("double") + lit(alpha)) /
      (col("n_tokens").cast("double") + lit(alpha) * vp1)
    val q = (col("c").cast("double") + lit(alpha)) /
      (col("bign").cast("double") + lit(alpha) * vp1)
    val m = (p + q) / lit(2.0)
    val ord = W.partitionBy("grp").orderBy("rank")
    val cum = ord.rowsBetween(W.unboundedPreceding, W.currentRow)
    cells.withColumn("cell",
        lit(0.5) * p * log(p / m) + lit(0.5) * q * log(q / m))
      .withColumn("cum", sum(col("cell")).over(cum))
      .withColumn("rn", row_number().over(ord))
      .withColumn("nc", count(lit(1)).over(W.partitionBy("grp")))
      .filter(col("rn") === col("nc"))
      .select(col("grp").as(groupCol), col("n_tokens"),
        round(col("cum"), 6).as("jsd_nats"))
      .orderBy(groupCol)
  }

  /** DuckDB oracle for [[jsDrift]] — the [[klDriftSql]] chain with the
    * JSD cell. */
  def jsDriftSql(groupCol: String, topV: Int, alpha: Double): String = {
    val toks = graft.functions.TextFunctions.tokensSql("text")
    val p = s"((CAST(gc AS DOUBLE) + $alpha) / " +
      s"(CAST(n_tokens AS DOUBLE) + $alpha * (vn + 1)))"
    val q = s"((CAST(c AS DOUBLE) + $alpha) / " +
      s"(CAST(bign AS DOUBLE) + $alpha * (vn + 1)))"
    val m = s"(($p + $q) / 2.0)"
    val cell = s"(0.5 * $p * ln($p / $m) + 0.5 * $q * ln($q / $m))"
    s"WITH toks AS (SELECT $groupCol AS grp, unnest($toks) AS term " +
      s"FROM documents WHERE $groupCol IS NOT NULL), " +
      "gcnt AS (SELECT grp, term, CAST(count(*) AS BIGINT) AS gc " +
      "FROM toks GROUP BY grp, term), " +
      "cnt AS (SELECT term, CAST(sum(gc) AS BIGINT) AS c FROM gcnt GROUP BY term), " +
      s"top AS (SELECT term, c, row_number() OVER (ORDER BY c DESC, term) AS rank " +
      s"FROM (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT $topV)), " +
      "consts AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM top) AS vn, " +
      "(SELECT CAST(sum(c) AS BIGINT) FROM top) AS topc, " +
      "(SELECT CAST(sum(c) AS BIGINT) FROM cnt) AS bign), " +
      "gtot AS (SELECT grp, CAST(sum(gc) AS BIGINT) AS n_tokens " +
      "FROM gcnt GROUP BY grp), " +
      "grid AS (SELECT gtot.grp, gtot.n_tokens, top.rank, " +
      "coalesce(g.gc, 0) AS gc, top.c FROM gtot CROSS JOIN top " +
      "LEFT JOIN gcnt g ON gtot.grp = g.grp AND top.term = g.term), " +
      "gtop AS (SELECT grp, CAST(sum(gc) AS BIGINT) AS gtopc " +
      "FROM grid GROUP BY grp), " +
      "oth AS (SELECT gtot.grp, gtot.n_tokens, " +
      "CAST(consts.vn + 1 AS INT) AS rank, " +
      "gtot.n_tokens - gtop.gtopc AS gc, consts.bign - consts.topc AS c " +
      "FROM gtot JOIN gtop ON gtot.grp = gtop.grp CROSS JOIN consts), " +
      "cells AS (SELECT grp, n_tokens, rank, gc, c, vn, bign FROM " +
      "(SELECT grp, n_tokens, rank, gc, c FROM grid " +
      "UNION ALL BY NAME SELECT grp, n_tokens, rank, gc, c FROM oth) u " +
      "CROSS JOIN (SELECT vn, bign FROM consts) k), " +
      s"f AS (SELECT grp, n_tokens, $cell AS cell, " +
      s"sum($cell) OVER (PARTITION BY grp ORDER BY rank " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (PARTITION BY grp ORDER BY rank) AS rn, " +
      "count(*) OVER (PARTITION BY grp) AS nc FROM cells) " +
      s"SELECT grp AS $groupCol, n_tokens, round(cum, 6) AS jsd_nats " +
      "FROM f WHERE rn = nc ORDER BY grp"
  }

  /** Brier score with the Murphy (1973) decomposition — the PROPER
    * scoring companion to [[clfCalibration]]'s reliability table: one
    * row summarizing the classifier's probabilistic quality as
    * brier = reliability − resolution + uncertainty over the same
    * confidence deciles (reliability = calibration gap mass — lower
    * better; resolution = how far bin rates stray from the base rate —
    * higher better; uncertainty = the base rate's own variance, the
    * no-skill floor).
    *
    * Exactness: the same sigmoid/bin machinery as clfCalibration (exp's
    * libm ulp absorbed by round 6); the per-bin float reductions (conf
    * and squared-error sums) run through the [[ClfFoldBlocks]]
    * blockTotal FIXED TREE exactly like [[clfCalibration]]'s — per
    * (bin, blk) ordered cumsum-take-last, then a ≤ClfFoldBlocks-row
    * bin fold in blk order, value-fixed so the oracle mirrors it term
    * for term; labels and counts are exact integer aggregates. (The
    * r12 per-bin single-task fold — corpus/10 rows through one window —
    * was the declared funnel the board gate exempted; 11.6–13× at sf1.)
    *
    * Output: one row (n_docs, brier, reliability, resolution,
    * uncertainty). */
  def brierDecomposition(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val scored = clfGateScores(df, idCol, textCol)
      .withColumn("conf",
        lit(1.0) / (lit(1.0) + exp(col("margin").cast("double") / -1000.0)))
      .withColumn("bin", least(floor(col("conf") * 10.0).cast("long"), lit(9L)))
      .withColumn("sq",
        (col("conf") - col("label").cast("double")) *
          (col("conf") - col("label").cast("double")))
      .withColumn("blk",
        pmod(graft.functions.TextFunctions.charHash(col(idCol).cast("string")),
          lit(ClfFoldBlocks)))
    val ints = scored.groupBy("bin")
      .agg(count(lit(1)).as("nb"), sum(col("label")).as("cum_lab"))
    val wBlk = W.partitionBy("bin", "blk").orderBy(idCol)
    val cumBlk = wBlk.rowsBetween(W.unboundedPreceding, W.currentRow)
    val partials = scored
      .withColumn("pc", sum(col("conf")).over(cumBlk))
      .withColumn("ps", sum(col("sq")).over(cumBlk))
      .withColumn("rn", row_number().over(wBlk))
      .withColumn("nbb", count(lit(1)).over(W.partitionBy("bin", "blk")))
      .filter(col("rn") === col("nbb"))
      .select(col("bin"), col("blk"), col("pc"), col("ps"))
    val wFold = W.partitionBy("bin").orderBy("blk")
    val cumFold = wFold.rowsBetween(W.unboundedPreceding, W.currentRow)
    val floats = partials
      .withColumn("cum_conf", sum(col("pc")).over(cumFold))
      .withColumn("cum_sq", sum(col("ps")).over(cumFold))
      .withColumn("rn", row_number().over(wFold))
      .withColumn("ncb", count(lit(1)).over(W.partitionBy("bin")))
      .filter(col("rn") === col("ncb"))
      .select(col("bin"), col("cum_conf"), col("cum_sq"))
    brierBinFold(ints.join(floats, Seq("bin"))
      .select(col("bin"), col("nb"), col("cum_conf"), col("cum_sq"),
        col("cum_lab")))
  }

  /** The classifier-vs-rules gate pair as one scored frame
    * (id, margin, label) — the single definition under
    * [[brierDecomposition]], [[brierCounts]] and the kappa/calibration
    * queries' join. */
  def clfGateScores(df: DataFrame, idCol: String, textCol: String): DataFrame =
    clfRuleGates(df, idCol, textCol)
      .select(col(idCol), col("margin"),
        when(col("pass"), 1L).otherwise(0L).as("label"))

  /** The MERGEABLE half of the Brier monitor (the aucCounts precedent):
    * per-margin label counts (margin, n, n_pos). Margins are exact
    * integer token-code sums, so cell-wise ADDITION merges two count
    * frames exactly — a stream folds batches into this state and reads
    * the full Murphy decomposition off any snapshot with
    * [[brierFromCounts]]. State is one row per DISTINCT margin value
    * (domain-bounded: margins are bounded sums, not stream-length-
    * bounded; quantize the margin first if the margin domain is
    * unbounded in your gate). */
  def brierCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    clfGateScores(df, idCol, textCol)
      .groupBy("margin")
      .agg(count(lit(1)).as("n"), sum(col("label")).as("n_pos"))

  /** The fold half: the Murphy decomposition off a (margin, n, n_pos)
    * count frame (pre-summed duplicates allowed — they re-collapse
    * here). Float folds run in margin order (deterministic), so
    * stream-snapshot reads are reproducible; values match
    * [[brierDecomposition]] up to float fold order (the per-doc form
    * folds in doc-id order — spec-bounded drift, both round at 6). */
  def brierFromCounts(counts0: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val counts = counts0.groupBy("margin")
      .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
    val scored = counts
      .withColumn("conf",
        lit(1.0) / (lit(1.0) + exp(col("margin").cast("double") / -1000.0)))
      .withColumn("bin", least(floor(col("conf") * 10.0).cast("long"), lit(9L)))
      .withColumn("cell_conf", col("conf") * col("n").cast("double"))
      .withColumn("cell_sq",
        (col("conf") - 1.0) * (col("conf") - 1.0) * col("n_pos").cast("double") +
          col("conf") * col("conf") * (col("n") - col("n_pos")).cast("double"))
    val ordd = W.partitionBy("bin").orderBy("margin")
    val cumd = ordd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val bins = scored
      .withColumn("cum_conf", sum(col("cell_conf")).over(cumd))
      .withColumn("cum_sq", sum(col("cell_sq")).over(cumd))
      .withColumn("cum_lab", sum(col("n_pos")).over(cumd))
      .withColumn("nb", sum(col("n")).over(W.partitionBy("bin")))
      .withColumn("rn", row_number().over(ordd))
      .withColumn("cells", count(lit(1)).over(W.partitionBy("bin")))
      .filter(col("rn") === col("cells"))
      .select(col("bin"), col("nb"), col("cum_conf"), col("cum_sq"),
        col("cum_lab"))
    brierBinFold(bins)
  }

  /** The shared ≤10-row bin fold under both Brier faces: cross-bin
    * constants (exact integers), then reliability/resolution cells in
    * bin order. `bins` carries (bin, nb, cum_conf, cum_sq, cum_lab). */
  private def brierBinFold(bins: DataFrame): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val tot = bins.agg(sum(col("nb")).as("n_docs"), sum(col("cum_lab")).as("n_pos"))
    val ordb = W.orderBy("bin")
    val cumb = ordb.rowsBetween(W.unboundedPreceding, W.currentRow)
    val ybar = col("n_pos").cast("double") / col("n_docs").cast("double")
    bins.crossJoin(broadcast(tot))
      .withColumn("rel_cell",
        col("nb").cast("double") *
          (col("cum_conf") / col("nb").cast("double") -
            col("cum_lab").cast("double") / col("nb").cast("double")) *
          (col("cum_conf") / col("nb").cast("double") -
            col("cum_lab").cast("double") / col("nb").cast("double")))
      .withColumn("res_cell",
        col("nb").cast("double") *
          (col("cum_lab").cast("double") / col("nb").cast("double") - ybar) *
          (col("cum_lab").cast("double") / col("nb").cast("double") - ybar))
      .withColumn("cum_rel", sum(col("rel_cell")).over(cumb))
      .withColumn("cum_res", sum(col("res_cell")).over(cumb))
      .withColumn("cum_brier", sum(col("cum_sq")).over(cumb))
      .withColumn("rnd", row_number().over(W.orderBy(col("bin").desc)))
      .filter(col("rnd") === 1)
      .select(col("n_docs"),
        round(col("cum_brier") / col("n_docs").cast("double"), 6).as("brier"),
        round(col("cum_rel") / col("n_docs").cast("double"), 6).as("reliability"),
        round(col("cum_res") / col("n_docs").cast("double"), 6).as("resolution"),
        round(ybar * (lit(1.0) - ybar), 6).as("uncertainty"))
  }

  /** DuckDB oracle for [[brierDecomposition]] — identical gates, bins
    * and the IDENTICAL fixed block fold tree. */
  def brierDecompositionSql(table: String, idExpr: String,
                            textExpr: String): String = {
    val codes = graft.functions.TextFunctions.tokenCodesSql(textExpr)
    val toks = graft.functions.TextFunctions.tokensSql(textExpr)
    s"WITH m AS (SELECT $idExpr AS doc_id, " +
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
      "(acc, c) -> acc + ((c % 64) * 2654435761 % 1999 - 999)) AS margin " +
      s"FROM $table), " +
      s"g AS (SELECT $idExpr AS doc_id, " +
      s"CAST(len($toks) AS BIGINT) AS n_tok, " +
      s"CAST(len(list_filter($toks, t -> t IN ('the', 'a'))) AS BIGINT) AS nstop, " +
      s"CAST(list_max(list_transform(list_distinct($toks), " +
      s"t -> len(list_filter($toks, x -> x = t)))) AS BIGINT) AS maxtf, " +
      s"CAST(length($textExpr) AS BIGINT) - (CAST(len($toks) AS BIGINT) - 1) AS ntc " +
      s"FROM $table), " +
      "lab AS (SELECT doc_id, CASE WHEN (n_tok >= 20 AND n_tok <= 80) AND " +
      "(3 * n_tok <= ntc AND ntc <= 10 * n_tok) AND (nstop >= 2) AND " +
      "(100 * maxtf <= 15 * n_tok) THEN 1 ELSE 0 END AS label FROM g), " +
      "sc AS (SELECT m.doc_id, " +
      "1.0 / (1.0 + exp(CAST(m.margin AS DOUBLE) / -1000.0)) AS conf, " +
      "lab.label FROM m JOIN lab ON m.doc_id = lab.doc_id), " +
      "b AS (SELECT doc_id, conf, label, " +
      "(conf - CAST(label AS DOUBLE)) * (conf - CAST(label AS DOUBLE)) AS sq, " +
      "least(CAST(floor(conf * 10.0) AS BIGINT), 9) AS bin, " +
      s"(${graft.functions.TextFunctions.charHashSql("CAST(doc_id AS VARCHAR)")}) " +
      s"% $ClfFoldBlocks AS blk FROM sc), " +
      "ints AS (SELECT bin, CAST(count(*) AS BIGINT) AS nb, " +
      "CAST(sum(label) AS BIGINT) AS cum_lab FROM b GROUP BY bin), " +
      "p AS (SELECT bin, blk, pc, ps FROM (SELECT bin, blk, " +
      "sum(conf) OVER w AS pc, sum(sq) OVER w AS ps, " +
      "row_number() OVER (PARTITION BY bin, blk ORDER BY doc_id) AS rn, " +
      "count(*) OVER (PARTITION BY bin, blk) AS nbb FROM b " +
      "WINDOW w AS (PARTITION BY bin, blk ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) z WHERE rn = nbb), " +
      "fl AS (SELECT bin, cum_conf, cum_sq FROM (SELECT bin, " +
      "sum(pc) OVER wf AS cum_conf, sum(ps) OVER wf AS cum_sq, " +
      "row_number() OVER (PARTITION BY bin ORDER BY blk) AS rn, " +
      "count(*) OVER (PARTITION BY bin) AS ncb FROM p " +
      "WINDOW wf AS (PARTITION BY bin ORDER BY blk " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) z WHERE rn = ncb), " +
      "bins AS (SELECT ints.bin, ints.nb, fl.cum_conf, fl.cum_sq, ints.cum_lab " +
      "FROM ints JOIN fl ON ints.bin = fl.bin), " +
      "tot AS (SELECT CAST(sum(nb) AS BIGINT) AS n_docs, " +
      "CAST(sum(cum_lab) AS BIGINT) AS n_pos FROM bins), " +
      "cells AS (SELECT bins.*, tot.n_docs, tot.n_pos, " +
      "CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS ybar, " +
      "CAST(nb AS DOUBLE) * (cum_conf / CAST(nb AS DOUBLE) - " +
      "CAST(cum_lab AS DOUBLE) / CAST(nb AS DOUBLE)) * " +
      "(cum_conf / CAST(nb AS DOUBLE) - " +
      "CAST(cum_lab AS DOUBLE) / CAST(nb AS DOUBLE)) AS rel_cell, " +
      "CAST(nb AS DOUBLE) * (CAST(cum_lab AS DOUBLE) / CAST(nb AS DOUBLE) - " +
      "CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) * " +
      "(CAST(cum_lab AS DOUBLE) / CAST(nb AS DOUBLE) - " +
      "CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS res_cell " +
      "FROM bins CROSS JOIN tot) " +
      "SELECT n_docs, " +
      "round(cum_brier / CAST(n_docs AS DOUBLE), 6) AS brier, " +
      "round(cum_rel / CAST(n_docs AS DOUBLE), 6) AS reliability, " +
      "round(cum_res / CAST(n_docs AS DOUBLE), 6) AS resolution, " +
      "round(ybar * (1.0 - ybar), 6) AS uncertainty " +
      "FROM (SELECT *, " +
      "sum(rel_cell) OVER wb AS cum_rel, sum(res_cell) OVER wb AS cum_res, " +
      "sum(cum_sq) OVER wb AS cum_brier, " +
      "row_number() OVER (ORDER BY bin DESC) AS rnd FROM cells " +
      "WINDOW wb AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) z " +
      "WHERE rnd = 1"
  }

  /** Filter-cascade yield report per source: how many documents survive
    * the rule gate ([[gopherRules]]), the classifier gate
    * ([[clfMarginFilter]]), and their conjunction — the per-feed funnel
    * summary every curation pipeline reads before committing a mix (a
    * feed whose yield collapses at one gate is either junk or the gate
    * is miscalibrated for it; q_mcnemar then says which).
    *
    * Scale shape: both gates are zero-shuffle narrow scans over the
    * corpus; ONE map-side-combined per-source aggregate; ratios a fixed
    * double tree over exact integers.
    *
    * Output: (source, n_docs, n_rules, n_clf, n_both, yield_rules,
    * yield_clf, yield_both). */
  def cascadeYield(df: DataFrame, idCol: String, textCol: String,
                   srcCol: String): DataFrame = {
    // r19: both gates + the source key in ONE scan ([[clfRuleGates]]) —
    // was three scans of the corpus joined twice on doc_id
    val gates = clfRuleGates(df, idCol, textCol, carryCols = Seq(srcCol))
      .withColumnRenamed(srcCol, "src")
    gates.groupBy(col("src"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_rules"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_clf"),
        sum(when(col("pass") && col("keep"), 1L).otherwise(0L)).as("n_both"))
      .select(col("src").as(srcCol), col("n_docs"), col("n_rules"),
        col("n_clf"), col("n_both"),
        round(col("n_rules").cast("double") / col("n_docs").cast("double"), 6)
          .as("yield_rules"),
        round(col("n_clf").cast("double") / col("n_docs").cast("double"), 6)
          .as("yield_clf"),
        round(col("n_both").cast("double") / col("n_docs").cast("double"), 6)
          .as("yield_both"))
      .orderBy(srcCol)
  }

  /** DuckDB oracle for [[cascadeYield]] — identical gates and trees. */
  def cascadeYieldSql(table: String, idExpr: String, textExpr: String,
                      srcExpr: String): String = {
    val codes = TextFunctions.tokenCodesSql(textExpr)
    val toks = TextFunctions.tokensSql(textExpr)
    s"WITH g AS (SELECT $srcExpr AS src, " +
      s"(list_reduce(list_prepend(CAST(0 AS BIGINT), $codes), " +
      "(acc, c) -> acc + ((c % 64) * 2654435761 % 1999 - 999)) > 0) AS keep, " +
      s"((n_tok >= 20 AND n_tok <= 80) AND (3 * n_tok <= ntc AND ntc <= 10 * n_tok) " +
      "AND (nstop >= 2) AND (100 * maxtf <= 15 * n_tok)) AS pass FROM " +
      s"(SELECT $srcExpr, $textExpr, " +
      s"CAST(len($toks) AS BIGINT) AS n_tok, " +
      s"CAST(len(list_filter($toks, t -> t IN ('the', 'a'))) AS BIGINT) AS nstop, " +
      s"CAST(list_max(list_transform(list_distinct($toks), " +
      s"t -> len(list_filter($toks, x -> x = t)))) AS BIGINT) AS maxtf, " +
      s"CAST(length($textExpr) AS BIGINT) - (CAST(len($toks) AS BIGINT) - 1) AS ntc " +
      s"FROM $table) z) " +
      "SELECT src AS source, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_rules, " +
      "CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_clf, " +
      "CAST(sum(CASE WHEN pass AND keep THEN 1 ELSE 0 END) AS BIGINT) AS n_both, " +
      "round(CAST(sum(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE), 6) AS yield_rules, " +
      "round(CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE), 6) AS yield_clf, " +
      "round(CAST(sum(CASE WHEN pass AND keep THEN 1 ELSE 0 END) AS DOUBLE) / " +
      "CAST(count(*) AS DOUBLE), 6) AS yield_both " +
      "FROM g GROUP BY src ORDER BY source"
  }

  /** Token-budget allocation per source: given a total training-token
    * budget, split it UNIFORMLY across sources and price each source's
    * sampling rate against its actual token inventory — the
    * mix-planning step AFTER [[mixWeights]]-style weighting decides
    * proportions (training mixes are budgeted in TOKENS, not documents;
    * a source short of its allocation surfaces as a deficit to
    * re-spread, one short of rate 1.0 as downsampling).
    *
    * Scale shape: one narrow token-count scan + one map-side-combined
    * per-source sum; everything after lives on the source grid. All
    * inventories exact integers; the rate is one division, round 6.
    *
    * Output: (source, have_tokens, target_tokens, rate, deficit). */
  def tokenBudget(df: DataFrame, textCol: String, srcCol: String,
                  budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val have = df
      .select(col(srcCol).as("src"),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("nt"))
      .filter(col("src").isNotNull)
      .groupBy("src").agg(sum(col("nt")).as("have_tokens"))
    val k = have.agg(count(lit(1)).as("k"))
    have.crossJoin(broadcast(k))
      .withColumn("target_tokens", expr(s"CAST($budget AS BIGINT) div k"))
      .select(col("src").as(srcCol), col("have_tokens"),
        col("target_tokens"),
        round(least(lit(1.0), col("target_tokens").cast("double") /
          col("have_tokens").cast("double")), 6).as("rate"),
        greatest(col("target_tokens") - col("have_tokens"), lit(0L))
          .as("deficit"))
      .orderBy(srcCol)
  }

  /** Top-k token-frequency drift between two corpus sides — the
    * drill-down AFTER a distribution gate fires ([[klDrift]]/[[jsDrift]]
    * say THAT the mix moved; this says WHICH terms moved it): over the
    * pooled top-`topV` vocabulary, the k terms whose frequency share
    * changed most between side 0 (reference) and side 1 (current).
    *
    * Exactness: ranking uses the INTEGER cross product
    * |cb·na − ca·nb| (term tie-break) — no float enters the ordering;
    * shares/delta are rounded output only. int64-exact to ~3·10⁹ tokens
    * per side (the ksDistance stance — lift to decimal beyond).
    *
    * Scale shape: one term-keyed map-side-combined count (the only
    * corpus shuffle); top-V by TakeOrdered; ranking on the V-bounded
    * grid (declared global window).
    *
    * Output: (rnk, term, c_ref, c_cur, share_ref, share_cur, delta). */
  def freqDriftTopK(df: DataFrame, sideCol: String, textCol: String,
                    topV: Int = 200, k: Int = 20): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    require(topV >= k && topV <= 4096, "need k <= topV <= 4096")
    val toks = df.filter(col(sideCol).isNotNull)
      .select(col(sideCol).cast("long").as("side"),
        explode(TextFunctions.tokens(col(textCol))).as("term"))
    val cnt = toks.groupBy("term")
      .agg(sum(when(col("side") === 0L, 1L).otherwise(0L)).as("ca"),
        sum(when(col("side") === 1L, 1L).otherwise(0L)).as("cb"))
      .transform(PB.localCheckpoint) // vocab-sized; feeds totals + the top-V cut
    val tot = cnt.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val top = cnt.orderBy((col("ca") + col("cb")).desc, col("term"))
      .limit(topV)
    top.crossJoin(broadcast(tot))
      .withColumn("dnum", abs(col("cb") * col("na") - col("ca") * col("nb")))
      .withColumn("rnk", row_number().over(
        W.orderBy(col("dnum").desc, col("term"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("rnk"), col("term"), col("ca").as("c_ref"),
        col("cb").as("c_cur"),
        round(col("ca").cast("double") / col("na").cast("double"), 6)
          .as("share_ref"),
        round(col("cb").cast("double") / col("nb").cast("double"), 6)
          .as("share_cur"),
        round(col("cb").cast("double") / col("nb").cast("double") -
          col("ca").cast("double") / col("na").cast("double"), 6)
          .as("delta"))
      .orderBy("rnk")
  }

  /** DuckDB oracle for [[freqDriftTopK]] — identical counts, top-V cut
    * and integer ranking. `base` yields side, text. */
  def freqDriftTopKSql(base: String, topV: Int, k: Int): String = {
    val toks = TextFunctions.tokensSql("text")
    s"WITH cnt AS (SELECT term, " +
      "CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca, " +
      "CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb " +
      s"FROM (SELECT side, unnest($toks) AS term FROM $base " +
      "WHERE side IS NOT NULL) GROUP BY term), " +
      "tot AS (SELECT CAST(sum(ca) AS BIGINT) AS na, " +
      "CAST(sum(cb) AS BIGINT) AS nb FROM cnt), " +
      s"top AS (SELECT * FROM cnt ORDER BY ca + cb DESC, term LIMIT $topV), " +
      "r AS (SELECT *, CAST(row_number() OVER " +
      "(ORDER BY abs(cb * na - ca * nb) DESC, term) AS BIGINT) AS rnk " +
      "FROM top CROSS JOIN tot) " +
      "SELECT rnk, term, ca AS c_ref, cb AS c_cur, " +
      "round(CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6) AS share_ref, " +
      "round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE), 6) AS share_cur, " +
      "round(CAST(cb AS DOUBLE) / CAST(nb AS DOUBLE) - " +
      "CAST(ca AS DOUBLE) / CAST(na AS DOUBLE), 6) AS delta " +
      s"FROM r WHERE rnk <= $k ORDER BY rnk"
  }

  /** Distinct-n lexical diversity per source (Li et al. 2016's
    * Distinct-1/Distinct-2): distinct unigrams over total unigrams and
    * distinct bigrams over total bigrams — the degeneracy gauge that
    * catches template farms and model-generated spam (near-zero
    * Distinct-2 at healthy Distinct-1 = the telltale n-gram loop), the
    * corpus-level sibling of q_rep_ratio's per-document repetition.
    *
    * Scale shape: distinct counts via the two-stage (source, gram)
    * groupBy — map-side combined, never a count-distinct Expand over
    * the corpus; totals ride the same scan. Exact integers, one rounded
    * division each.
    *
    * Output: (source, n_tokens, n_uni, n_bigrams, n_bi, distinct1,
    * distinct2). */
  def distinctNgrams(df: DataFrame, textCol: String,
                     srcCol: String): DataFrame = {
    val base = df.filter(col(srcCol).isNotNull)
      .select(col(srcCol).as("src"),
        TextFunctions.tokens(col(textCol)).as("_t"))
    val uni = base.select(col("src"), explode(col("_t")).as("g"))
      .groupBy("src", "g").agg(count(lit(1)).as("c"))
      .groupBy("src")
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_uni"))
    val bi = base.select(col("src"),
        explode(TextFunctions.bigrams(col("_t"))).as("g"))
      .groupBy("src", "g").agg(count(lit(1)).as("c"))
      .groupBy("src")
      .agg(sum(col("c")).as("n_bigrams"), count(lit(1)).as("n_bi"))
    uni.join(bi, Seq("src"), "left")
      .na.fill(0L, Seq("n_bigrams", "n_bi"))
      .select(col("src").as(srcCol), col("n_tokens"), col("n_uni"),
        col("n_bigrams"), col("n_bi"),
        round(col("n_uni").cast("double") / col("n_tokens").cast("double"), 6)
          .as("distinct1"),
        when(col("n_bigrams") > 0L, round(
          col("n_bi").cast("double") / col("n_bigrams").cast("double"), 6))
          .as("distinct2"))
      .orderBy(srcCol)
  }

  /** DuckDB oracle for [[distinctNgrams]] — identical gram sets and
    * trees. */
  def distinctNgramsSql(table: String, textExpr: String,
                        srcExpr: String): String = {
    val toks = TextFunctions.tokensSql(textExpr)
    val bis = TextFunctions.bigramsSql(toks)
    s"WITH uni AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_tokens, " +
      "CAST(count(*) AS BIGINT) AS n_uni FROM " +
      s"(SELECT src, g, CAST(count(*) AS BIGINT) AS c FROM " +
      s"(SELECT $srcExpr AS src, unnest($toks) AS g FROM $table " +
      s"WHERE $srcExpr IS NOT NULL) GROUP BY src, g) GROUP BY src), " +
      "bi AS (SELECT src, CAST(sum(c) AS BIGINT) AS n_bigrams, " +
      "CAST(count(*) AS BIGINT) AS n_bi FROM " +
      s"(SELECT src, g, CAST(count(*) AS BIGINT) AS c FROM " +
      s"(SELECT $srcExpr AS src, unnest($bis) AS g FROM $table " +
      s"WHERE $srcExpr IS NOT NULL) GROUP BY src, g) GROUP BY src) " +
      "SELECT uni.src AS source, n_tokens, n_uni, " +
      "coalesce(n_bigrams, 0) AS n_bigrams, coalesce(n_bi, 0) AS n_bi, " +
      "round(CAST(n_uni AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS distinct1, " +
      "CASE WHEN coalesce(n_bigrams, 0) > 0 THEN " +
      "round(CAST(n_bi AS DOUBLE) / CAST(n_bigrams AS DOUBLE), 6) " +
      "ELSE NULL END AS distinct2 " +
      "FROM uni LEFT JOIN bi ON uni.src = bi.src ORDER BY source"
  }

  /** DuckDB oracle for [[tokenBudget]] — identical counts and tree. */
  def tokenBudgetSql(table: String, textExpr: String, srcExpr: String,
                     budget: Long): String = {
    val toks = TextFunctions.tokensSql(textExpr)
    s"WITH have AS (SELECT $srcExpr AS src, " +
      s"CAST(sum(len($toks)) AS BIGINT) AS have_tokens FROM $table " +
      s"WHERE $srcExpr IS NOT NULL GROUP BY $srcExpr), " +
      "k AS (SELECT CAST(count(*) AS BIGINT) AS k FROM have) " +
      s"SELECT src AS source, have_tokens, " +
      s"CAST($budget // k AS BIGINT) AS target_tokens, " +
      s"round(least(1.0, CAST($budget // k AS DOUBLE) / " +
      "CAST(have_tokens AS DOUBLE)), 6) AS rate, " +
      s"CAST(greatest($budget // k - have_tokens, 0) AS BIGINT) AS deficit " +
      "FROM have CROSS JOIN k ORDER BY source"
  }
}
