package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.functions.TextFunctions

/** Privacy-preserving release operators (SURVEY §2.3) — the relational
  * side of the scrub that [[TextOps.redact]] does inside document text:
  * before a curated dataset (or its per-source statistics) leaves the
  * pipeline, quasi-identifier combinations that single out fewer than k
  * individuals must not survive in the clear.
  */
object PrivacyOps {

  /** k-anonymity suppression over a quasi-identifier column set (Sweeney
    * 2002): equivalence classes (distinct quasi-value combinations) with
    * fewer than `k` rows are SUPPRESSED — every quasi column collapses to
    * `"*"` — and the suppressed classes merge into one residual row, so
    * the release states how many rows were withheld without revealing
    * their (identifying) key combination. Classes with ≥ k rows release
    * their exact count: every released non-residual row is guaranteed to
    * describe at least k individuals.
    *
    * Scale shape: one map-side-combined groupBy on the quasi key builds
    * the equivalence classes (the only corpus-sized shuffle); the
    * suppression re-group runs on the CLASS frame (distinct combinations,
    * domain-bounded). All integer. Nulls are real class values here —
    * a null quasi value is itself a combination to protect — so they are
    * compared null-safely (both engines group nulls together) and
    * released as the string "null" to keep the output schema string-typed
    * on both engines.
    *
    * Sentinel collisions: a RELEASED class whose quasi value is the
    * literal string "*" would merge with the suppression residual and be
    * mis-reported as withheld — the operator REFUSES such data (one
    * domain-bounded check on the class frame; rename the value
    * upstream). A real NULL and the literal string "null" DO merge into
    * one released class — that collision only ever ENLARGES a class
    * (never splits one below k), so it is privacy-safe and accepted as
    * the release format.
    *
    * Output: (quasi..., n_rows, suppressed), quasi columns as strings. */
  def kAnonymize(df: DataFrame, quasiCols: Seq[String], k: Int): DataFrame = PB.scoped {
    require(quasiCols.nonEmpty, "kAnonymize needs at least one quasi column")
    require(k >= 2, "k must be >= 2 (k=1 releases everything)")
    val classes = df
      .groupBy(quasiCols.map(c =>
        coalesce(col(c).cast("string"), lit("null")).as(c)): _*)
      .agg(count(lit(1)).as("n"))
      .transform(PB.localCheckpoint) // class frame (domain-bounded): guard + release
    val starred = classes.filter(col("n") >= k &&
      quasiCols.map(c => col(c) === "*").reduce(_ || _)).limit(1).count()
    require(starred == 0L,
      "kAnonymize: a released class carries the literal quasi value \"*\" " +
        "(it would merge with the suppression residual) — rename it upstream")
    classes
      .select(quasiCols.map(c =>
        when(col("n") >= k, col(c)).otherwise(lit("*")).as(c)) :+ col("n"): _*)
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("n")).as("n_rows"))
      .withColumn("suppressed", col(quasiCols.head) === "*")
      .orderBy(quasiCols.map(col): _*)
  }

  /** Distinct l-diversity suppression (Machanavajjhala 2007) — closes
    * k-anonymity's homogeneity hole: a class of k rows that all share ONE
    * sensitive value still discloses it, so a released class must carry
    * at least `l` DISTINCT sensitive values. Classes below `l` suppress
    * exactly as in [[kAnonymize]] (quasi columns collapse to "*", one
    * residual row counts the withheld rows; the residual's sensitive
    * diversity is deliberately NOT reported — it would leak).
    *
    * Scale shape: the class frame builds in TWO map-side-combined
    * groupBys ((quasi, sensitive) then quasi) — no count-distinct Expand
    * over the corpus. Null handling and the "*" sentinel guard follow
    * kAnonymize; a real NULL sensitive value merging with the string
    * "null" only ever LOWERS apparent diversity (suppresses more, never
    * releases more) — the privacy-safe direction.
    *
    * Output: (quasi..., n_rows, n_sensitive, suppressed); n_sensitive is
    * null on the residual row. */
  def lDiversify(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
                 l: Int): DataFrame = PB.scoped {
    require(quasiCols.nonEmpty, "lDiversify needs at least one quasi column")
    require(l >= 2, "l must be >= 2 (l=1 releases everything)")
    val cells = df
      .groupBy(quasiCols.map(c =>
        coalesce(col(c).cast("string"), lit("null")).as(c)) :+
        coalesce(col(sensitiveCol).cast("string"), lit("null")).as("_sv"): _*)
      .agg(count(lit(1)).as("cn"))
    val classes = cells
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("cn")).as("n"), count(lit(1)).as("nsv"))
      .transform(PB.localCheckpoint)
    val starred = classes.filter(col("nsv") >= l &&
      quasiCols.map(c => col(c) === "*").reduce(_ || _)).limit(1).count()
    require(starred == 0L,
      "lDiversify: a released class carries the literal quasi value \"*\" " +
        "(it would merge with the suppression residual) — rename it upstream")
    classes
      .select(quasiCols.map(c =>
        when(col("nsv") >= l, col(c)).otherwise(lit("*")).as(c)) :+
        col("n") :+ col("nsv"): _*)
      .groupBy(quasiCols.map(col): _*)
      .agg(sum(col("n")).as("n_rows"),
        min(col("nsv")).as("_minsv"))
      .withColumn("suppressed", col(quasiCols.head) === "*")
      .select(quasiCols.map(col) :+ col("n_rows") :+
        when(!col("suppressed"), col("_minsv")).otherwise(lit(null).cast("long"))
          .as("n_sensitive") :+ col("suppressed"): _*)
      .orderBy(quasiCols.map(col): _*)
  }

  /** DuckDB oracle for [[lDiversify]] — identical two-stage class build,
    * suppression collapse and residual re-group. */
  def lDiversifySql(table: String, quasi: Seq[(String, String)],
                    sensitiveExpr: String, l: Int): String = {
    val names = quasi.map(_._2)
    val qsel = quasi
      .map { case (e, n) => s"coalesce(CAST($e AS VARCHAR), 'null') AS $n" }
      .mkString(", ")
    val star = names.map(n => s"CASE WHEN nsv >= $l THEN $n ELSE '*' END AS $n")
      .mkString(", ")
    val glist = names.mkString(", ")
    s"WITH cells AS (SELECT $qsel, " +
      s"coalesce(CAST($sensitiveExpr AS VARCHAR), 'null') AS _sv, " +
      s"CAST(count(*) AS BIGINT) AS cn FROM $table GROUP BY $glist, _sv), " +
      s"classes AS (SELECT $glist, CAST(sum(cn) AS BIGINT) AS n, " +
      s"CAST(count(*) AS BIGINT) AS nsv FROM cells GROUP BY $glist), " +
      s"marked AS (SELECT $star, n, nsv FROM classes) " +
      s"SELECT $glist, CAST(sum(n) AS BIGINT) AS n_rows, " +
      s"CASE WHEN ${names.head} <> '*' THEN CAST(min(nsv) AS BIGINT) END " +
      s"AS n_sensitive, (${names.head} = '*') AS suppressed " +
      s"FROM marked GROUP BY $glist ORDER BY $glist"
  }

  /** DuckDB oracle for [[kAnonymize]] — identical class build,
    * suppression collapse and residual re-group. `quasi` pairs each SQL
    * expression with its output name (MUST equal the Spark column name). */
  def kAnonymizeSql(table: String, quasi: Seq[(String, String)], k: Int): String = {
    val names = quasi.map(_._2)
    val qsel = quasi
      .map { case (e, n) => s"coalesce(CAST($e AS VARCHAR), 'null') AS $n" }
      .mkString(", ")
    val star = names.map(n => s"CASE WHEN n >= $k THEN $n ELSE '*' END AS $n")
      .mkString(", ")
    val glist = names.mkString(", ")
    s"WITH classes AS (SELECT $qsel, CAST(count(*) AS BIGINT) AS n " +
      s"FROM $table GROUP BY $glist), " +
      s"marked AS (SELECT $star, n FROM classes) " +
      s"SELECT $glist, CAST(sum(n) AS BIGINT) AS n_rows, " +
      s"(${names.head} = '*') AS suppressed " +
      s"FROM marked GROUP BY $glist ORDER BY $glist"
  }

  /** Geometric-mechanism noisy counts (Ghosh–Roughgarden–Sundararajan
    * 2009 — the discrete, utility-optimal Laplace sibling): per group,
    * `count + Z` where `Z = G₁ − G₂` with independent Geometric(1/2)
    * draws — exactly the two-sided geometric distribution the ε = ln 2
    * mechanism requires for a sensitivity-1 count release. The release
    * also floors at 0 (counts can't be negative; post-processing
    * preserves DP).
    *
    * DERANDOMIZED-FOR-VERIFIABILITY face: the geometric draws come from
    * trailing-zero counts of salted portable hashes of the GROUP NAME —
    * trailing zeros of a uniform word are Geometric(1/2) — so the oracle
    * hash-verifies the release bit-for-bit. Production swaps the salt
    * for a per-release secret seed (the standard PRG-backed DP
    * implementation); with a public salt this is only structurally DP.
    * `tz(h) = bit_count((h & −h) − 1)`, capped at 30; the +1 keeps h
    * nonzero so the lowest-set-bit trick is always defined.
    *
    * Scale shape: ONE map-side-combined groupBy; the noise columns are
    * scan-stage arithmetic on the group key — no second pass, no join. */
  def dpCounts(df: DataFrame, groupCol: String): DataFrame = {
    def tz(salt: String): Column = {
      val h = TextFunctions.charHash(
        concat(lit(salt), coalesce(col(groupCol).cast("string"), lit("null")))) + 1
      least(bitCount(h.bitwiseAND(-h) - 1), lit(30)).cast("long")
    }
    df.groupBy(coalesce(col(groupCol).cast("string"), lit("null")).as(groupCol))
      .agg(count(lit(1)).as("n"))
      .withColumn("noisy_n",
        greatest(col("n") + tz("dp1:") - tz("dp2:"), lit(0L)))
      .select(col(groupCol), col("noisy_n"))
  }

  private def bitCount(c: Column): Column =
    org.apache.spark.sql.functions.bit_count(c).cast("int")

  /** DuckDB oracle for [[dpCounts]] — identical salted hashes, identical
    * trailing-zero extraction and floor. */
  def dpCountsSql(table: String, groupExpr: String, name: String): String = {
    def tz(salt: String): String = {
      val h = "(" + graft.functions.TextFunctions.charHashSql(
        s"('$salt' || coalesce(CAST($groupExpr AS VARCHAR), 'null'))") + " + 1)"
      s"CAST(least(bit_count(($h & -$h) - 1), 30) AS BIGINT)"
    }
    s"SELECT coalesce(CAST($groupExpr AS VARCHAR), 'null') AS $name, " +
      s"greatest(CAST(count(*) AS BIGINT) + ${tz("dp1:")} - ${tz("dp2:")}, 0) " +
      s"AS noisy_n FROM $table GROUP BY $name"
  }

  /** t-closeness audit (Li et al. 2007) over an ORDERED sensitive
    * category: for each equivalence class, the Earth-Mover's Distance
    * between its sensitive-value distribution and the GLOBAL one, on the
    * ordinal ground distance — `EMD = Σ_j |P_j − Q_j| / (m−1)` over
    * cumulative fractions. Closes the attack l-diversity still allows:
    * a class can hold l distinct values that are all semantically
    * adjacent (all the highest severity buckets); t-closeness flags the
    * class because its cumulative mass sits far from the population's.
    * Audit form (flags, no suppression) — feed violating classes to
    * [[kAnonymize]]-style generalization upstream.
    *
    * Exactness: cumulative diffs stay integral — `|cum_c·n − cum_g·n_c|`
    * in DECIMAL(38,0) (the degreeAssortativity moment pattern; BIGINT
    * products overflow at 100 TB row counts) — and ONE fixed double tree
    * divides at the end, so EMD hash-verifies cross-engine.
    *
    * Scale shape: one corpus-sized map-side-combined groupBy builds the
    * (class × category) cells; everything after runs on the cell frame
    * (class-domain × category-domain — bounded); the dense grid comes
    * from a broadcast cross join of the class frame with the category
    * frame. No corpus re-scan, no window over doc rows. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], catCol: Column,
                 t: Double): DataFrame = PB.scoped {
    require(quasiCols.nonEmpty, "tCloseness needs at least one quasi column")
    val W = org.apache.spark.sql.expressions.Window
    val cells = df
      .groupBy(quasiCols.map(c =>
        coalesce(col(c).cast("string"), lit("null")).as(c)) :+
        catCol.cast("long").as("cat"): _*)
      .agg(count(lit(1)).as("n_cj"))
      .transform(PB.localCheckpoint) // cell frame (class × category domain): reused 3×
    val classes = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("n_cj")).as("n_c"))
    val cats = cells.groupBy(col("cat")).agg(sum(col("n_cj")).as("n_j"))
    val tot = cats.agg(sum(col("n_j")).as("n"), count(lit(1)).as("m"))
    val w = W.partitionBy(quasiCols.map(col): _*).orderBy("cat")
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    def dec(c: Column) = c.cast("decimal(38,0)")
    classes
      .crossJoin(broadcast(cats))
      .join(cells, quasiCols :+ "cat", "left")
      .withColumn("n_cj", coalesce(col("n_cj"), lit(0L)))
      .withColumn("cum_c", sum(col("n_cj")).over(w))
      .withColumn("cum_g", sum(col("n_j")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("term",
        abs(dec(col("cum_c")) * dec(col("n")) - dec(col("cum_g")) * dec(col("n_c"))))
      .groupBy(quasiCols.map(col) :+ col("n_c") :+ col("n") :+ col("m"): _*)
      .agg(sum(col("term")).as("s_int"))
      .withColumn("emd", round(
        col("s_int").cast("double") /
          (col("n_c").cast("double") * col("n").cast("double") *
            (col("m") - lit(1)).cast("double")), 6))
      .select(quasiCols.map(col) :+ col("n_c").as("n_rows") :+ col("emd") :+
        (col("emd") > lit(t)).as("violates"): _*)
      .orderBy(quasiCols.map(col): _*)
  }

  /** DuckDB oracle for [[tCloseness]] — identical cell build, dense grid,
    * cumulative windows, HUGEINT moments and final double tree. */
  def tClosenessSql(table: String, quasi: Seq[(String, String)],
                    catExpr: String, t: Double): String = {
    val names = quasi.map(_._2)
    val qsel = quasi
      .map { case (e, n) => s"coalesce(CAST($e AS VARCHAR), 'null') AS $n" }
      .mkString(", ")
    val glist = names.mkString(", ")
    val cglist = names.map(n => s"cl.$n").mkString(", ")
    s"WITH cells AS (SELECT $qsel, CAST($catExpr AS BIGINT) AS cat, " +
      s"CAST(count(*) AS BIGINT) AS n_cj FROM $table GROUP BY $glist, cat), " +
      s"classes AS (SELECT $glist, CAST(sum(n_cj) AS BIGINT) AS n_c " +
      s"FROM cells GROUP BY $glist), " +
      "cats AS (SELECT cat, CAST(sum(n_cj) AS BIGINT) AS n_j FROM cells GROUP BY cat), " +
      "tot AS (SELECT CAST(sum(n_j) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS m FROM cats), " +
      s"grid AS (SELECT $cglist, cl.n_c, ca.cat, ca.n_j, " +
      "coalesce(ce.n_cj, 0) AS n_cj FROM classes cl CROSS JOIN cats ca " +
      s"LEFT JOIN cells ce ON ${names.map(n => s"ce.$n = cl.$n").mkString(" AND ")} " +
      "AND ce.cat = ca.cat), " +
      s"cum AS (SELECT $glist, n_c, cat, " +
      s"sum(n_cj) OVER (PARTITION BY $glist ORDER BY cat " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_c, " +
      s"sum(n_j) OVER (PARTITION BY $glist ORDER BY cat " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_g FROM grid), " +
      s"agg AS (SELECT $glist, n_c, n, m, " +
      "sum(abs(CAST(cum_c AS HUGEINT) * n - CAST(cum_g AS HUGEINT) * n_c)) AS s_int " +
      s"FROM cum CROSS JOIN tot GROUP BY $glist, n_c, n, m) " +
      s"SELECT $glist, n_c AS n_rows, " +
      "round(CAST(s_int AS DOUBLE) / (CAST(n_c AS DOUBLE) * CAST(n AS DOUBLE) * " +
      "CAST(m - 1 AS DOUBLE)), 6) AS emd, " +
      "(round(CAST(s_int AS DOUBLE) / (CAST(n_c AS DOUBLE) * CAST(n AS DOUBLE) * " +
      s"CAST(m - 1 AS DOUBLE)), 6) > $t) AS violates " +
      s"FROM agg ORDER BY $glist"
  }
}
