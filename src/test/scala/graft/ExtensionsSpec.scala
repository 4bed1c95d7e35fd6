package graft

import graft.functions.TextFunctions
import graft.plans.GraftExtensions

/** graft's native expressions exposed as SQL functions. */
class ExtensionsSpec extends SparkSpec {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftExtensions.register(spark)
  }

  test("graft_char_hash works from pure SQL") {
    val got = spark.sql("SELECT graft_char_hash('abc') AS h").head.getLong(0)
    val expect = "abc".foldLeft(0L)((a, c) => (a * 31 + c) % TextFunctions.P)
    assert(got === expect)
  }

  test("minhash pipeline is expressible in pure SQL") {
    spark.read.parquet(s"$sfDir/documents.parquet").createOrReplaceTempView("docs_v")
    val rows = spark.sql(
      """SELECT doc_id,
        |       graft_simhash(graft_token_codes(text), 16) AS sh,
        |       graft_minhash_sig(graft_token_codes(text), 16) AS sig
        |FROM docs_v ORDER BY doc_id LIMIT 5""".stripMargin).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 16))
      assert(r.getSeq[Long](2).length === 16)
    }
  }

  test("PipBboxPushdown derives scan-pushable range filters from a PIP predicate") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions
    // polygon over raw parquet columns so the derived envelope can push
    val poly = Seq((10.0, 0.02), (30.0, 0.04), (20.0, 0.08))
    val df = Tables.load(spark, sfDir, "lineitem")
      .filter(GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), poly))
      .select("l_orderkey")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("GreaterThanOrEqual(l_quantity,10.0)"), plan)
    assert(plan.contains("LessThanOrEqual(l_quantity,30.0)"))
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.02)"))
    assert(plan.contains("LessThanOrEqual(l_discount,0.08)"))
    // the envelope is implied: results equal the PIP-only filter evaluated
    // without the rule (compute via the column-tree form, rule can't match)
    val noRule = Tables.load(spark, sfDir, "lineitem")
      .filter(GeoFunctions.pointInPolygonColumnTree(
        col("l_quantity"), col("l_discount"), poly))
      .select("l_orderkey")
    assert(df.orderBy("l_orderkey").collect().toSeq ===
      noRule.orderBy("l_orderkey").collect().toSeq)
  }

  test("PipBboxPushdown leaves PIP under Not/Or alone (no wrong envelope conjuncts)") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions
    val polyA = Seq((10.0, 0.02), (30.0, 0.04), (20.0, 0.08))
    val polyB = Seq((35.0, 0.00), (50.0, 0.01), (40.0, 0.05))
    def base = Tables.load(spark, sfDir, "lineitem")
    def colTree(poly: Seq[(Double, Double)]) = GeoFunctions
      .pointInPolygonColumnTree(col("l_quantity"), col("l_discount"), poly)

    // NOT(pip): rows OUTSIDE the polygon (most outside its bbox) must survive
    val negated = base
      .filter(!GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), polyA))
      .select("l_orderkey")
    val negatedOracle = base.filter(!colTree(polyA)).select("l_orderkey")
    assert(negated.count() === negatedOracle.count())

    // pipA || pipB: a point inside B but outside A's bbox must survive
    val disj = base
      .filter(GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), polyA) ||
        GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), polyB))
      .select("l_orderkey")
    val disjOracle = base.filter(colTree(polyA) || colTree(polyB)).select("l_orderkey")
    assert(disj.orderBy("l_orderkey").collect().toSeq ===
      disjOracle.orderBy("l_orderkey").collect().toSeq)
    // ... and no envelope conjunct of either polygon was injected
    val disjPlan = disj.queryExecution.optimizedPlan.toString
    assert(!disjPlan.contains(">= 10.0") && !disjPlan.contains("<= 30.0"), disjPlan)

    // a PIP that IS a top-level conjunct still gets its envelope, even when
    // another conjunct hides a PIP under an Or
    val mixed = base.filter(
      GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), polyA) &&
        (col("l_orderkey") > 0L ||
          GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), polyB)))
    val mixedPlan = mixed.queryExecution.optimizedPlan.toString
    assert(mixedPlan.contains(">= 10.0") && mixedPlan.contains("<= 30.0"), mixedPlan)
    // but NOT polyB's envelope (35..50)
    assert(!mixedPlan.contains(">= 35.0") && !mixedPlan.contains("<= 50.0"), mixedPlan)
  }

  test("PipBboxPushdown is idempotent — optimizer fixpoint adds no duplicate conjuncts") {
    import org.apache.spark.sql.functions._
    import graft.functions.GeoFunctions
    val poly = Seq((10.0, 0.02), (30.0, 0.04), (20.0, 0.08))
    val df = Tables.load(spark, sfDir, "lineitem")
      .filter(GeoFunctions.pointInPolygon(col("l_quantity"), col("l_discount"), poly))
    val once = graft.plans.PipBboxPushdown(df.queryExecution.analyzed)
    val twice = graft.plans.PipBboxPushdown(once)
    assert(once.toString === twice.toString)
  }

  test("graft_point_in_polygon works from pure SQL with literal polygon arrays") {
    val n = spark.sql(
      """SELECT count(*) FROM (SELECT explode(sequence(0, 40)) AS i) t
        |WHERE graft_point_in_polygon(CAST(i AS DOUBLE) / 10.0, CAST(i AS DOUBLE) / 10.0,
        |  array(0.0D, 4.0D, 4.0D, 0.0D), array(0.0D, 0.0D, 4.0D, 4.0D))""".stripMargin)
      .head.getLong(0)
    // diagonal points of the 4x4 square: (0,0) .. (3.9,3.9) are inside
    // (the even-odd rule counts the lower-left vertex in), (4,4) is out
    assert(n === 40L)
  }

  test("graft_dot works over the embeddings table in SQL") {
    spark.read.parquet(s"$sfDir/embeddings.parquet").createOrReplaceTempView("emb_v")
    val d = spark.sql(
      """SELECT graft_dot(a.embedding, b.embedding) AS d
        |FROM emb_v a JOIN emb_v b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .head.getDouble(0)
    assert(!d.isNaN)
    assert(math.abs(d) < 64.0) // 64 components in [-1, 1]-ish
  }

  test("ExplainAudit covers EVERY declared query (no drift from the registry)") {
    // a hand-maintained audit list silently exempted a third of the
    // board by round 6; the list is now derived, and this pin fails
    // loudly if a manual list ever comes back
    assert(ExplainAudit.audited.toSet === SparkEntry.queries.keySet)
    assert(ExplainAudit.audited === ExplainAudit.audited.sorted,
      "audit order must be deterministic for diffable PLANS artifacts")
  }

  test("ExplainAudit names its missing output path instead of writing a default file") {
    for (args <- Seq(Array.empty[String], Array(sfDir))) {
      val e = intercept[IllegalArgumentException](ExplainAudit.main(args))
      assert(e.getMessage.contains("output file are required"), e.getMessage)
    }
  }
}
