package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** Graph analytics over candidate-pair graphs (SURVEY §2.3) — the audit
  * layer on top of the dedup graph builders: [[Dedup]] turns buckets into
  * edges and components; these operators measure the GRAPH ITSELF
  * (clustering coefficient = how clique-like the near-dup neighborhoods
  * are — a sanity signal for LSH threshold tuning: random-pair noise has
  * coefficient ~0, true duplicate clusters ~1).
  */
object GraphOps {

  /** Block count for the two-stage node-frame float folds below. The
    * single-partition stage of every global reduction in this file reads
    * at most this many rows, whatever the graph size. */
  val FoldBlocks = 1024

  /** Deterministic two-stage ordered float total of `valueCol` over a
    * node-keyed frame — the de-funneled replacement for the flat
    * `sum().over(orderBy(v))` fold (which moved the WHOLE frame through
    * one window task). Stage 1 folds each block `((v % B) + B) % B` in
    * v-order (B-way parallel, partitioned windows); stage 2 folds the
    * ≤ B block sums in block order (one task over ≤ B rows — bounded by
    * construction, never by the data). The summation tree is fixed by
    * VALUES (block id and v-order), not by partitioning, so the result
    * is bit-identical across engines and cluster layouts; the DuckDB
    * twin [[blockTotalSql]] executes the identical tree.
    *
    * Yields a 0- or 1-row frame (`tot`) — 0 rows when the input is
    * empty, so callers keep their `coalesce(…, 0.0)` seam. */
  private[graft] def blockTotal(df: DataFrame, valueCol: String,
                         vCol: String = "v"): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val b = lit(FoldBlocks.toLong)
    val wb = W.partitionBy("blk").orderBy(vCol)
    val cb = wb.rowsBetween(W.unboundedPreceding, W.currentRow)
    val blockSums = df
      .withColumn("blk", ((col(vCol) % b) + b) % b)
      .withColumn("cum", sum(col(valueCol)).over(cb))
      .withColumn("rn", row_number().over(wb))
      .withColumn("nc", count(lit(1)).over(W.partitionBy("blk")))
      .filter(col("rn") === col("nc"))
      .select(col("blk"), col("cum").as("bs"))
    val wo = W.orderBy("blk")
    val co = wo.rowsBetween(W.unboundedPreceding, W.currentRow)
    blockSums
      .withColumn("cum", sum(col("bs")).over(co))
      .withColumn("rn", row_number().over(wo))
      .withColumn("nc", count(lit(1)).over())
      .filter(col("rn") === col("nc"))
      .select(col("cum").as("tot"))
  }

  /** DuckDB twin of [[blockTotal]]: a SELECT yielding one `cum` column
    * (0 or 1 rows) over `fromSub`, which must expose columns `v` and
    * `val`. Identical block ids, identical fold orders. */
  private def blockTotalSql(fromSub: String): String = {
    val b = FoldBlocks
    "SELECT cum FROM (SELECT " +
      "sum(bs) OVER (ORDER BY blk ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (ORDER BY blk) AS rn, count(*) OVER () AS nc " +
      "FROM (SELECT blk, cum AS bs FROM (SELECT blk, " +
      "sum(val) OVER (PARTITION BY blk ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
      "row_number() OVER (PARTITION BY blk ORDER BY v) AS rn, " +
      "count(*) OVER (PARTITION BY blk) AS nc " +
      s"FROM (SELECT ((v % $b) + $b) % $b AS blk, v, val FROM ($fromSub) bt0) bt1) bt2 " +
      "WHERE rn = nc) bt3) bt4 WHERE rn = nc"
  }

  /** The canonical undirected edge frame of the id-normalizing
    * operators: (a, b) with a < b, deduped; self-loops and null
    * endpoints drop. Ids are cast to long BEFORE least/greatest (ADVICE
    * r9 parity sweep): the oracles canonicalize on BIGINTs, and string
    * ids would otherwise compare lexicographically ("10" < "9") and
    * mis-orient or drop edges; on a long id column the cast is a no-op. */
  private def canonEdges(edges0: DataFrame, aCol: String,
                         bCol: String): DataFrame =
    edges0
      .select(least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"))
      .filter(col("a") < col("b")).distinct()

  /** Both orientations of an (a, b) edge frame as (x, y), each row
    * carrying the `carry` columns. */
  private def symmetric(e: DataFrame, x: String, y: String,
                        carry: String*): DataFrame = {
    def side(from: String, to: String) =
      e.select(col(from).as(x) +: col(to).as(y) +: carry.map(col): _*)
    side("a", "b").unionByName(side("b", "a"))
  }

  /** The materialized (v, w) adjacency of the canonical edge frame — the
    * starting state of the k-core peel and the BFS expansion. */
  private def adjacency(edges0: DataFrame, aCol: String,
                        bCol: String): DataFrame =
    symmetric(canonEdges(edges0, aCol, bCol), "v", "w").transform(PB.localCheckpoint)

  /** PageRank by power iteration over a directed edge list (source/domain
    * authority scoring — the quality prior CommonCrawl-style curation
    * feeds into mix weights). Fixed `iters` rounds of
    * `r' = (1−d)/N + d·(Σ_in r/deg + dangling/N)` with uniform teleport
    * and uniform dangling redistribution.
    *
    * Scale shape: edges dedup once (making (dst, src) a total order) and
    * localCheckpoint — each round reads materialized edges, not the
    * re-derived lineage (reliable checkpoint on a cluster). A round is
    * two 8-byte-key shuffles: ranks ⋈ degrees on src, contributions
    * grouped on dst. Per-dst contribution sums run as ordered cumsum
    * windows (order = src, total after dedup) and the dangling mass as
    * the two-stage [[blockTotal]] fold over the dangling-node set —
    * both deterministic float reductions, so ranks are bit-identical
    * across engines and partitionings. The dangling fold's
    * single-partition stage reads ≤ [[FoldBlocks]] block sums however
    * large the dangling set grows (the flat ordered fold it replaces
    * funneled every dangling node through one window task). For a
    * web-scale graph, giving dangling pages a self-loop at build time
    * remains the cheaper alternative (changes the stationary
    * distribution, documented trade-off).
    *
    * Nulls: an edge with a null endpoint is dropped by the self-loop
    * filter (null comparisons are not-true) — both engines agree; pass a
    * clean edge list if null endpoints should error instead.
    *
    * Output: (node, pagerank) — pagerank rounded to 6, sums to ~1. */
  def pageRank(edges0: DataFrame, iters: Int = 3, damping: Double = 0.85,
               srcCol: String = "src", dstCol: String = "dst"): DataFrame = PB.scoped {
    require(iters >= 1, "iters must be >= 1")
    val e = edges0
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(PB.localCheckpoint)
    // r18: fold every round-invariant piece out of the iteration plan —
    // the node count becomes a driver literal (it fed TWO broadcast-agg
    // subtrees per round), out-degree rides the checkpointed edge frame
    // (the per-round e⋈deg join disappears; +8 B/edge in the checkpoint),
    // and the dangling-node SET is materialized once (the per-round
    // ranks⋈deg left_anti becomes a join with the usually-small dangling
    // frame). Same float expression tree on the same values — ranks stay
    // bit-identical (n enters as the identical long-to-double cast).
    // r19: the node count rides the node checkpoint as an observation
    // (no separate count job), and the init ranks are a plain select
    // over the materialized node frame instead of one more checkpoint.
    val obsN = org.apache.spark.sql.Observation()
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
      .observe(obsN, count(lit(1)).as("n"))
      .transform(PB.localCheckpoint)
    val nL = PB.awaitObserved(obsN)("n").asInstanceOf[Long]
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val e2 = e.join(deg, Seq("src")).transform(PB.localCheckpoint) // (src, dst, deg)
    val dang = nodes.join(deg, nodes("v") === deg("src"), "left_anti")
      .transform(PB.localCheckpoint)
    val n = lit(nL)
    var ranks = nodes
      .select(col("v"), (lit(1.0) / n.cast("double")).as("r"))
    (1 to iters).foreach { _ =>
      val (dm, contrib) = rankInflow(ranks, dang, e2)
      ranks = PB.freshLocalCheckpoint(
        nodes.crossJoin(broadcast(dm))
          .join(contrib, nodes("v") === contrib("dst"), "left")
          .select(col("v"),
            ((lit(1.0) - lit(damping)) / n.cast("double") +
              lit(damping) * (coalesce(col("c"), lit(0.0)) +
                col("dm") / n.cast("double"))).as("r")))
    }
    ranks.select(col("v").as("node"), round(col("r"), 6).as("pagerank"))
  }

  /** One power-iteration round's inflow, shared by [[pageRank]] and
    * [[personalizedPageRank]]: the dangling mass `dm` (a 1-row frame,
    * 0.0 when no dangling node holds rank) and the per-dst contribution
    * sums `(dst, c)`, folded in src order. `ranks` is (v, r), `dang` the
    * dangling-node set (v), `e2` the (src, dst, deg) edge frame. */
  private def rankInflow(ranks: DataFrame, dang: DataFrame,
                         e2: DataFrame): (DataFrame, DataFrame) = {
    val W = org.apache.spark.sql.expressions.Window
    val ordd = W.partitionBy("dst").orderBy("src")
    val cumd = ordd.rowsBetween(W.unboundedPreceding, W.currentRow)
    val dangTot = blockTotal(
        ranks.join(dang, Seq("v")).select(col("v"), col("r")), "r")
      .select(lit(1).as("j"), col("tot").as("dm"))
    val dm = ranks.sparkSession.range(1).select(lit(1).as("j"))
      .join(dangTot, Seq("j"), "left")
      .select(coalesce(col("dm"), lit(0.0)).as("dm"))
    val contrib = e2.join(ranks, e2("src") === ranks("v"))
      .select(col("dst"), col("src"),
        (col("r") / col("deg").cast("double")).as("ct"))
      .withColumn("cum", sum(col("ct")).over(cumd))
      .withColumn("rn", row_number().over(ordd))
      .withColumn("nc", count(lit(1)).over(W.partitionBy("dst")))
      .filter(col("rn") === col("nc"))
      .select(col("dst"), col("cum").as("c"))
    (dm, contrib)
  }

  /** DuckDB oracle for [[pageRank]]: identical unrolled iteration CTEs —
    * same dedup, same ordered window folds, same float expression tree.
    * `edgesSub` is a `(SELECT … src, … dst FROM …)` subquery. */
  def pageRankSql(edgesSub: String, iters: Int, damping: Double): String = {
    val d = damping
    val iterCtes = (0 until iters).map { k =>
      s"dang$k AS (${blockTotalSql(
          s"SELECT r.v AS v, r.r AS val FROM r$k r LEFT JOIN deg ON r.v = deg.src WHERE deg.src IS NULL")}), " +
        s"dm$k AS (SELECT coalesce((SELECT cum FROM dang$k), 0.0) AS dm), " +
        s"ctr$k AS (SELECT dst, cum AS c FROM (SELECT e.dst, " +
        "sum(r.r / CAST(deg.deg AS DOUBLE)) OVER (PARTITION BY e.dst ORDER BY e.src " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "row_number() OVER (PARTITION BY e.dst ORDER BY e.src) AS rn, " +
        "count(*) OVER (PARTITION BY e.dst) AS nc " +
        s"FROM e JOIN r$k r ON e.src = r.v JOIN deg ON e.src = deg.src) " +
        "WHERE rn = nc), " +
        s"r${k + 1} AS (SELECT nodes.v, " +
        s"((1.0 - $d) / CAST(n AS DOUBLE)) + $d * (coalesce(c, 0.0) + dm / CAST(n AS DOUBLE)) AS r " +
        s"FROM nodes CROSS JOIN nn CROSS JOIN dm$k " +
        s"LEFT JOIN ctr$k ON nodes.v = ctr$k.dst)"
    }.mkString(", ")
    "WITH e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst " +
      s"FROM $edgesSub WHERE src <> dst), " +
      "nodes AS (SELECT DISTINCT v FROM " +
      "(SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)), " +
      "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes), " +
      "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src), " +
      "r0 AS (SELECT v, 1.0 / CAST(n AS DOUBLE) AS r FROM nodes CROSS JOIN nn), " +
      s"$iterCtes " +
      s"SELECT v AS node, round(r, 6) AS pagerank FROM r$iters ORDER BY node"
  }

  /** Synchronous label propagation (Raghavan et al. 0709.2938) over an
    * undirected edge list, `iters` rounds unrolled: every node adopts the
    * label most frequent among its neighbours, ties broken by smallest
    * label — the deterministic variant of LPA's random tie-break, which is
    * what makes the result reproducible across engines AND partitionings.
    * Communities (dense near-dup clusters, co-citation groups) emerge
    * without the full converge-to-one-component behaviour of connected
    * components ([[Dedup]]'s star contraction): at fixed k the labels
    * reflect k-hop neighbourhood structure.
    *
    * Scale shape: the symmetrized edge list materializes once
    * (localCheckpoint — reliable checkpoint on a cluster); each round is
    * ONE join shuffle on the 8-byte src key + one map-side-combined
    * (dst, lbl) count + a per-dst argmax window (bounded by distinct
    * neighbour labels, ≤ degree). All integer — no float fold anywhere.
    * Nulls and self-loops drop in canonicalization (both engines agree).
    *
    * Output: (node, label), one row per node with ≥1 edge. */
  def labelProp(edges0: DataFrame, iters: Int = 3,
                aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    require(iters >= 1 && iters <= 8, "iters must be in [1, 8] (unrolled rounds)")
    val W = org.apache.spark.sql.expressions.Window
    val sym = symmetric(canonEdges(edges0, aCol, bCol), "src", "dst")
      .transform(PB.localCheckpoint)
    var labels = sym.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("lbl")).transform(PB.localCheckpoint)
    val argmax = W.partitionBy("dst").orderBy(col("cnt").desc, col("lbl"))
    (1 to iters).foreach { _ =>
      labels = PB.freshLocalCheckpoint(
        sym.join(labels, sym("src") === labels("v"))
          .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("cnt"))
          .withColumn("rn", row_number().over(argmax))
          .filter(col("rn") === 1)
          .select(col("dst").as("v"), col("lbl")))
    }
    labels.select(col("v").as("node"), col("lbl").as("label"))
  }

  /** DuckDB oracle for [[labelProp]] — identical canonicalization,
    * per-round count / deterministic-argmax CTE chain. `edgesSub` is a
    * `(SELECT … a, … b FROM …)` subquery. */
  def labelPropSql(edgesSub: String, iters: Int): String = {
    val iterCtes = (0 until iters).map { k =>
      s"c$k AS (SELECT s.dst, l.lbl, CAST(count(*) AS BIGINT) AS cnt " +
        s"FROM sym s JOIN l$k l ON s.src = l.v GROUP BY s.dst, l.lbl), " +
        s"l${k + 1} AS (SELECT dst AS v, lbl FROM (SELECT dst, lbl, " +
        "row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl) AS rn " +
        s"FROM c$k) WHERE rn = 1)"
    }.mkString(", ")
    "WITH und AS (SELECT DISTINCT least(CAST(a AS BIGINT), CAST(b AS BIGINT)) AS a, " +
      s"greatest(CAST(a AS BIGINT), CAST(b AS BIGINT)) AS b FROM $edgesSub " +
      "WHERE CAST(a AS BIGINT) <> CAST(b AS BIGINT) AND a IS NOT NULL AND b IS NOT NULL), " +
      "sym AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und), " +
      "l0 AS (SELECT DISTINCT src AS v, src AS lbl FROM sym), " +
      s"$iterCtes " +
      s"SELECT v AS node, lbl AS label FROM l$iters ORDER BY node"
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) by power iteration over a
    * directed edge list, `iters` rounds unrolled — [[pageRank]]'s
    * query-dependent sibling: authorities are pages many good hubs point
    * AT, hubs are pages that point at many good authorities. In curation
    * the split matters where pageRank's single score doesn't: link-farm
    * hubs score high on hub-ness but low on authority, so the authority
    * column is the cleaner quality prior for OUTLINK-heavy sources.
    *
    * Each round: `auth(v) = Σ_{u→v} hub(u)` then L1-normalize, then
    * `hub(u) = Σ_{u→v} auth(v)` then L1-normalize. L1 (sum) rather than
    * the classical L2 norm keeps every reduction a plain ordered sum —
    * same fixed point direction, deterministic across engines and
    * partitionings; documented trade-off.
    *
    * Scale shape: edges dedup once + localCheckpoint (reliable checkpoint
    * on a cluster); a round is two 8-byte-key join shuffles (hub on src,
    * auth on dst). Per-node sums are ordered cumsum windows (by the other
    * endpoint — a total order after dedup) and each L1 normalizer is the
    * two-stage [[blockTotal]] fold over the node frame (single-partition
    * stage bounded at [[FoldBlocks]] rows, same shape as pageRank's
    * dangling fold) broadcast back — so scores are bit-identical on both
    * engines. Nodes without in-edges hold authority
    * 0 (resp. out-edges / hub 0); null-endpoint edges drop in the
    * self-loop filter on both engines.
    *
    * Output: (node, hub, authority), rounded to 6; each column sums to 1
    * over its support. */
  def hits(edges0: DataFrame, iters: Int = 3,
           srcCol: String = "src", dstCol: String = "dst"): DataFrame = PB.scoped {
    require(iters >= 1 && iters <= 6, "iters must be in [1, 6] (unrolled rounds)")
    val W = org.apache.spark.sql.expressions.Window
    val e = edges0
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(PB.localCheckpoint)
    val nodes = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
      .transform(PB.localCheckpoint)
    // two-stage block fold over the node frame -> a 1-row total,
    // broadcast back; the single-partition stage reads <= FoldBlocks
    // block sums, never the node frame itself
    def l1Total(scores: DataFrame, c: String): DataFrame =
      blockTotal(scores.select(col("v"), col(c)), c)
    // r19: ONE action per ITERATION (was one per half-round + an init
    // checkpoint): the auth half rides the hub half's checkpoint as a
    // sized lazy shared checkpoint (stats pinned to the measured node
    // checkpoint — inherited estimates flip small joins to SMJ, the
    // louvain lesson), and the init scores are a plain select over the
    // materialized node frame (re-computing it per reference is a
    // narrow scan, not a join). Same float tree — bit-identical.
    val sizeHint = PB.measuredCheckpointSize(nodes).map(_ * 2L)
    // per-node ordered sum of the other endpoint's score, L1-normalized;
    // returns the plan + the shared intermediate to release post-action
    def halfRound(scores: DataFrame, joinKey: String,
                  groupKey: String): (DataFrame, DataFrame) = {
      val ordg = W.partitionBy(groupKey).orderBy(joinKey)
      val cumg = ordg.rowsBetween(W.unboundedPreceding, W.currentRow)
      val raw = e.join(scores, e(joinKey) === scores("v"))
        .select(col(groupKey), col(joinKey), col("s"))
        .withColumn("cum", sum(col("s")).over(cumg))
        .withColumn("rn", row_number().over(ordg))
        .withColumn("nc", count(lit(1)).over(W.partitionBy(groupKey)))
        .filter(col("rn") === col("nc"))
        .select(col(groupKey).as("gv"), col("cum").as("raw"))
      // full feeds the L1 normalizer AND the payload — shared-checkpoint
      // it (r18) so the e⋈scores join + window subtree runs once per
      // half-round, not twice
      val full = PB.sharedLocalCheckpoint(
        nodes.join(raw, nodes("v") === col("gv"), "left")
          .select(col("v"), coalesce(col("raw"), lit(0.0)).as("raw")),
        sizeHint)
      (full.crossJoin(broadcast(l1Total(full, "raw")))
        .select(col("v"), (col("raw") / col("tot")).as("s")), full)
    }
    var hub = nodes.select(col("v"), lit(1.0).as("s"))
    var auth = hub
    (1 to iters).foreach { _ =>
      val (authPlan, fullA) = halfRound(hub, "src", "dst") // Σ hub(in-nbrs)
      val authS = PB.sharedLocalCheckpoint(authPlan, sizeHint)
      val (hubPlan, fullH) = halfRound(authS, "dst", "src") // Σ auth(out)
      val hubCk = PB.freshLocalCheckpoint(hubPlan)
      // the superseded round (a no-op for the plain init scores)
      Seq(fullA, fullH, auth, hub).foreach(PB.release)
      auth = authS; hub = hubCk
    }
    hub.select(col("v"), col("s").as("h"))
      .join(auth.select(col("v"), col("s").as("a")), Seq("v"))
      .select(col("v").as("node"), round(col("h"), 6).as("hub"),
        round(col("a"), 6).as("authority"))
  }

  /** DuckDB oracle for [[hits]] — identical dedup, ordered per-node
    * cumsum folds, two-stage block-fold L1 normalizers and float tree.
    * `edgesSub` is a `(SELECT … src, … dst FROM …)` subquery. */
  def hitsSql(edgesSub: String, iters: Int): String = {
    // per-round CTE pair: raw ordered sums + L1 normalize via the same
    // rn = nc fold over the node frame
    def half(k: Int, in: String, outPrefix: String, joinKey: String,
             groupKey: String): String = {
      val raw = s"${outPrefix}raw$k"
      val tot = s"${outPrefix}tot$k"
      s"$raw AS (SELECT nodes.v, coalesce(g.cum, 0.0) AS raw FROM nodes " +
        s"LEFT JOIN (SELECT $groupKey AS gv, cum FROM (SELECT e.$groupKey, " +
        s"sum(s.s) OVER (PARTITION BY e.$groupKey ORDER BY e.$joinKey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        s"row_number() OVER (PARTITION BY e.$groupKey ORDER BY e.$joinKey) AS rn, " +
        s"count(*) OVER (PARTITION BY e.$groupKey) AS nc " +
        s"FROM e JOIN $in s ON e.$joinKey = s.v) WHERE rn = nc) g " +
        "ON nodes.v = g.gv), " +
        s"$tot AS (SELECT cum AS tot FROM " +
        s"(${blockTotalSql(s"SELECT v, raw AS val FROM $raw")}) btq), " +
        s"$outPrefix${k + 1} AS (SELECT v, raw / tot AS s FROM $raw CROSS JOIN $tot)"
    }
    val iterCtes = (0 until iters).map { k =>
      // auth round k+1 reads hub round k; hub round k+1 reads the
      // just-computed auth round k+1 (prefixes keep the CTE names unique)
      half(k, s"h$k", "a", "src", "dst") + ", " +
        half(k, s"a${k + 1}", "h", "dst", "src")
    }.mkString(", ")
    "WITH e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst " +
      s"FROM $edgesSub WHERE src <> dst), " +
      "nodes AS (SELECT DISTINCT v FROM " +
      "(SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)), " +
      "h0 AS (SELECT v, 1.0 AS s FROM nodes), " +
      s"$iterCtes " +
      s"SELECT h.v AS node, round(h.s, 6) AS hub, round(a.s, 6) AS authority " +
      s"FROM h$iters h JOIN a$iters a ON h.v = a.v ORDER BY node"
  }

  /** Exact triangle count + global clustering coefficient of an
    * undirected graph given as an edge list (any orientation/dups — the
    * edge set is canonicalized first).
    *
    * The compute-bounding trick is orientation: every triangle x<y<z is
    * counted exactly once by joining oriented edges (x,y)⋈(y,z) into
    * wedges and semi-joining the closing edge (x,z) — three shuffles on
    * 8-byte vertex keys, never an all-pairs step. Wedge totals come from
    * the degree frame (Σ deg·(deg−1)/2, exact integers). The canonical
    * edge set is localCheckpoint-ed: four downstream aggregates read the
    * materialized edges instead of re-deriving the (possibly expensive)
    * candidate-pair lineage; on a cluster that is a reliable-storage
    * checkpoint. For skewed degree distributions the standard refinement
    * is degree orientation (low-degree endpoint first), which bounds the
    * per-vertex wedge fan-out by arboricity without changing the count —
    * id orientation keeps the oracle tree identical, which is what makes
    * the result hash-verifiable.
    *
    * Output: one row (n_vertices, n_edges, n_wedges, n_triangles,
    * clustering_coeff = 3·triangles/wedges).
    */
  def triangleStats(edges0: DataFrame,
                    aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val e = edges0
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .transform(PB.localCheckpoint)
    val degs = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val wedges = e.as("e1").join(e.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e2.b").as("z"))
    val closed = wedges.join(e.as("e3"),
      col("x") === col("e3.a") && col("z") === col("e3.b"), "left_semi")
    degs.agg(count(lit(1)).as("n_vertices"))
      .crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(degs.agg(
        coalesce(sum(expr("deg * (deg - 1) div 2")), lit(0L)).as("n_wedges")))
      .crossJoin(closed.agg(count(lit(1)).as("n_triangles")))
      .select(col("n_vertices"), col("n_edges"), col("n_wedges"), col("n_triangles"),
        when(col("n_wedges") > 0,
          round((lit(3.0) * col("n_triangles").cast("double")) /
            col("n_wedges").cast("double"), 6))
          .otherwise(lit(0.0)).as("clustering_coeff"))
  }

  /** Degree assortativity (Newman 2002) of an undirected simple graph:
    * Pearson correlation of endpoint degrees over the ORIENTED edge list
    * (each undirected edge contributes both (dₐ,d_b) and (d_b,dₐ), the
    * standard convention that makes Σx == Σy). Near-dup graphs with
    * assortativity ~ +1 are clique-y (true duplicate clusters); strongly
    * negative values flag hub-spoke artifacts (a boilerplate template
    * matching everything) — a structural audit for the dedup pair stage.
    *
    * Exactness: degrees are integers, so all five moments accumulate as
    * DECIMAL(38,0) (partitioning-invariant, overflow-safe at any SF —
    * Σd² can pass 2^63 on 100 TB graphs), and r is ONE fixed double tree
    * over them, bit-identical to the oracle. Symmetry (Σx = Σy) is used
    * so only three moment sums are needed.
    *
    * Scale shape: dedup + two 8-byte-key joins to attach endpoint
    * degrees (the degree frame is vertex-sized — joined, not broadcast),
    * then one map-side-combined global aggregate. No windows, no
    * collects. */
  def degreeAssortativity(edges0: DataFrame, aCol: String = "a",
                          bCol: String = "b"): DataFrame = PB.scoped {
    val e = edges0
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .transform(PB.localCheckpoint)
    val degs = e.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val withDeg = e
      .join(degs.withColumnRenamed("v", "a").withColumnRenamed("deg", "da"), "a")
      .join(degs.withColumnRenamed("v", "b").withColumnRenamed("deg", "db"), "b")
    val m = withDeg.agg(
      count(lit(1)).as("n_edges"),
      sum(dec(col("da") + col("db"))).as("sx"),
      sum(dec(col("da") * col("da") + col("db") * col("db"))).as("sxx"),
      sum(dec(lit(2L) * col("da") * col("db"))).as("sxy"))
    val nD = (col("n_edges") * lit(2L)).cast("double") // oriented count
    val sxD = col("sx").cast("double")
    val num = nD * col("sxy").cast("double") - sxD * sxD
    val den = nD * col("sxx").cast("double") - sxD * sxD
    m.select(col("n_edges"),
      when(den > 0, round(num / den, 6))
        .otherwise(lit(null).cast("double")).as("assortativity"))
  }

  /** k-core peel, `rounds` synchronous rounds: repeatedly drop vertices
    * of degree < k (and their incident edges). The true k-core is this
    * iterated to fixpoint; like pageRank/labelProp/bpeTrain the operator
    * pins a FIXED round count so the oracle can unroll the identical
    * chain — [[kCoreFixpoint]] is the production form that re-applies
    * the same peel to exact convergence. Cores locate the dense center of a
    * near-dup graph (aggressive-dedup targets) vs the degree-<k fringe.
    *
    * Scale shape per round: one map-side-combined degree count + two
    * 8-byte-key LEFT SEMI joins against the (small) alive-vertex set —
    * the adjacency never broadcasts, never windows. Output is the
    * surviving vertices with their residual degree. */
  def kCore(edges0: DataFrame, k: Int, rounds: Int = 4,
            aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    var adj = adjacency(edges0, aCol, bCol)
    for (_ <- 1 to rounds) adj = peel(adj, k).transform(PB.localCheckpoint)
    adj.groupBy(col("v").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** One synchronous k-core peel of a (v, w) adjacency: drop every edge
    * with an endpoint of degree < k. */
  private def peel(adj: DataFrame, k: Int): DataFrame = {
    val alive = adj.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("v"))
    adj
      .join(alive, Seq("v"), "left_semi")
      .join(alive.withColumnRenamed("v", "w"), Seq("w"), "left_semi")
      .select(col("v"), col("w"))
  }

  /** [[kCore]] peeled to EXACT fixpoint — the production entry point:
    * the true k-core needs as many synchronous rounds as the peel
    * cascade is deep (a chain graph cascades from the endpoints inward,
    * one layer per round), so the fixed-round form over-reports the
    * core on deep-cascade graphs. This form re-applies the identical
    * peel until the adjacency stops changing — the peel only removes
    * edges and its fixed point is stable (every surviving vertex has
    * residual degree ≥ k), so the [[Dedup.iterateToEdgeFixpoint]]
    * set-equality certificate applies directly. Keep the fixed-round
    * twin for the unrolled-SQL oracle face. */
  def kCoreFixpoint(edges0: DataFrame, k: Int, maxRounds: Int = 64,
                    aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val adj = Dedup.iterateToEdgeFixpoint(adjacency(edges0, aCol, bCol),
      maxRounds, "kCoreFixpoint")(peel(_, k))
    adj.groupBy(col("v").as("node")).agg(count(lit(1)).as("deg"))
  }

  /** DuckDB oracle for [[kCore]] — the identical peel chain, unrolled.
    * Every CTE is MATERIALIZED: adj/alive are each referenced twice per
    * round, and DuckDB's default CTE inlining would re-expand the chain
    * exponentially in `rounds` (measured: the 4-round chain hangs
    * un-materialized, runs in milliseconds materialized). */
  def kCoreSql(edgesSub: String, k: Int, rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b " +
      s"FROM $edgesSub WHERE least(a, b) < greatest(a, b)), " +
      "adj0 AS MATERIALIZED (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e)"
    for (r <- 1 to rounds) {
      sb ++= s", alive$r AS MATERIALIZED (SELECT v FROM (SELECT v, count(*) AS deg " +
        s"FROM adj${r - 1} GROUP BY v) d WHERE deg >= $k)"
      sb ++= s", adj$r AS MATERIALIZED (SELECT adj.v, adj.w FROM adj${r - 1} adj " +
        s"JOIN alive$r x ON adj.v = x.v JOIN alive$r y ON adj.w = y.v)"
    }
    sb ++= s" SELECT v AS node, CAST(count(*) AS BIGINT) AS deg " +
      s"FROM adj$rounds GROUP BY v"
    sb.toString
  }

  /** Link prediction by the Resource-Allocation index (Zhou et al.
    * 2009): for every non-adjacent pair (u,v), RA = Σ over common
    * neighbors m of 1/deg(m); top-`topK` pairs. On a near-dup candidate
    * graph this ranks the pairs the LSH stage most plausibly MISSED
    * (two docs sharing many low-degree neighbors are almost surely
    * duplicates themselves) — a false-negative recovery pass that costs
    * graph-shaped work instead of re-banding the corpus. RA over
    * Adamic-Adar's 1/ln(deg) is deliberate: 1/deg is a single IEEE
    * division (bit-identical cross-engine), while ln is a libm call with
    * no exactness guarantee — and RA benchmarks as the stronger index
    * anyway.
    *
    * Portability: per-pair terms fold in SORTED order (sort_array /
    * list_sort before the seeded left fold — the established portable
    * float reduction), so scores hash-verify.
    *
    * Scale shape: wedge join on the middle vertex (the triangleStats
    * shape; degree-orient or cap hot middles at web scale — a celebrity
    * vertex contributes deg² wedges), one anti-join against the edge
    * set, one map-side-combined pair aggregate, global top-k =
    * TakeOrdered. */
  def linkPredictRA(edges0: DataFrame, topK: Int = 50, aCol: String = "a",
                    bCol: String = "b"): DataFrame = PB.scoped {
    val e = edges0
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .transform(PB.localCheckpoint)
    val adj = symmetric(e, "m", "x")
    val deg = adj.groupBy(col("m")).agg(count(lit(1)).as("deg"))
    val wedges = adj.as("l").join(adj.as("r"),
        col("l.m") === col("r.m") && col("l.x") < col("r.x"))
      .select(col("l.x").as("u"), col("r.x").as("v"), col("l.m").as("m"))
    val nonEdges = wedges.join(e,
      wedges("u") === e("a") && wedges("v") === e("b"), "left_anti")
    val terms = nonEdges.join(deg, Seq("m"))
    terms.groupBy(col("u"), col("v"))
      .agg(count(lit(1)).as("n_common"),
        sort_array(collect_list(col("deg"))).as("_degs"))
      .select(col("u"), col("v"), col("n_common"),
        round(aggregate(
          transform(col("_degs"), d => lit(1.0) / d.cast("double")),
          lit(0.0), (acc, t) => acc + t), 6).as("ra"))
      .orderBy(col("ra").desc, col("u"), col("v"))
      .limit(topK)
  }

  /** DuckDB oracle for [[linkPredictRA]] — identical wedge set, sorted
    * fold, and tie-break. */
  def linkPredictRASql(edgesSub: String, topK: Int = 50): String =
    s"WITH e AS MATERIALIZED (SELECT DISTINCT least(a, b) AS a, " +
      s"greatest(a, b) AS b FROM $edgesSub " +
      "WHERE least(a, b) < greatest(a, b)), " +
      "adj AS MATERIALIZED (SELECT a AS m, b AS x FROM e " +
      "UNION ALL SELECT b, a FROM e), " +
      "deg AS (SELECT m, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY m), " +
      "w AS (SELECT l.x AS u, r.x AS v, l.m AS m FROM adj l " +
      "JOIN adj r ON l.m = r.m AND l.x < r.x), " +
      "nw AS (SELECT u, v, m FROM w WHERE NOT EXISTS " +
      "(SELECT 1 FROM e WHERE e.a = w.u AND e.b = w.v)), " +
      "g AS (SELECT u, v, CAST(count(*) AS BIGINT) AS n_common, " +
      "list_sort(list(d.deg)) AS degs " +
      "FROM nw JOIN deg d ON nw.m = d.m GROUP BY u, v) " +
      "SELECT u, v, n_common, round(list_reduce(list_prepend(" +
      "CAST(0.0 AS DOUBLE), list_transform(degs, " +
      "x -> CAST(1.0 AS DOUBLE) / CAST(x AS DOUBLE))), " +
      "(acc, t) -> acc + t), 6) AS ra " +
      s"FROM g ORDER BY ra DESC, u, v LIMIT $topK"

  /** DuckDB oracle for [[degreeAssortativity]]: identical edge dedup,
    * identical integer moments (HUGEINT), identical double tree. */
  def degreeAssortativitySql(edgesSub: String): String =
    s"WITH e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b " +
      s"FROM $edgesSub WHERE least(a, b) < greatest(a, b)), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM " +
      "(SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) ve GROUP BY v), " +
      "wd AS (SELECT da.deg AS da, db.deg AS db FROM e " +
      "JOIN deg da ON e.a = da.v JOIN deg db ON e.b = db.v), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges, " +
      "sum(da + db) AS sx, sum(da * da + db * db) AS sxx, " +
      "sum(2 * da * db) AS sxy FROM wd), " +
      "c AS (SELECT n_edges, CAST(n_edges * 2 AS DOUBLE) AS nd, " +
      "CAST(sx AS DOUBLE) AS sxd, CAST(sxx AS DOUBLE) AS sxxd, " +
      "CAST(sxy AS DOUBLE) AS sxyd FROM m) " +
      "SELECT n_edges, CASE WHEN (nd * sxxd - sxd * sxd) > 0 THEN " +
      "round((nd * sxyd - sxd * sxd) / (nd * sxxd - sxd * sxd), 6) END " +
      "AS assortativity FROM c"

  /** Multi-source BFS hop distance, `rounds` frontier expansions: every
    * vertex reachable from the seed set within `rounds` hops gets its
    * MINIMUM hop count (frontier sets guarantee minimality — a vertex is
    * labeled the first round it appears and anti-joined out of later
    * frontiers). The blast-radius / contamination-spread primitive: seed
    * with known-bad documents in a near-dup graph and the hop label says
    * how far the taint plausibly propagates. Fixed-round form (pagerank
    * convention) so the oracle unrolls the identical chain; at scale you
    * loop until the frontier empties.
    *
    * Scale shape per round: one 8-byte-key join of the adjacency against
    * the CURRENT FRONTIER only (not the full visited set — the join
    * shrinks as expansion saturates), one distinct, one anti-join against
    * the visited set; localCheckpoint truncates lineage per round.
    * Visited state is vertex-count-bounded. */
  def bfsHops(edges0: DataFrame, seeds: DataFrame, rounds: Int = 4,
              aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val adj = adjacency(edges0, aCol, bCol)
    var dist = bfsSeeds(seeds)
    var frontier = dist.select(col("node"))
    for (r <- 1 to rounds) {
      val next = PB.freshLocalCheckpoint(
        expand(adj, frontier, dist))
      dist = dist.unionByName(next.withColumn("hops", lit(r.toLong)))
        .transform(PB.localCheckpoint)
      frontier = next
    }
    dist
  }

  /** The hop-0 BFS labels (node, hops): the seeds, cast to long like the
    * edge ids so the frontier join key types always agree. */
  private def bfsSeeds(seeds: DataFrame): DataFrame =
    seeds.select(col("node").cast("long").as("node"), lit(0L).as("hops"))
      .distinct().transform(PB.localCheckpoint)

  /** One BFS frontier expansion: the neighbours of `frontier` (node)
    * over the (v, w) adjacency that hold no label in `dist` yet. */
  private def expand(adj: DataFrame, frontier: DataFrame,
                     dist: DataFrame): DataFrame =
    adj
      .join(frontier.withColumnRenamed("node", "v"), Seq("v"))
      .select(col("w").as("node")).distinct()
      .join(dist, Seq("node"), "left_anti")

  /** [[bfsHops]] run to EXHAUSTION — the production entry point: the
    * frontier expands until it empties (every node reachable from the
    * seed set holds its true hop distance, whatever the graph
    * diameter), where the fixed-round form truncates labels at `rounds`
    * hops. Termination is structural — each round's frontier is
    * anti-joined against everything already labeled, so a node enters
    * `dist` at most once and the loop runs at most diameter rounds;
    * `maxRounds` only guards against a pathological diameter. */
  def bfsHopsFixpoint(edges0: DataFrame, seeds: DataFrame,
                      maxRounds: Int = 4096,
                      aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val adj = adjacency(edges0, aCol, bCol)
    var dist = bfsSeeds(seeds)
    var frontier = dist.select(col("node"))
    var r = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && r < maxRounds) {
      r += 1
      val next = PB.freshLocalCheckpoint(
        expand(adj, frontier, dist))
      frontierSize = next.count()
      if (frontierSize > 0)
        dist = dist.unionByName(next.withColumn("hops", lit(r.toLong)))
          .transform(PB.localCheckpoint)
      frontier = next
    }
    if (frontierSize > 0)
      throw new IllegalStateException(
        s"bfsHopsFixpoint: frontier still non-empty after maxRounds=$maxRounds")
    dist
  }

  /** DuckDB oracle for [[bfsHops]] — the identical frontier chain,
    * unrolled, every CTE MATERIALIZED (the kCore lesson: default CTE
    * inlining re-expands chains referenced twice per round
    * exponentially). */
  def bfsHopsSql(edgesSub: String, seedsSub: String, rounds: Int = 4): String = {
    val sb = new StringBuilder
    sb ++= s"WITH e AS MATERIALIZED (SELECT DISTINCT least(a, b) AS a, " +
      s"greatest(a, b) AS b FROM $edgesSub WHERE least(a, b) < greatest(a, b)), " +
      "adj AS MATERIALIZED (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e), " +
      s"d0 AS MATERIALIZED (SELECT DISTINCT node, CAST(0 AS BIGINT) AS hops FROM $seedsSub), " +
      "f0 AS MATERIALIZED (SELECT node FROM d0)"
    for (r <- 1 to rounds) {
      sb ++= s", f$r AS MATERIALIZED (SELECT DISTINCT w AS node FROM adj " +
        s"JOIN f${r - 1} f ON adj.v = f.node " +
        s"WHERE NOT EXISTS (SELECT 1 FROM d${r - 1} d WHERE d.node = adj.w))"
      sb ++= s", d$r AS MATERIALIZED (SELECT node, hops FROM d${r - 1} " +
        s"UNION ALL SELECT node, CAST($r AS BIGINT) FROM f$r)"
    }
    sb ++= s" SELECT node, hops FROM d$rounds"
    sb.toString
  }

  /** Newman modularity of a community assignment over an undirected
    * graph: `Q = Σ_c [e_c/m − (d_c/2m)²]` — the quality audit for
    * [[labelProp]] (or any clustering of the near-dup graph): Q near 0
    * means the "communities" are no better than random edge placement,
    * so a dedup stage keyed on them would merge arbitrary documents.
    *
    * Exactness: rewritten to the single-fraction integer form
    * `(4m·Σe_c − Σd_c²) / (4m²)` — all moments DECIMAL(38,0) (d_c² and
    * 4m² overflow BIGINT at 100 TB edge counts), ONE double division at
    * the end ⇒ hash-verified.
    *
    * Scale shape: edge canonicalization + two label joins on 8-byte
    * keys, one map-side-combined degree count; the per-community sums
    * run on the COMMUNITY frame (domain-bounded). Edges whose endpoint
    * has no label drop from intra/degree mass but still count in m —
    * pass a total assignment for the classical quantity.
    *
    * Output: one row (n_edges, intra_edges, modularity). */
  def modularity(edges0: DataFrame, labels: DataFrame,
                 aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val e = canonEdges(edges0, aCol, bCol)
      .transform(PB.localCheckpoint) // reused by m, intra and the degree count
    val l = labels.select(col("node"), col("label"))
    val m = e.agg(count(lit(1)).as("n_edges"))
    val intra = e
      .join(l.select(col("node").as("a"), col("label").as("la")), Seq("a"))
      .join(l.select(col("node").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .agg(count(lit(1)).as("intra_edges"))
    val deg = e.select(col("a").as("v")).unionByName(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    def dec(c: Column) = c.cast("decimal(38,0)")
    val s2 = deg.join(l.withColumnRenamed("node", "v"), Seq("v"))
      .groupBy("label").agg(sum(col("deg")).as("dsum"))
      .agg(coalesce(sum(dec(col("dsum")) * dec(col("dsum"))),
        lit(0).cast("decimal(38,0)")).as("s2"))
    m.crossJoin(intra).crossJoin(s2)
      .select(col("n_edges"), col("intra_edges"),
        round((dec(lit(4)) * dec(col("n_edges")) * dec(col("intra_edges")) -
          col("s2")).cast("double") /
          (lit(4.0) * col("n_edges").cast("double") * col("n_edges").cast("double")),
          6).as("modularity"))
  }

  /** DuckDB oracle for [[modularity]] — identical canonicalization,
    * HUGEINT moments, same terminal double tree. `labelsSub` must yield
    * (node, label) with its own WITH chain allowed. */
  def modularitySql(edgesSub: String, labelsSub: String): String =
    "WITH e AS MATERIALIZED (SELECT DISTINCT least(CAST(a AS BIGINT), CAST(b AS BIGINT)) AS a, " +
      s"greatest(CAST(a AS BIGINT), CAST(b AS BIGINT)) AS b FROM $edgesSub " +
      "WHERE CAST(a AS BIGINT) <> CAST(b AS BIGINT)), " +
      s"lbl AS MATERIALIZED (SELECT node, label FROM ($labelsSub) ls), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e), " +
      "intra AS (SELECT CAST(count(*) AS BIGINT) AS intra_edges FROM e " +
      "JOIN lbl la ON e.a = la.node JOIN lbl lb ON e.b = lb.node " +
      "WHERE la.label = lb.label), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM " +
      "(SELECT a AS v FROM e UNION ALL SELECT b FROM e) ve GROUP BY v), " +
      "s2 AS (SELECT coalesce(sum(CAST(dsum AS HUGEINT) * dsum), 0) AS s2 FROM " +
      "(SELECT label, CAST(sum(deg) AS BIGINT) AS dsum FROM deg " +
      "JOIN lbl ON deg.v = lbl.node GROUP BY label) dc) " +
      "SELECT n_edges, intra_edges, " +
      "round(CAST(4 * CAST(n_edges AS HUGEINT) * intra_edges - s2 AS DOUBLE) / " +
      "(4.0 * CAST(n_edges AS DOUBLE) * CAST(n_edges AS DOUBLE)), 6) AS modularity " +
      "FROM m CROSS JOIN intra CROSS JOIN s2"

  /** Personalized PageRank (random walk with restart to a SEED set):
    * [[pageRank]] with the teleport vector concentrated on seeds —
    * `r = (1−d)·p + d·(Wᵀr + dm·p)` with `p_v = 1/|S|` on seeds, else
    * 0. THE graph-proximity score for seed-anchored curation: "rank
    * every document by closeness to this trusted (or poisoned) set" —
    * q_bfs_hops' hop label with mass instead of distance. Same
    * fixed-round unrolled form, same ordered-window float folds (the
    * portable reduction), so ranks hash-verify.
    *
    * Scale shape per round: identical to pageRank — one join shuffle on
    * the 8-byte src key, per-dst ordered cumsum, two-stage [[blockTotal]]
    * dangling fold (single-partition stage ≤ [[FoldBlocks]] rows); the
    * seed indicator joins once up front. */
  def personalizedPageRank(edges0: DataFrame, seeds: DataFrame,
                           iters: Int = 3, damping: Double = 0.85,
                           srcCol: String = "src", dstCol: String = "dst"): DataFrame = PB.scoped {
    require(iters >= 1, "iters must be >= 1")
    val e = edges0
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(PB.localCheckpoint)
    val nodes0 = e.select(col("src").as("v"))
      .unionByName(e.select(col("dst").as("v"))).distinct()
    val sd = seeds.select(col("node").cast("long").as("v")).distinct()
    val ns = sd.agg(count(lit(1)).as("ns"))
    // p_v as one double division; non-seed nodes carry exact 0.0
    val nodes = nodes0
      .join(sd.withColumn("is_seed", lit(true)), Seq("v"), "left")
      .crossJoin(broadcast(ns))
      .select(col("v"),
        when(col("is_seed"), lit(1.0) / col("ns").cast("double"))
          .otherwise(lit(0.0)).as("p"))
      .transform(PB.localCheckpoint)
    // r18: same round-invariant folding as [[pageRank]] — out-degree
    // rides the checkpointed edge frame, the dangling-node set
    // materializes once, and the dm anchor is a literal 1-row range
    // (ns fed a broadcast-agg subtree per round). Floats unchanged.
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val e2 = e.join(deg, Seq("src")).transform(PB.localCheckpoint) // (src, dst, deg)
    val dang = nodes.select("v")
      .join(deg, nodes("v") === deg("src"), "left_anti")
      .transform(PB.localCheckpoint)
    var ranks = nodes.select(col("v"), col("p").as("r")).transform(PB.localCheckpoint)
    (1 to iters).foreach { _ =>
      val (dm, contrib) = rankInflow(ranks, dang, e2)
      ranks = nodes.crossJoin(broadcast(dm))
        .join(contrib, nodes("v") === contrib("dst"), "left")
        .select(col("v"),
          ((lit(1.0) - lit(damping)) * col("p") +
            lit(damping) * (coalesce(col("c"), lit(0.0)) +
              col("dm") * col("p"))).as("r"))
        .transform(PB.localCheckpoint)
    }
    ranks.select(col("v").as("node"), round(col("r"), 6).as("ppr"))
  }

  /** DuckDB oracle for [[personalizedPageRank]] — identical unrolled
    * chain; `seedsSub` yields (node). */
  def personalizedPageRankSql(edgesSub: String, seedsSub: String,
                              iters: Int, damping: Double): String = {
    val d = damping
    val iterCtes = (0 until iters).map { k =>
      s"dang$k AS (${blockTotalSql(
          s"SELECT r.v AS v, r.r AS val FROM r$k r LEFT JOIN deg ON r.v = deg.src WHERE deg.src IS NULL")}), " +
        s"dm$k AS (SELECT coalesce((SELECT cum FROM dang$k), 0.0) AS dm), " +
        s"ctr$k AS (SELECT dst, cum AS c FROM (SELECT e.dst, " +
        "sum(r.r / CAST(deg.deg AS DOUBLE)) OVER (PARTITION BY e.dst ORDER BY e.src " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum, " +
        "row_number() OVER (PARTITION BY e.dst ORDER BY e.src) AS rn, " +
        "count(*) OVER (PARTITION BY e.dst) AS nc " +
        s"FROM e JOIN r$k r ON e.src = r.v JOIN deg ON e.src = deg.src) " +
        "WHERE rn = nc), " +
        s"r${k + 1} AS (SELECT nodes.v, " +
        s"(1.0 - $d) * p + $d * (coalesce(c, 0.0) + dm * p) AS r " +
        s"FROM nodes CROSS JOIN dm$k " +
        s"LEFT JOIN ctr$k ON nodes.v = ctr$k.dst)"
    }.mkString(", ")
    "WITH e AS (SELECT DISTINCT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst " +
      s"FROM $edgesSub WHERE src <> dst), " +
      "nodes0 AS (SELECT DISTINCT v FROM " +
      "(SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)), " +
      s"sd AS (SELECT DISTINCT CAST(node AS BIGINT) AS v FROM $seedsSub), " +
      "ns AS (SELECT CAST(count(*) AS BIGINT) AS ns FROM sd), " +
      "nodes AS (SELECT nodes0.v, CASE WHEN sd.v IS NOT NULL " +
      "THEN 1.0 / CAST(ns AS DOUBLE) ELSE 0.0 END AS p " +
      "FROM nodes0 LEFT JOIN sd ON nodes0.v = sd.v CROSS JOIN ns), " +
      "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src), " +
      "r0 AS (SELECT v, p AS r FROM nodes), " +
      s"$iterCtes " +
      s"SELECT v AS node, round(r, 6) AS ppr FROM r$iters ORDER BY node"
  }

  /** Local clustering coefficient per node: `lcc(v) = triangles(v) /
    * C(deg v, 2)` — [[triangleStats]]' per-node refinement, the signal
    * that separates CLIQUE-like near-dup neighborhoods (lcc ≈ 1: all of
    * v's candidates also match each other — one duplicated document)
    * from HUB-like ones (lcc ≈ 0: v is a template/boilerplate magnet
    * whose neighbors share nothing — exactly the pairs an aggressive
    * transitive merge would wrongly collapse).
    *
    * Per-node triangles come from the wedge join counted at the wedge
    * CENTER: each triangle {a,b,c} contributes exactly one wedge
    * centered at each of its three vertices, so the per-center count IS
    * triangles(v). All integers; the ratio is one IEEE division, round
    * 6 ⇒ hash-verified.
    *
    * Scale shape: the wedge join on the center vertex (the
    * triangleStats/linkPredictRA shape — degree-orient or cap celebrity
    * middles at web scale), one edge-set semi-join, map-side-combined
    * counts. Degree-1 nodes hold lcc NULL (no wedge to close). */
  def localClusteringCoeff(edges0: DataFrame,
                           aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val e = edges0
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .transform(PB.localCheckpoint) // read by adjacency, wedge close, and degree
    val adj = symmetric(e, "m", "x")
    val deg = adj.groupBy(col("m").as("node")).agg(count(lit(1)).as("deg"))
    val wedges = adj.as("l").join(adj.as("r"),
        col("l.m") === col("r.m") && col("l.x") < col("r.x"))
      .select(col("l.m").as("m"), col("l.x").as("u"), col("r.x").as("v"))
    val tri = wedges.join(e,
        wedges("u") === e("a") && wedges("v") === e("b"), "left_semi")
      .groupBy(col("m").as("node")).agg(count(lit(1)).as("triangles"))
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2L,
          round(coalesce(col("triangles"), lit(0L)).cast("double") * 2.0 /
            (col("deg") * (col("deg") - 1L)).cast("double"), 6)).as("lcc"))
      .orderBy("node")
  }

  /** DuckDB oracle for [[localClusteringCoeff]] — identical wedge set,
    * semi-join close, and ratio tree. */
  def localClusteringCoeffSql(edgesSub: String): String =
    "WITH e AS MATERIALIZED (SELECT DISTINCT least(a, b) AS a, " +
      s"greatest(a, b) AS b FROM $edgesSub " +
      "WHERE least(a, b) < greatest(a, b)), " +
      "adj AS MATERIALIZED (SELECT a AS m, b AS x FROM e " +
      "UNION ALL SELECT b, a FROM e), " +
      "deg AS (SELECT m AS node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY m), " +
      "w AS (SELECT l.m, l.x AS u, r.x AS v FROM adj l " +
      "JOIN adj r ON l.m = r.m AND l.x < r.x), " +
      "tri AS (SELECT m AS node, CAST(count(*) AS BIGINT) AS triangles FROM w " +
      "WHERE EXISTS (SELECT 1 FROM e WHERE e.a = w.u AND e.b = w.v) GROUP BY m) " +
      "SELECT d.node, d.deg, coalesce(t.triangles, 0) AS triangles, " +
      "CASE WHEN d.deg >= 2 THEN " +
      "round(CAST(coalesce(t.triangles, 0) AS DOUBLE) * 2.0 / " +
      "CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) END AS lcc " +
      "FROM deg d LEFT JOIN tri t ON d.node = t.node ORDER BY d.node"

  /** One Louvain modularity-gain pass from the singleton partition
    * (Blondel et al. 2008, the first move sweep): each node evaluates
    * joining each NEIGHBOR community and takes the best positive-gain
    * move. With singleton init (every node its own community), the gain
    * comparator reduces to EXACT INTEGERS: moving v into community {c}
    * improves modularity iff `2m·k_vc > k_v·k_c` (k_vc = edges v→c = 1
    * for a simple graph's neighbor, but kept general), and candidate
    * communities order by the integer score `2m·k_vc − k_v·k_c` — no
    * float enters until nothing is left to compare, so the argmax is
    * hash-exact with a (score desc, community asc) tie-break.
    *
    * Scale shape: canonical edges + degree count (map-side combined) +
    * one neighbor-community count on 8-byte keys; the per-node argmax
    * window is neighbor-bounded. One synchronous sweep — iterating
    * sweeps to convergence is the production loop (label_prop's
    * convention); the declared query pins one sweep for the oracle.
    *
    * Output: (node, new_label, gain_num) — new_label = node when no
    * positive-gain move exists, gain_num the integer score (0 when
    * staying). */
  def louvainMove(edges0: DataFrame,
                  aCol: String = "a", bCol: String = "b"): DataFrame = PB.scoped {
    val W = org.apache.spark.sql.expressions.Window
    val e = canonEdges(edges0, aCol, bCol)
      .transform(PB.localCheckpoint) // reused: m, degrees, both sym orientations
    val sym = symmetric(e, "v", "w")
    val deg = sym.groupBy("v").agg(count(lit(1)).as("k"))
    val m = e.agg(count(lit(1)).as("m"))
    // neighbor-community weights; singleton init -> community id == w,
    // community volume == deg(w)
    val cand = sym.groupBy(col("v"), col("w").as("c"))
      .agg(count(lit(1)).as("k_vc"))
      .join(deg, Seq("v"))
      .join(deg.select(col("v").as("c"), col("k").as("k_c")), Seq("c"))
      .crossJoin(broadcast(m))
      .withColumn("gain_num",
        lit(2L) * col("m") * col("k_vc") - col("k") * col("k_c"))
    cand
      .withColumn("rk", row_number().over(
        W.partitionBy("v").orderBy(col("gain_num").desc, col("c"))))
      .filter(col("rk") === 1)
      .select(col("v").as("node"),
        when(col("gain_num") > 0L, col("c")).otherwise(col("v")).as("new_label"),
        when(col("gain_num") > 0L, col("gain_num")).otherwise(lit(0L))
          .as("gain_num"))
      .orderBy("node")
  }

  /** DuckDB oracle for [[louvainMove]] — identical canonicalization,
    * integer gain and tie-broken argmax. `edgesSub` yields a, b. */
  def louvainMoveSql(edgesSub: String): String =
    s"WITH e AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b " +
      s"FROM $edgesSub WHERE least(a, b) < greatest(a, b)), " +
      "sym AS (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e), " +
      "deg AS (SELECT v, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY v), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e), " +
      "cand AS (SELECT s.v, s.w AS c, CAST(count(*) AS BIGINT) AS k_vc " +
      "FROM sym s GROUP BY s.v, s.w), " +
      "g AS (SELECT cand.v, cand.c, " +
      "2 * m.m * cand.k_vc - dv.k * dc.k AS gain_num " +
      "FROM cand JOIN deg dv ON cand.v = dv.v " +
      "JOIN deg dc ON cand.c = dc.v CROSS JOIN m) " +
      "SELECT v AS node, " +
      "CASE WHEN gain_num > 0 THEN c ELSE v END AS new_label, " +
      "CASE WHEN gain_num > 0 THEN gain_num ELSE 0 END AS gain_num " +
      "FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY v ORDER BY gain_num DESC, c) AS rk FROM g) z " +
      "WHERE rk = 1 ORDER BY node"

  /** FULL Louvain phase 1 (Blondel et al. 2008 §2): iterate synchronous
    * move sweeps from the singleton partition until a sweep stops
    * improving modularity, then return the converged (node, community)
    * assignment. [[louvainMove]] is the declared one-sweep oracle face;
    * this is the production loop.
    *
    * One sweep, against the CURRENT labels (general communities, not
    * just singletons): node v in community d evaluates every neighbor
    * community c and moves to the best strictly-positive gain. The
    * Blondel ΔQ comparator reduces to the EXACT INTEGER
    * `2m·(k_vc − k_vd′) − k_v·(Σtot(c) − (Σtot(d) − k_v))` (k_vd′ =
    * edges v→d\{v}, Σtot = community degree volume) — no float enters,
    * so the per-node argmax is engine-exact with the (gain desc, c asc)
    * tie-break.
    *
    * Termination and swap handling: synchronous sweeps let two
    * communities trade members simultaneously — a label rotation that
    * leaves modularity flat. Mutual d⇄c trades are broken BEFORE the
    * gate (the Grappolo-style rule: when d⇄c trades are both proposed,
    * only the moves into the LARGER-id community apply — drop d→c when
    * d > c), and each surviving sweep is GATED on the integer
    * modularity score `S(L) = 4m·intra(L) − Σ_c vol(L,c)²` (= 4m²·Q):
    * accepted iff strictly greater, else the loop stops. Modularity
    * strictly increases per accepted sweep over finitely many
    * partitions ⇒ termination; a rejected sweep leaves labels unchanged
    * and the sweep operator is deterministic in the labels, so
    * re-running the gated round after convergence is the identity —
    * which is exactly what lets [[louvainRoundsSql]] UNROLL a fixed
    * round count in the oracle (extra rounds are no-ops, the
    * dbscan/kcore fixed-round convention inverted).
    *
    * Scale shape per sweep: degree/volume aggregates are map-side
    * combined on 8-byte keys; the neighbor-community count is one
    * shuffle of the symmetrized edges; the argmax window is
    * neighbor-bounded; the gate costs two scalar aggregates. Labels
    * checkpoint per accepted sweep (the label-propagation convention).
    *
    * Output: (node, community), every node of the edge frame. */
  def louvain(edges0: DataFrame, aCol: String = "a", bCol: String = "b",
              maxSweeps: Int = 16): DataFrame = PB.scoped {
    val (e, m) = louvainEdges(edges0, aCol, bCol)
    louvainCore(e, m, maxSweeps)
  }

  /** The canonical edge frame of [[louvain]], materialized once — it is
    * reused by the degrees, kvc and every sweep — with its edge count m.
    * The count rides the checkpoint as an observation (r19): no separate
    * count job. */
  private def louvainEdges(edges0: DataFrame, aCol: String,
                           bCol: String): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val e = canonEdges(edges0, aCol, bCol)
      .observe(obs, count(lit(1)).as("m"))
      .transform(PB.localCheckpoint)
    (e, PB.awaitObserved(obs)("m").asInstanceOf[Long])
  }

  /** [[louvain]] over an ALREADY-canonical, already-materialized edge
    * frame with m edges: unit weights, no loops. The degree aggregate
    * IS the init labeling (deg's node set == sym's). */
  private def louvainCore(e: DataFrame, m: Long, maxSweeps: Int): DataFrame = {
    val sym = symmetric(e, "v", "u")
    louvainSweeps(e, sym, count(lit(1)), m,
      sym.groupBy("v").agg(count(lit(1)).as("k"))
        .select(col("v").as("node"), col("v").as("comm"), col("k")),
      maxSweeps)
  }

  /** The gated synchronous sweep loop of [[louvain]] and
    * [[louvainWeighted]]. `sym` is the symmetrized edge frame (v, u, …),
    * `kvcAgg` the edge weight aggregate (`count(lit(1))` or
    * `sum(col("w"))`), `total` the total edge weight of the gain and the
    * gate (m or W), `init` the singleton labeling (node, comm, k), and
    * `edges` the materialized edge frame the first size hint is measured
    * on. Returns the converged (node, comm) labels.
    *
    * r17 sweep-cost profile (sf1): wall was dominated by per-sweep JOB
    * count and repeated labels⋈deg joins, not data volume — labels CARRY
    * the node degree k, and the gate score runs over the kvc frame
    * (Σ_v k_{v,comm(v)} = 2·intra exactly, so 2·m·own − Σvol² is the
    * identical Long — the r18 change; see git history for the derivation).
    *
    * r19 shape (the board's #1 scheduling-overhead cost: 98 AQE
    * stage-jobs per q_louvain run, wall 4.1 s vs 1.2 s task time):
    *  - ONE action per labeling instead of three: labels, kvc AND the
    *    gate score materialize together as a TAGGED UNION inside a
    *    single freshLocalCheckpoint (score row first, so the gate read
    *    is a 1-task take over partition 0 of the materialized blocks,
    *    not a third distributed plan). The labels/kvc subtrees enter the
    *    union as lazy shared checkpoints — each evaluates once within
    *    the action — and their blocks are released the moment the fused
    *    checkpoint owns the rows.
    *  - the per-sweep labels⋈kvc (v, d) join is gone: k_vd (edges into
    *    the OWN community) is the c = d row of v's kvc partition, read
    *    by a same-partition window that shares the argmax window's
    *    (v)-partitioning.
    *  - deg is not separately checkpointed: the init labeling IS the
    *    degree frame relabeled, so materializing both stored the same
    *    rows twice.
    * Same integer gain/gate arithmetic on the same rows throughout —
    * oracle-identical by construction. */
  private def louvainSweeps(edges: DataFrame, sym: DataFrame,
                            kvcAgg: Column, total: Long, init: DataFrame,
                            maxSweeps: Int): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val numShufflePartitions =
      edges.sparkSession.sessionState.conf.numShufflePartitions
    // Size hint for the round frames inside fuse: the lazy checkpoints'
    // inherited estimates are the sweep plan's multiplied join estimates
    // (big → SMJ planning, measured +30% wall); the TRUE sizes are
    // round-invariant, so each round reuses the PREVIOUS fused
    // checkpoint's measured size (init: the edge checkpoint's measured
    // size ×3 — labels ≤ nodes ≤ 2|e| and kvc ≤ |sym| rows, both of
    // three longs vs e's two). Scale-honest both ways: a 100 TB edge
    // frame yields a large hint and the joins stay shuffles.
    var sizeHint = PB.measuredCheckpointSize(edges).map(_ * 3L)
    // (labels, ENRICHED kvc, gate score, owning checkpoint) of one
    // labeling. The kvc rows come back fully enriched — (v, c, k_vc,
    // d = comm(v), k = k_v, vol_d, vol_c) — so the SWEEP needs no joins
    // at all before its argmax (r18 paid a vol aggregate + two vol
    // broadcasts + a labels join per sweep); enrichment itself costs one
    // comm-window + two broadcast joins here, once per labeling. The
    // gate score folds to two GLOBAL aggregates over the shared frames:
    // own = Σ k_vc over the c = d rows of the enriched frame, and
    // Σ_c vol_c² = Σ_v k_v·vol_comm(v) over the vol-carrying labels —
    // exact integer identities, no community-keyed join or groupBy left.
    def fuse(labelsPlan: DataFrame): (DataFrame, DataFrame, Long, DataFrame) = {
      val lab = PB.sharedLocalCheckpoint(labelsPlan, sizeHint)
      // labels + their community volume (window shares the one exchange
      // on comm; every member row carries the same vol)
      val lab2 = PB.sharedLocalCheckpoint(lab.withColumn("vol",
        sum(col("k")).over(W.partitionBy("comm"))), sizeHint)
      // per-community volume frame: lab2 is comm-partitioned, so this
      // aggregate adds no exchange
      val volF = lab2.groupBy("comm").agg(max(col("vol")).as("volc"))
      val kv = sym
        .join(lab.select(col("node").as("u"), col("comm").as("c")), Seq("u"))
        .groupBy("v", "c").agg(kvcAgg.as("k_vc"))
      val kvj = kv
        .join(lab2.select(col("node").as("v"), col("comm").as("d"),
          col("k"), col("vol").as("vol_d")), Seq("v"))
        .join(volF.select(col("comm").as("c"), col("volc").as("vol_c")),
          Seq("c"))
      // gate score rides the checkpoint as an OBSERVATION (verified to
      // fire under localCheckpoint): own = Σ k_vc over the c = d rows,
      // Σ_c vol_c² = Σ_v k·vol over the label rows — zero extra stages,
      // no score branch, no first() job.
      val obs = org.apache.spark.sql.Observation()
      val fused = PB.freshLocalCheckpoint(
        lab2.select(lit(0).as("tag"), col("node").as("x"),
            col("comm").as("y"), col("k").as("z4"), col("vol").as("z5"),
            lit(0L).as("z6"), lit(0L).as("z7"))
          .unionByName(kvj.select(lit(1).as("tag"), col("v").as("x"),
            col("c").as("y"), col("k_vc").as("z4"), col("d").as("z5"),
            col("k").as("z6"),
            (col("vol_c") - (col("vol_d") - col("k"))).as("z7")))
          .observe(obs,
            coalesce(sum(when(col("tag") === 1 && col("y") === col("z5"),
              col("z4"))), lit(0L)).as("own"),
            coalesce(sum(when(col("tag") === 0, col("z4") * col("z5"))),
              lit(0L)).as("vv"))
          // bound the checkpoint's partition count (the union stacks both
          // branches' partitions every sweep); coalesce is narrow
          .coalesce(numShufflePartitions))
      Seq(lab, lab2).foreach(PB.release)
      val labelsF = fused.filter(col("tag") === 0)
        .select(col("x").as("node"), col("y").as("comm"), col("z4").as("k"))
      val kvcF = fused.filter(col("tag") === 1)
        .select(col("x").as("v"), col("y").as("c"), col("z4").as("k_vc"),
          col("z5").as("d"), col("z6").as("k"), col("z7").as("volTerm"))
      val mm = PB.awaitObserved(obs)
      sizeHint = PB.measuredCheckpointSize(fused).orElse(sizeHint)
      (labelsF, kvcF,
        2L * total * mm("own").asInstanceOf[Long] - mm("vv").asInstanceOf[Long],
        fused)
    }
    def sweep(labels: DataFrame, kvc: DataFrame): DataFrame = {
      val g = kvc
        .withColumn("k_vd",
          coalesce(max(when(col("c") === col("d"), col("k_vc")))
            .over(W.partitionBy("v")), lit(0L)))
      val gains = g.filter(col("c") =!= col("d"))
        .withColumn("gain",
          lit(2L) * total * (col("k_vc") - col("k_vd")) -
            col("k") * col("volTerm"))
      val best = gains
        .withColumn("rk", row_number().over(
          W.partitionBy("v").orderBy(col("gain").desc, col("c"))))
        .filter(col("rk") === 1)
        .select(col("v"), col("d"), col("c"), col("gain"))
      // pairwise swap suppression (Grappolo-style): synchronous sweeps
      // let communities d and c trade members simultaneously — a label
      // rotation that leaves modularity flat and would terminate the
      // gated loop at the singleton partition. When moves d→c and c→d
      // are both proposed, only the moves INTO the larger-id community
      // apply (drop d→c when d > c — the mirror of Grappolo's published
      // min-id rule; either orientation breaks the swap); longer
      // rotation cycles are caught by the gate.
      val moves = best.filter(col("gain") > 0L).select("v", "d", "c")
      val movePairs = moves.select(col("d").as("yd"), col("c").as("yc"))
        .distinct()
      val applied = moves.as("x")
        .join(movePairs,
          col("x.c") === col("yd") && col("x.d") === col("yc") &&
            col("x.d") > col("yd"), "left_anti")
        .select(col("v"), col("c"))
      labels.select(col("node"), col("comm"), col("k"))
        .join(applied.withColumnRenamed("v", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("c"), col("comm")).as("comm"),
          col("k"))
    }
    // the init labeling is materialized once, inside fuse
    var st = fuse(init)
    var continue = true
    var sweeps = 0
    while (continue && sweeps < maxSweeps) {
      val st2 = fuse(sweep(st._1, st._2))
      if (st2._3 > st._3) {
        PB.release(st._4)
        st = st2; sweeps += 1
      } else {
        PB.release(st2._4)
        continue = false
      }
    }
    // the final fused checkpoint stays live — it IS the returned labels
    // (its kvc rows ride along; edge-frame-bounded, freed with the frame)
    st._1.select(col("node"), col("comm"))
  }

  /** Contract a community assignment onto the quotient graph — Louvain's
    * inter-level step: communities become nodes; parallel edges sum to a
    * weight; intra-community edges become self-loops (weight = edge
    * count, the convention under which the quotient's modularity equals
    * the node-level modularity of the assignment). */
  def louvainContract(edges0: DataFrame, labels: DataFrame,
                      aCol: String = "a", bCol: String = "b"): DataFrame =
    louvainContractCore(canonEdges(edges0, aCol, bCol), labels)

  /** [[louvainContract]] over an ALREADY-canonical edge frame — shares
    * [[louvainTwoLevel]]'s one edge materialization. */
  private def louvainContractCore(e: DataFrame, labels: DataFrame): DataFrame =
    e.join(labels.select(col("node").as("a"), col("comm").as("ca")), Seq("a"))
      .join(labels.select(col("node").as("b"), col("comm").as("cb")), Seq("b"))
      .select(least(col("ca"), col("cb")).as("ca"),
        greatest(col("ca"), col("cb")).as("cb"))
      .groupBy("ca", "cb").agg(count(lit(1)).as("weight"))

  /** WEIGHTED gated Louvain phase-1 sweep — [[louvain]] generalized to a
    * (a, b, weight) edge frame with self-loops (a = b) allowed: exactly
    * the [[louvainContract]] quotient shape, which is what makes a
    * second Louvain LEVEL possible. Same synchronous gated sweeps, same
    * integer score gate (4·W·intra_w − Σ vol²; W = total weight, loops
    * once; vol = weighted degree with loops counting twice — the
    * convention under which the quotient's score of a quotient labeling
    * EQUALS the node graph's score of the composed labeling), same
    * Grappolo swap suppression. All arithmetic exact integers
    * (contraction weights are counts). Output: (node, comm). */
  def louvainWeighted(edges0: DataFrame, aCol: String = "ca",
                      bCol: String = "cb", wCol: String = "weight",
                      maxSweeps: Int = 16): DataFrame = PB.scoped {
    val e0Obs = org.apache.spark.sql.Observation()
    val e0 = edges0
      .select(least(col(aCol).cast("long"), col(bCol).cast("long")).as("a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("b"),
        col(wCol).cast("long").as("w"))
      .groupBy("a", "b").agg(sum(col("w")).as("w"))
      .observe(e0Obs, coalesce(sum(col("w")), lit(0L)).as("bw"))
      .transform(PB.localCheckpoint) // reused: W, degrees, intra scores, every sweep
    val plain = e0.filter(col("a") =!= col("b"))
    val loops = e0.filter(col("a") === col("b"))
      .select(col("a").as("v"), col("w").as("lw"))
    val sym = symmetric(plain, "v", "u", "w")
    // the total weight rides e0's checkpoint as an observed metric (r19;
    // was a first() job)
    val bigW = PB.awaitObserved(e0Obs)("bw").asInstanceOf[Long]
    // Gate reads the kvc frame: own = 2·intraPlain exactly (each plain
    // intra-community edge counted from both endpoints). Loops are not in
    // sym: a loop is intra under ANY labeling (it moves with its node),
    // so its 4·W·loopW score term is the same on both sides of the gate's
    // comparison and is left out. Init labeling = weighted degree:
    // incident non-loop weight + 2×loop weight (nodes carrying ONLY a
    // loop still need a row — full outer).
    louvainSweeps(e0, sym, sum(col("w")), bigW,
      sym.groupBy("v").agg(sum(col("w")).as("kp"))
        .join(loops, Seq("v"), "full_outer")
        .select(col("v").as("node"), col("v").as("comm"),
          (coalesce(col("kp"), lit(0L)) + lit(2L) * coalesce(col("lw"), lit(0L)))
            .as("k")),
      maxSweeps)
  }

  /** TWO-LEVEL Louvain: phase 1 on the node graph, contract communities
    * onto the quotient ([[louvainContract]]), run the WEIGHTED phase 1
    * on the quotient, and map quotient labels back through the level-1
    * assignment. Modularity is MONOTONE non-decreasing across levels by
    * construction: the level-2 sweep starts from the quotient's
    * singleton labeling — whose score equals the level-1 partition's
    * node score under the contraction convention — and the gate only
    * accepts improving sweeps, so the composed labels can never score
    * below level 1 (spec asserts this, plus a strict improvement on a
    * phase-1 local optimum). Output: (node, comm) — comm ids are
    * level-2 community labels (min level-1 community id convention via
    * the weighted sweep's label space). */
  def louvainTwoLevel(edges0: DataFrame, aCol: String = "a",
                      bCol: String = "b", maxSweeps: Int = 16): DataFrame = PB.scoped {
    // r19: canonicalize + materialize the edge frame ONCE and share it
    // between level 1 and the contraction — the r18 shape evaluated the
    // caller's edge DERIVATION twice (louvain's internal checkpoint and
    // louvainContract's re-canonicalization); for q_louvain2 that
    // derivation is the whole near-dup LSH + cosine-verify chain.
    val (e, m) = louvainEdges(edges0, aCol, bCol)
    val l1 = louvainCore(e, m, maxSweeps).transform(PB.localCheckpoint)
    // louvainWeighted materializes the quotient before it returns
    val l2 = louvainWeighted(louvainContractCore(e, l1), "ca", "cb",
      "weight", maxSweeps)
    l1.join(l2.select(col("node").as("comm"), col("comm").as("comm2")),
        Seq("comm"))
      .select(col("node"), col("comm2").as("comm"))
  }

  /** DuckDB oracle for [[louvain]]: the identical gated sweep UNROLLED
    * `rounds` times — safe because a rejected (non-improving) round is
    * the identity, so any rounds ≥ the convergence count produce the
    * converged labels (spec-pinned: the sf0.01 near-dup graph converges
    * well inside the declared rounds). Every CTE is MATERIALIZED (the
    * kCoreSql lesson: un-materialized round chains re-expand
    * exponentially). */
  def louvainSql(edgesSub: String, rounds: Int): String =
    s"WITH ${louvainSqlChain(edgesSub, rounds)} " +
      s"SELECT node, comm AS community FROM lab$rounds ORDER BY node"

  /** The [[louvainSql]] CTE chain WITHOUT the leading WITH / final
    * SELECT — its last label CTE is `lab<rounds>` — so
    * [[louvainTwoLevelSql]] can append the contraction + weighted
    * level-2 chain onto the identical level-1 sweep. */
  private def louvainSqlChain(edgesSub: String, rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= s"e AS MATERIALIZED (SELECT DISTINCT least(a, b) AS a, " +
      s"greatest(a, b) AS b FROM $edgesSub WHERE least(a, b) < greatest(a, b)), " +
      "sym AS MATERIALIZED (SELECT a AS v, b AS w FROM e UNION ALL SELECT b, a FROM e), " +
      "deg AS MATERIALIZED (SELECT v, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY v), " +
      "m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e), " +
      "lab0 AS MATERIALIZED (SELECT DISTINCT v AS node, v AS comm FROM sym)"
    louvainRoundsSql(sb, "", rounds, "w", "count(*)", lab =>
      s"(SELECT count(*) FROM e " +
        s"JOIN $lab x ON e.a = x.node JOIN $lab y ON e.b = y.node " +
        "WHERE x.comm = y.comm)")
    sb.toString
  }

  /** Appends `rounds` gated sweep rounds of the Louvain oracle to `sb`,
    * starting from the label CTE `<p>lab0`. Every CTE name carries the
    * prefix `p`, the inputs too: `<p>sym` (v, `nbr`[, w]), `<p>deg`
    * (v, k) and `<p>m` (m, the total weight of the gain). `kvcAgg` sums
    * the `sym` rows `s` into k_vc, and `intra(lab)` is the score's
    * intra-community weight term of a label CTE. */
  private def louvainRoundsSql(sb: StringBuilder, p: String, rounds: Int,
                               nbr: String, kvcAgg: String,
                               intra: String => String): Unit = {
    def scoreSql(lab: String): String =
      s"SELECT 4 * ${p}m.m * ${intra(lab)} - " +
        "(SELECT sum(vol * vol) FROM (SELECT sum(k) AS vol " +
        s"FROM $lab l JOIN ${p}deg d ON l.node = d.v GROUP BY comm) vv) AS s " +
        s"FROM ${p}m"
    for (r <- 1 to rounds) {
      val prev = s"${p}lab${r - 1}"
      sb ++= s", ${p}vol$r AS MATERIALIZED (SELECT comm, sum(k) AS vol " +
        s"FROM $prev l JOIN ${p}deg d ON l.node = d.v GROUP BY comm)"
      sb ++= s", ${p}kvc$r AS MATERIALIZED (SELECT s.v, lw.comm AS c, " +
        s"CAST($kvcAgg AS BIGINT) AS k_vc FROM ${p}sym s " +
        s"JOIN $prev lw ON s.$nbr = lw.node GROUP BY s.v, lw.comm)"
      sb ++= s", ${p}base$r AS MATERIALIZED (SELECT l.node AS v, l.comm AS d, dg.k, " +
        s"coalesce(kd.k_vc, 0) AS k_vd, vd.vol AS vol_d FROM $prev l " +
        s"JOIN ${p}deg dg ON l.node = dg.v " +
        s"LEFT JOIN ${p}kvc$r kd ON kd.v = l.node AND kd.c = l.comm " +
        s"JOIN ${p}vol$r vd ON vd.comm = l.comm)"
      sb ++= s", ${p}best$r AS MATERIALIZED (SELECT v, d, c, gain FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY v ORDER BY gain DESC, c) AS rk " +
        s"FROM (SELECT b2.v, b2.d, kv.c, 2 * ${p}m.m * (kv.k_vc - b2.k_vd) - " +
        "b2.k * (vc.vol - (b2.vol_d - b2.k)) AS gain " +
        s"FROM ${p}base$r b2 JOIN ${p}kvc$r kv ON kv.v = b2.v AND kv.c <> b2.d " +
        s"JOIN ${p}vol$r vc ON vc.comm = kv.c CROSS JOIN ${p}m) gg) z WHERE rk = 1)"
      // the Grappolo swap rule, identically: drop moves d->c when c->d
      // is also proposed and d > c
      sb ++= s", ${p}mv$r AS MATERIALIZED (SELECT v, d, c FROM ${p}best$r WHERE gain > 0)"
      sb ++= s", ${p}app$r AS MATERIALIZED (SELECT x.v, x.c FROM ${p}mv$r x " +
        s"WHERE NOT EXISTS (SELECT 1 FROM (SELECT DISTINCT d, c FROM ${p}mv$r) y " +
        "WHERE y.d = x.c AND y.c = x.d AND x.d > y.d))"
      sb ++= s", ${p}prop$r AS MATERIALIZED (SELECT l.node, " +
        s"coalesce(a.c, l.comm) AS comm FROM $prev l " +
        s"LEFT JOIN ${p}app$r a ON a.v = l.node)"
      sb ++= s", ${p}sa$r AS (${scoreSql(prev)})"
      sb ++= s", ${p}sb$r AS (${scoreSql(s"${p}prop$r")})"
      sb ++= s", ${p}lab$r AS MATERIALIZED (SELECT l.node, " +
        s"CASE WHEN ${p}sb$r.s > ${p}sa$r.s THEN p.comm ELSE l.comm END AS comm " +
        s"FROM $prev l JOIN ${p}prop$r p ON l.node = p.node " +
        s"CROSS JOIN ${p}sa$r CROSS JOIN ${p}sb$r)"
    }
  }

  /** DuckDB oracle for [[louvainTwoLevel]]: the [[louvainSql]] level-1
    * chain, the [[louvainContract]] quotient (least/greatest label
    * pair counts — self-loops kept), the [[louvainWeighted]] gated
    * sweep UNROLLED `rounds2` times over the quotient (same
    * rejected-round-is-identity safety as level 1), and the label
    * composition node → level-1 comm → level-2 comm. Every weighted
    * stage mirrors the Spark operator term for term: degrees count
    * loop weight twice, the score is 4·W·(intra_w + loop_w) − Σ vol²,
    * gains/ties/swap-suppression identical. */
  def louvainTwoLevelSql(edgesSub: String, rounds1: Int,
                         rounds2: Int): String = {
    val sb = new StringBuilder
    sb ++= s"WITH ${louvainSqlChain(edgesSub, rounds1)}"
    // ---- contraction: quotient edges (a, b, w) with self-loops ----
    sb ++= s", qe AS MATERIALIZED (SELECT least(x.comm, y.comm) AS a, " +
      "greatest(x.comm, y.comm) AS b, CAST(count(*) AS BIGINT) AS w " +
      s"FROM e JOIN lab$rounds1 x ON e.a = x.node " +
      s"JOIN lab$rounds1 y ON e.b = y.node GROUP BY 1, 2)"
    sb ++= ", wplain AS MATERIALIZED (SELECT a, b, w FROM qe WHERE a <> b)"
    sb ++= ", wloops AS MATERIALIZED (SELECT a AS v, w AS lw FROM qe WHERE a = b)"
    sb ++= ", wsym AS MATERIALIZED (SELECT a AS v, b AS u, w FROM wplain " +
      "UNION ALL SELECT b, a, w FROM wplain)"
    // weighted degree: incident non-loop weight + 2x loop weight (a
    // loop-only community still needs a row — full outer)
    sb ++= ", wdeg AS MATERIALIZED (SELECT coalesce(s.v, l.v) AS v, " +
      "CAST(coalesce(s.kp, 0) + 2 * coalesce(l.lw, 0) AS BIGINT) AS k " +
      "FROM (SELECT v, sum(w) AS kp FROM wsym GROUP BY v) s " +
      "FULL OUTER JOIN wloops l ON s.v = l.v)"
    sb ++= ", wm AS (SELECT CAST(coalesce((SELECT sum(w) FROM qe), 0) AS BIGINT) AS m, " +
      "CAST(coalesce((SELECT sum(lw) FROM wloops), 0) AS BIGINT) AS lw)"
    sb ++= ", wlab0 AS MATERIALIZED (SELECT v AS node, v AS comm FROM wdeg)"
    louvainRoundsSql(sb, "w", rounds2, "u", "sum(s.w)", lab =>
      "((SELECT coalesce(sum(p.w), 0) FROM wplain p " +
        s"JOIN $lab x ON p.a = x.node JOIN $lab y ON p.b = y.node " +
        "WHERE x.comm = y.comm) + wm.lw)")
    sb ++= s" SELECT l1.node, l2.comm AS community FROM lab$rounds1 l1 " +
      s"JOIN wlab$rounds2 l2 ON l1.comm = l2.node ORDER BY l1.node"
    sb.toString
  }
}
