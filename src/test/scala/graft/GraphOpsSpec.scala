package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{GraphOps, Similarity}

/** Triangle census vs brute-force models: hand-built graphs, random
  * graphs, and the real embedding near-dup graph. */
class GraphOpsSpec extends SparkSpec {

  import spark.implicits._

  private def model(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a < b }.distinct.toSet
    val verts = e.flatMap { case (a, b) => Seq(a, b) }
    val deg = verts.map(v => v -> e.count(p => p._1 == v || p._2 == v)).toMap
    val wedges = deg.values.map(d => d.toLong * (d - 1) / 2).sum
    val vs = verts.toSeq.sorted
    val tris = (for {
      (x, y) <- e.toSeq
      z <- vs if z > y && e.contains((y, z)) && e.contains((x, z))
    } yield 1).size.toLong
    (verts.size.toLong, e.size.toLong, wedges, tris)
  }

  private def run(edges: Seq[(Long, Long)]) = {
    val r = GraphOps.triangleStats(edges.toDF("a", "b")).head
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
  }

  test("triangleStats: closed-form cases") {
    // a single triangle
    assert(run(Seq((1L, 2L), (2L, 3L), (1L, 3L))) === ((3L, 3L, 3L, 1L, 1.0)))
    // a path (one wedge, no triangle)
    assert(run(Seq((1L, 2L), (2L, 3L))) === ((3L, 2L, 1L, 0L, 0.0)))
    // K4: 4 triangles, 12 wedges, coefficient 1
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(run(k4) === ((4L, 6L, 12L, 4L, 1.0)))
    // duplicate + reversed edges canonicalize away
    assert(run(Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L)))
      === ((3L, 3L, 3L, 1L, 1.0)))
  }

  test("triangleStats matches the brute-force model on random graphs") {
    val rnd = new scala.util.Random(7)
    (0 until 3).foreach { trial =>
      val edges = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      val (nv, ne, nw, nt) = model(edges)
      val (gv, ge, gw, gt, cc) = run(edges)
      assert((gv, ge, gw, gt) === ((nv, ne, nw, nt)), s"trial $trial")
      val expCc = if (nw > 0)
        BigDecimal(3.0 * nt.toDouble / nw.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      assert(cc === expCc, s"trial $trial coefficient")
    }
  }

  test("triangleStats on the real near-dup graph matches its own edge list") {
    val emb = Tables.load(spark, sfDir, "embeddings")
    val nd = Similarity.embeddingNearDup(emb, tau = 0.3, bands = 4,
      rowsPerBand = 4, dims = 64)
    val edges = nd.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val (nv, ne, nw, nt) = model(edges)
    val (gv, ge, gw, gt, _) = run(edges)
    assert((gv, ge, gw, gt) === ((nv, ne, nw, nt)))
    // and the operator applied to the DataFrame lineage agrees
    val viaDf = GraphOps.triangleStats(nd).head
    assert((viaDf.getLong(0), viaDf.getLong(1), viaDf.getLong(2), viaDf.getLong(3))
      === ((nv, ne, nw, nt)))
  }

  test("pageRank == ordered-fold power-iteration model; dangling mass conserved") {
    import spark.implicits._
    val (iters, d) = (3, 0.85)
    // 1→2, 1→3, 2→3, 3→1, plus 4 with NO out-edges (dangling) and a
    // duplicate edge + self-loop the operator must drop
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (3L, 4L),
      (1L, 3L), (2L, 2L))
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val e = edges.filter { case (a, b) => a != b }.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
    val n = nodes.length.toDouble
    val deg = e.groupBy(_._1).map { case (s, g) => s -> g.size.toDouble }
    var r = nodes.map(_ -> 1.0 / n).toMap
    (1 to iters).foreach { _ =>
      // ordered folds mirroring the engine windows exactly
      val dm = nodes.filter(v => !deg.contains(v))
        .foldLeft(0.0)((acc, v) => acc + r(v))
      val contrib = nodes.map { v =>
        v -> e.filter(_._2 == v).map(_._1).sorted
          .foldLeft(0.0)((acc, s) => acc + r(s) / deg(s))
      }.toMap
      r = nodes.map { v =>
        v -> ((1.0 - d) / n + d * (contrib(v) + dm / n))
      }.toMap
    }
    val got = GraphOps.pageRank(edges.toDF("src", "dst"), iters, d)
      .orderBy("node").collect()
      .map(x => (x.getLong(0), x.getDouble(1)))
    assert(got.toSeq === nodes.map(v => v -> r6(r(v))))
    // ranks remain a distribution (teleport + dangling redistribution)
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    // node 3 has the most in-links — it must rank highest
    assert(got.maxBy(_._2)._1 === 3L)
  }

  /** Synchronous LPA model: every node adopts the most frequent neighbour
    * label, ties to the smallest label. */
  private def lpaModel(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a < b }.distinct
    val nbrs = (e ++ e.map(_.swap)).groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var lbl = nbrs.keys.map(v => v -> v).toMap
    (1 to iters).foreach { _ =>
      lbl = nbrs.map { case (v, ns) =>
        val counts = ns.map(lbl).groupBy(identity).map { case (l, o) => l -> o.size }
        v -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    lbl
  }

  test("labelProp: two cliques joined by a bridge keep distinct labels") {
    val cl1 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cl2 = for (i <- 11L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val edges = cl1 ++ cl2 :+ ((4L, 11L))
    val got = GraphOps.labelProp(edges.toDF("a", "b"), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === lpaModel(edges, 3))
    // the two cliques must resolve to different community labels
    assert(got(1L) === 1L && got(12L) === 11L && got(1L) != got(12L))
  }

  test("labelProp: dup/reversed/self edges canonicalize; matches model on the query graph") {
    val noisy = Seq((1L, 2L), (2L, 1L), (1L, 1L), (2L, 3L), (3L, 2L))
    val g1 = GraphOps.labelProp(noisy.toDF("a", "b"), iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g1 === lpaModel(noisy, 2))
    // the declared query's deterministic community graph from real events
    val ev = Tables.load(spark, sfDir, "events")
    val edges = ev.select(($"user_id" % 120).as("a"), (lit(1000L) + $"user_id" % 12).as("b"))
      .unionByName(ev.select(($"user_id" % 120).as("a"),
        (lit(1000L) + ($"user_id" * 31) % 12).as("b")))
    val pairs = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = GraphOps.labelProp(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === lpaModel(pairs, 3))
    assert(got.nonEmpty && got.values.toSet.size > 1,
      "community graph should keep more than one label after 3 rounds")
  }

  /** L1-normalized HITS model replicating the operator's exact fold
    * orders (per-node sums by the other endpoint, normalizers by node
    * id), so doubles match bit-for-bit before the final rounding. */
  private def hitsModel(edges: Seq[(Long, Long)],
                        iters: Int): Map[Long, (Double, Double)] = {
    val e = edges.filter { case (s, d) => s != d }.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    def l1(m: Map[Long, Double]): Double =
      nodes.foldLeft(0.0)((acc, v) => acc + m(v))
    def half(scores: Map[Long, Double], byDst: Boolean): Map[Long, Double] = {
      val raw = nodes.map { v =>
        val inc = if (byDst) e.filter(_._2 == v).sortBy(_._1).map(t => scores(t._1))
                  else e.filter(_._1 == v).sortBy(_._2).map(t => scores(t._2))
        v -> inc.foldLeft(0.0)(_ + _)
      }.toMap
      val tot = l1(raw)
      raw.map { case (v, r) => v -> r / tot }
    }
    var hub = nodes.map(_ -> 1.0).toMap
    var auth = hub
    (1 to iters).foreach { _ =>
      auth = half(hub, byDst = true)
      hub = half(auth, byDst = false)
    }
    nodes.map(v => v -> (hub(v), auth(v))).toMap
  }

  private def r6(v: Double) =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("hits: in-star center is the authority, leaves are the hubs") {
    val edges = Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 4L))
    val got = GraphOps.hits(edges.toDF("src", "dst"), iters = 2)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = hitsModel(edges, 2)
    assert(got === want.map { case (v, (h, a)) => v -> (r6(h), r6(a)) })
    // 9 collects three hub endorsements: top authority; 1-3 are equal hubs
    assert(got(9L)._2 === got.values.map(_._2).max)
    assert(got(1L)._1 === got(2L)._1 && got(2L)._1 === got(3L)._1)
    assert(got(1L)._1 > got(9L)._1)
  }

  test("hits matches the fold model on the declared event graph; columns sum to 1") {
    val ev = Tables.load(spark, sfDir, "events")
      .select(($"user_id" % 50).as("src"), (($"event_id" * 7919) % 64).as("dst"))
    val pairs = ev.collect().map(r => (r.getLong(0), r.getLong(1)))
    val got = GraphOps.hits(ev, iters = 3)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val want = hitsModel(pairs, 3)
    assert(got === want.map { case (v, (h, a)) => v -> (r6(h), r6(a)) })
    assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-3)
    assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-3)
  }

  private def assort(edges: Seq[(Long, Long)]): (Long, Option[Double]) = {
    val r = GraphOps.degreeAssortativity(edges.toDF("a", "b")).head
    (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)))
  }

  test("degreeAssortativity: closed-form graphs (star = -1, path P4 = -0.5, regular = null)") {
    // star K1,3: hub degree 3, leaves 1 -> perfectly disassortative
    assert(assort(Seq((0L, 1L), (0L, 2L), (0L, 3L))) === ((3L, Some(-1.0))))
    // path 1-2-3-4: r = -0.5 by hand (oriented moments n=6, sx=10, sxx=18, sxy=16)
    assert(assort(Seq((1L, 2L), (2L, 3L), (3L, 4L))) === ((3L, Some(-0.5))))
    // 4-cycle: every degree equal -> zero variance -> null
    assert(assort(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))) === ((4L, None)))
    // dedup + orientation + self-loop removal: duplicates/reversed/self edges collapse
    assert(assort(Seq((0L, 1L), (1L, 0L), (0L, 1L), (2L, 2L), (0L, 2L), (0L, 3L))) ===
      ((3L, Some(-1.0))))
  }

  test("kCore peels fringe vertices and cascades across rounds") {
    // triangle 1-2-3 with pendant chain 3-4-5 plus isolated chain 6-7-8:
    // k=2 round 1 drops 5,6,8 (deg 1); round 2 drops 4 and 7 (degree fell
    // to 1) — only the triangle survives, every vertex at residual deg 2.
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (6L, 7L), (7L, 8L))
    val got = GraphOps.kCore(edges.toDF("a", "b"), k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("kCore round count matters: one round misses the cascade, enough rounds reach the fixpoint") {
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val oneRound = GraphOps.kCore(edges.toDF("a", "b"), k = 2, rounds = 1)
      .collect().map(_.getLong(0)).toSet
    assert(oneRound === Set(1L, 2L, 3L, 4L)) // 4 not yet peeled
    val fix = GraphOps.kCore(edges.toDF("a", "b"), k = 2, rounds = 4)
      .collect().map(_.getLong(0)).toSet
    assert(fix === Set(1L, 2L, 3L))
  }

  test("linkPredictRA: closed-form path and brute-force model on a pseudo-random graph") {
    // path 1-2-3: only candidate pair is (1,3) via m=2 (deg 2) -> RA = 0.5
    val p3 = GraphOps.linkPredictRA(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(p3.toSeq === Seq((1L, 3L, 1L, 0.5)))
    // triangle has no non-adjacent pairs at all
    assert(GraphOps.linkPredictRA(
      Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")).count() === 0)

    val edges = (0 until 200).map(i => ((i * 7919L) % 30, (i * i * 31L + i) % 30))
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a < b }.distinct.toSet
    val deg = e.toSeq.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, o) => v -> o.size }
    val verts = deg.keys.toSeq.sorted
    val model = (for {
      u <- verts; v <- verts if u < v && !e((u, v))
      common = verts.filter(m => m != u && m != v &&
        e((math.min(m, u), math.max(m, u))) && e((math.min(m, v), math.max(m, v))))
      if common.nonEmpty
    } yield {
      val ra = common.map(m => deg(m)).sorted
        .foldLeft(0.0)((acc, d) => acc + 1.0 / d.toDouble)
      (u, v, common.size.toLong,
        BigDecimal(ra).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }).sortBy { case (u, v, _, ra) => (-ra, u, v) }.take(10)
    val got = GraphOps.linkPredictRA(edges.toDF("a", "b"), topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === model)
  }

  test("degreeAssortativity matches a brute-force Pearson model on a pseudo-random graph") {
    val edges = (0 until 300).map { i =>
      ((i * 7919L) % 40, (i * i * 31L + i) % 40)
    }
    val e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a < b }.distinct
    val deg = e.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, o) => v -> o.size.toLong }
    val xy = e.flatMap { case (a, b) =>
      Seq((deg(a), deg(b)), (deg(b), deg(a))) }
    val n = xy.size.toDouble
    val sx = xy.map(_._1).sum.toDouble
    val sxx = xy.map(p => p._1 * p._1).sum.toDouble
    val sxy = xy.map(p => p._1 * p._2).sum.toDouble
    val want = BigDecimal((n * sxy - sx * sx) / (n * sxx - sx * sx))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (ne, got) = assort(edges)
    assert(ne === e.size.toLong)
    assert(got === Some(want))
  }

  /** Pure-Scala model of the gated synchronous sweep of
    * GraphOps.louvainWeighted over (a, b, w) edges, self-loops allowed:
    * parallel edges sum, a loop counts twice in its node's degree, exact
    * integer Blondel gain, (gain desc, c asc) argmax, Grappolo swap rule,
    * gate `4·W·(intra_w + loopW) − Σ vol²`, loop until no improvement. */
  private def weightedLouvainModel(
      edges: Seq[(Long, Long, Long)]): (Map[Long, Long], Int) = {
    val e = edges.groupMapReduce { case (a, b, _) => (math.min(a, b), math.max(a, b)) }(
      _._3)(_ + _)
    val (loops, plain) = e.partition { case ((a, b), _) => a == b }
    val loopOf = loops.map { case ((v, _), w) => v -> w }
    val nbrs = plain.toSeq
      .flatMap { case ((a, b), w) => Seq(a -> (b, w), b -> (a, w)) }
      .groupMap(_._1)(_._2)
    val nodes = nbrs.keySet ++ loopOf.keySet
    val deg = nodes.map { v =>
      v -> (nbrs.getOrElse(v, Nil).map(_._2).sum + 2L * loopOf.getOrElse(v, 0L))
    }.toMap
    val bigW = e.values.sum
    val loopW = loopOf.values.sum
    // toSeq: Set.map would dedup equal degrees
    def volOf(lab: Map[Long, Long]): Map[Long, Long] =
      lab.groupBy(_._2).map { case (c, vs) => c -> vs.keys.toSeq.map(deg).sum }
    def score(lab: Map[Long, Long]): Long = {
      val intra = plain.collect { case ((a, b), w) if lab(a) == lab(b) => w }.sum
      4L * bigW * (intra + loopW) - volOf(lab).values.map(v => v * v).sum
    }
    def sweep(lab: Map[Long, Long]): Map[Long, Long] = {
      val vol = volOf(lab)
      // per-node best strictly-positive move (v -> (d, c))
      val moves = lab.flatMap { case (v, d) =>
        val k = deg(v)
        val kvc = nbrs.getOrElse(v, Nil).groupMapReduce(p => lab(p._1))(_._2)(_ + _)
        val kvd = kvc.getOrElse(d, 0L)
        val cands = kvc.keys.filter(_ != d).map { c =>
          (2L * bigW * (kvc(c) - kvd) - k * (vol(c) - (vol(d) - k)), c)
        }
        cands.toSeq.sortBy { case (g, c) => (-g, c) }.headOption.collect {
          case (g, c) if g > 0 => v -> (d, c)
        }
      }
      // the Grappolo swap rule: drop d->c moves when c->d is also
      // proposed and d > c
      val pairs = moves.values.toSet
      val applied = moves.filter { case (_, (d, c)) =>
        !(pairs.contains((c, d)) && d > c)
      }
      lab.map { case (v, d) => v -> applied.get(v).map(_._2).getOrElse(d) }
    }
    var lab = nodes.map(v => v -> v).toMap
    var s = score(lab)
    var sweeps = 0
    var go = true
    while (go && sweeps < 16) {
      val p = sweep(lab)
      val s2 = score(p)
      if (s2 > s) { lab = p; s = s2; sweeps += 1 } else go = false
    }
    (lab, sweeps)
  }

  /** GraphOps.louvain's input as weight-1 model edges: canonical,
    * deduped, loops dropped. */
  private def louvainModel(edges: Seq[(Long, Long)]): (Map[Long, Long], Int) =
    weightedLouvainModel(edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a < b }.distinct.map { case (a, b) => (a, b, 1L) })

  test("louvain == gated-sweep fixpoint model: two cliques, bridge, random graphs") {
    def run(edges: Seq[(Long, Long)]): Map[Long, Long] =
      GraphOps.louvain(edges.toDF("a", "b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // two 4-cliques joined by one bridge edge: communities = the cliques
    def clique(ids: Seq[Long]) =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val twoCliques = clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L))
    val (want, sweeps) = louvainModel(twoCliques)
    val got = run(twoCliques)
    assert(got === want)
    assert(sweeps >= 1, "the clique graph must accept at least one sweep")
    assert(got.filterKeys(_ < 10L).values.toSet.size === 1, "left clique merges")
    assert(got.filterKeys(_ >= 10L).values.toSet.size === 1, "right clique merges")
    assert(got(0L) !== got(10L), "the bridge must not merge the cliques")
    // deterministic pseudo-random graphs: operator == model exactly
    for (seed <- Seq(1L, 2L, 3L)) {
      val edges = (0L until 120L).map { i =>
        val a = (i * 7919L + seed * 131L) % 28L
        val b = (i * 104729L + seed * 37L) % 28L
        (a, b)
      }.filter { case (a, b) => a != b }
      assert(run(edges) === louvainModel(edges)._1, s"seed $seed")
    }
  }

  test("louvain converges, improves modularity, and contracts consistently") {
    val edges = SimilarityQueries_nearDupEdgesForSpec()
    val lab = GraphOps.louvain(edges)
    val labL = lab.withColumnRenamed("comm", "label")
    val oneSweep = GraphOps.louvainMove(edges)
      .select(col("node"), col("new_label").as("label"))
    def q(l: org.apache.spark.sql.DataFrame): Double =
      GraphOps.modularity(edges, l).collect()(0).getDouble(2)
    val qFix = q(labL)
    val qOne = q(oneSweep)
    val singleton = edges.select(col("a").as("node"))
      .union(edges.select(col("b"))).distinct()
      .withColumn("label", col("node"))
    assert(qFix >= qOne, s"fixpoint $qFix must not lose to one sweep $qOne")
    assert(qFix > q(singleton), "fixpoint must beat the singleton partition")
    // contraction invariant: quotient weights partition the edge set —
    // self-loop weight sum = intra edges, total weight sum = m
    val contracted = GraphOps.louvainContract(edges, lab)
    val wTotal = contracted.agg(sum("weight")).collect()(0).getLong(0)
    val wSelf = contracted.filter(col("ca") === col("cb"))
      .agg(coalesce(sum("weight"), lit(0L))).collect()(0).getLong(0)
    val stats = GraphOps.modularity(edges, labL).collect()(0)
    assert(wTotal === stats.getLong(0), "quotient weights must sum to m")
    assert(wSelf === stats.getLong(1), "self-loops must sum to intra edges")
  }

  test("louvainWeighted on an all-weight-1 loop-free graph == louvain exactly") {
    def clique(ids: Seq[Long]) =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val edges = clique(Seq(0L, 1L, 2L, 3L)) ++
      clique(Seq(10L, 11L, 12L, 13L)) ++ Seq((3L, 10L))
    val unw = GraphOps.louvain(edges.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wtd = GraphOps.louvainWeighted(
        edges.toDF("ca", "cb").withColumn("weight", lit(1L)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wtd === unw)
  }

  test("louvainWeighted == weighted gated-sweep model on random graphs with loops") {
    for (seed <- Seq(5L, 6L, 7L)) {
      val rnd = new scala.util.Random(seed)
      // 22 nodes, 90 draws: parallel and reversed edges sum, a == b
      // draws are self-loops
      val edges = Seq.fill(90)(
        (rnd.nextInt(22).toLong, rnd.nextInt(22).toLong, 1L + rnd.nextInt(4)))
      val got = GraphOps.louvainWeighted(edges.toDF("ca", "cb", "weight"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val (want, sweeps) = weightedLouvainModel(edges)
      assert(edges.exists { case (a, b, _) => a == b }, s"seed $seed has loops")
      assert(sweeps >= 1, s"seed $seed accepts a sweep")
      assert(got === want, s"seed $seed")
    }
  }

  test("string ids canonicalize numerically, as the same ids given as long") {
    // lexicographic order disagrees with numeric order on these ids
    // ("10" < "9", "100" < "11"); a reversed duplicate and a self-loop
    // must canonicalize away in both forms
    val pairs = Seq((9L, 10L), (10L, 100L), (100L, 9L), (11L, 9L), (11L, 100L),
      (99L, 1000L), (1000L, 8L), (8L, 99L), (9L, 99L), (101L, 10L),
      (10L, 9L), (100L, 100L), (8L, 1000L), (99L, 101L))
    val asLong = pairs.toDF("a", "b")
    val asString = pairs.map { case (a, b) => (a.toString, b.toString) }.toDF("a", "b")
    val labels = Seq((8L, 1L), (9L, 1L), (10L, 1L), (11L, 1L), (100L, 1L),
      (99L, 2L), (101L, 2L), (1000L, 2L)).toDF("node", "label")
    // (edges, seeds) => output; the BFS seeds take the edges' id type
    val ops: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
      "labelProp" -> ((e, _) => GraphOps.labelProp(e, iters = 3)),
      "kCore" -> ((e, _) => GraphOps.kCore(e, k = 2, rounds = 3)),
      "kCoreFixpoint" -> ((e, _) => GraphOps.kCoreFixpoint(e, k = 2)),
      "bfsHops" -> ((e, s) => GraphOps.bfsHops(e, s, rounds = 3)),
      "bfsHopsFixpoint" -> ((e, s) => GraphOps.bfsHopsFixpoint(e, s)),
      "modularity" -> ((e, _) => GraphOps.modularity(e, labels)),
      "louvainMove" -> ((e, _) => GraphOps.louvainMove(e)),
      "louvain" -> ((e, _) => GraphOps.louvain(e)))
    for ((name, op) <- ops) {
      def rows(e: DataFrame, seeds: DataFrame) =
        op(e, seeds).collect().map(_.toSeq).sortBy(_.mkString(","))
      val want = rows(asLong, Seq(9L).toDF("node"))
      assert(want.nonEmpty, name)
      assert(rows(asString, Seq("9").toDF("node")) === want, name)
    }
  }

  test("louvain faces keep only the checkpoints their output reads") {
    def clique(ids: Seq[Long]) =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val edges = (clique(Seq(0L, 1L, 2L, 3L)) ++ clique(Seq(10L, 11L, 12L, 13L)) ++
      Seq((3L, 10L), (13L, 20L), (20L, 21L), (21L, 13L))).toDF("a", "b")
    // persistent RDDs an operator call leaves behind once its output has
    // been collected; the output frame stays referenced through the count
    def retained(run: => DataFrame): Int = {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val out = run
      out.collect()
      val added = (sc.getPersistentRDDs.keySet -- before).size
      assert(out.columns.nonEmpty)
      added
    }
    assert(retained(GraphOps.louvain(edges)) === 1, "louvain: the final fused frame")
    assert(retained(GraphOps.louvainWeighted(
      edges.toDF("ca", "cb").withColumn("weight", lit(2L)))) === 1,
      "louvainWeighted: the final fused frame")
    assert(retained(GraphOps.louvainTwoLevel(edges)) === 2,
      "louvainTwoLevel: level-1 labels and level 2's final fused frame")
  }

  test("louvainTwoLevel: modularity monotone across levels, labels a coarsening of level 1") {
    def q(edges: org.apache.spark.sql.DataFrame,
          l: org.apache.spark.sql.DataFrame): Double =
      GraphOps.modularity(edges, l.withColumnRenamed("comm", "label"))
        .collect()(0).getDouble(2)
    def clique(ids: Seq[Long]) =
      for (i <- ids; j <- ids if i < j) yield (i, j)
    val ring = (0L until 12L).map(v => (v, (v + 1) % 12))
    val cliqueRing = (0 until 6).flatMap { c =>
      val base = c * 3L
      clique(Seq(base, base + 1, base + 2)) :+ ((base + 2, (base + 3) % 18))
    }
    val fixtures = Seq(
      "cycle C12" -> ring,
      "ring of 6 triangles" -> cliqueRing,
      "near-dup graph" -> null) // null -> the real sf0.001 edge frame
    for ((name, fx) <- fixtures) {
      val edges = if (fx == null) SimilarityQueries_nearDupEdgesForSpec()
        else fx.toDF("a", "b")
      val l1 = GraphOps.louvain(edges)
      val l2 = GraphOps.louvainTwoLevel(edges)
      val (q1, q2) = (q(edges, l1), q(edges, l2))
      assert(q2 >= q1 - 1e-9, s"$name: level 2 ($q2) lost to level 1 ($q1)")
      // coarsening: every level-1 community maps to exactly ONE level-2
      // community (level 2 moves whole communities, never splits them)
      val pairs = l1.withColumnRenamed("comm", "c1")
        .join(l2.withColumnRenamed("comm", "c2"), Seq("node"))
      val split = pairs.groupBy("c1")
        .agg(countDistinct(col("c2")).as("nc")).filter(col("nc") > 1).count()
      assert(split === 0L, s"$name: a level-1 community was split")
      // same node set labeled
      assert(l2.count() === l1.count(), s"$name: node coverage")
    }
  }

  /** The spec-side twin of SimilarityQueries.nearDupEdges at sf0.001. */
  private def SimilarityQueries_nearDupEdgesForSpec() = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    Similarity.embeddingNearDup(emb, tau = 0.3, bands = 4,
      rowsPerBand = Similarity.scaledRowsPerBand(emb.count()), dims = 64)
  }
}
