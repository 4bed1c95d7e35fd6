package graft

import org.apache.spark.sql.functions._

import graft.operators.{SkylineOps, StatsOps}

/** Robust statistics + skyline vs driver-side brute-force models. */
class StatsOpsSpec extends SparkSpec {

  import spark.implicits._

  /** Exact (n-1)p interpolated percentile — Spark's `percentile` rule. */
  private def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    val h = (s.size - 1) * p
    val lo = h.toInt
    if (lo == s.size - 1) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  test("madOutliers matches the nested-median model on real events") {
    val events = Tables.load(spark, sfDir, "events")
    val got = StatsOps.madOutliers(events, "event_type", "value", k = 3.0)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getLong(4))))
      .toMap
    val rows = events.select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    rows.groupBy(_._1).foreach { case (t, grp) =>
      val vs = grp.map(_._2).toSeq
      val med = pct(vs, 0.5)
      val devs = vs.map(v => math.abs(v - med))
      val mad = pct(devs, 0.5)
      val nOut = devs.count(_ > 3.0 * mad).toLong
      def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(t) === ((vs.size.toLong, r6(med), r6(mad), nOut)), s"group $t")
    }
  }

  test("skyline2D equals the quadratic dominance filter, for any partition count") {
    val rnd = new scala.util.Random(42)
    val base = Seq.fill(300)(
      (rnd.nextInt(50) + rnd.nextInt(100) / 100.0, rnd.nextInt(30).toLong))
    // duplicates included: identical (price, size) rows must all survive
    val data = (base ++ base.take(25)).zipWithIndex
      .map { case ((p, s), i) => (i.toLong, p, s) }
    val df = data.toDF("id", "price", "size")
    def dominated(p: (Long, Double, Long)) = data.exists(q =>
      (q._2 <= p._2 && q._3 > p._3) || (q._2 < p._2 && q._3 >= p._3))
    val expect = data.filterNot(dominated).map(_._1).toSet
    assert(expect.nonEmpty)
    Seq(1, 3, 8).foreach { np =>
      val got = SkylineOps.skyline2D(df, "price", "size", np)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got === expect, s"numPartitions=$np")
    }
  }

  test("ksDistance: exact integer KS model, any partition count, identical-sample zero") {
    val events = Tables.load(spark, sfDir, "events")
    val rows = events.filter(col("event_type").isin("click", "view"))
      .select("event_type", "value").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val na = rows.count(_._1 == "click").toLong
    val nb = rows.count(_._1 == "view").toLong
    val byV = rows.groupBy(_._2).map { case (v, g) =>
      (v, g.count(_._1 == "click").toLong, g.count(_._1 == "view").toLong)
    }.toSeq.sortBy(_._1)
    val (dNum, _, _) = byV.foldLeft((0L, 0L, 0L)) {
      case ((best, ca, cb), (_, ia, ib)) =>
        val (fa, fb) = (ca + ia, cb + ib)
        (math.max(best, math.abs(fa * nb - fb * na)), fa, fb)
    }
    Seq(1, 3, 8).foreach { np =>
      val r = graft.operators.StatsOps.ksDistance(events, "value", "event_type",
        "click", "view", numPartitions = np).head
      assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((na, nb, dNum)),
        s"numPartitions=$np")
      val exp = BigDecimal(dNum.toDouble / (na.toDouble * nb.toDouble))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) === exp)
    }
    // identical samples -> distance 0
    import spark.implicits._
    val same = Seq(("a", 1.0), ("b", 1.0), ("a", 2.0), ("b", 2.0))
      .toDF("g", "x")
    val z = graft.operators.StatsOps.ksDistance(same, "x", "g", "a", "b").head
    assert(z.getLong(2) === 0L && z.getDouble(3) === 0.0)
    // comparing a group against itself is a caller bug, rejected loudly
    intercept[IllegalArgumentException] {
      graft.operators.StatsOps.ksDistance(same, "x", "g", "a", "a")
    }
  }

  test("skyline2D rejects a fractional max column instead of truncating it") {
    val df = Seq((1L, 1.0, 2.5), (2L, 2.0, 2.4)).toDF("id", "price", "score")
    intercept[IllegalArgumentException] {
      SkylineOps.skyline2D(df, "price", "score")
    }
  }

  test("skyline2D: null-key rows are excluded and never dominate real rows") {
    // the null-price row carries the GLOBAL max size: unfiltered it would
    // sort first in the range partition, poison the prefix max, and
    // falsely dominate every real row
    val data: Seq[(Long, java.lang.Double, java.lang.Long)] = Seq(
      (1L, 1.0, 5L), (2L, 2.0, 7L), (3L, 3.0, 6L),
      (4L, null, 999L), (5L, 2.5, null))
    val df = data.toDF("id", "price", "size")
    Seq(1, 3).foreach { np =>
      val got = SkylineOps.skyline2D(df, "price", "size", np)
        .select("id").collect().map(_.getLong(0)).toSet
      // quadratic model over the non-null rows: (1.0,5) and (2.0,7)
      // are undominated; (3.0,6) is dominated by (2.0,7)
      assert(got === Set(1L, 2L), s"numPartitions=$np")
    }
  }

  test("profile: one-scan column report matches hand counts, nulls and all") {
    val df = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(1L), None, Some(1.5)),
      (Some(2L), Some("b"), None),
      (None, Some("a"), Some(2.5)))
      .toDF("k", "s", "x")
    val got = StatsOps.profile(df).collect()
      .map(r => r.getString(1) ->
        ((r.getLong(0), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))))
      .toMap
    assert(got("k") === ((4L, 3L, 2L, "1", "2")))
    assert(got("s") === ((4L, 3L, 2L, "a", "b")))
    assert(got("x") === ((4L, 3L, 2L, "1.5", "2.5")))
    // r18 plan pin: the profile is TWO scans (basic ⋈ distinct), not the
    // fused single-scan multi-distinct — the fused form dragged string
    // min/max buffers into the Expand-grouped aggregate, planning the
    // whole chain as SortAggregates that sort rows×(cols+1) wide tuples
    // (2.7 s single-thread at sf0.1). Pins: exactly 2 scans (still no
    // per-COLUMN re-scan), and NO Sort operator anywhere — the split's
    // entire point is a sort-free plan (keyless SortAggregate inserts no
    // Sort; the distinct branch must hash-aggregate).
    val plan = StatsOps.profile(Tables.load(spark, sfDir, "events"))
      .queryExecution.executedPlan.toString()
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans === 2, "profile must read its input exactly twice")
    assert(plan.linesIterator.count(_.contains(" Sort [")) === 0,
      "profile's plan must be sort-free")
  }

  test("profileApprox: no Expand in the plan, exact companions equal profile, HLL within bound") {
    val events = Tables.load(spark, sfDir, "events")
    val approx = StatsOps.profileApprox(events, rsd = 0.05)
    // the scale claim: exact multi-distinct profiles via one Expand
    // (rows × columns+1 shuffled); the HLL profile must be a plain
    // partial/final aggregate — zero Expand, one scan
    val plan = approx.queryExecution.executedPlan.toString()
    assert(!plan.contains("Expand"), s"profileApprox must not Expand:\n$plan")
    assert(plan.linesIterator.count(_.contains("Scan parquet")) === 1)
    val exact = StatsOps.profile(events).collect()
      .map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    val got = approx.collect()
      .map(r => r.getString(1) -> ((r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))).toMap
    assert(got.keySet === exact.keySet)
    got.foreach { case (c, (nRows, nn, ndApprox, mn, mx)) =>
      val (eRows, enn, end, emn, emx) = exact(c)
      assert((nRows, nn, mn, mx) === ((eRows, enn, emn, emx)), s"column $c")
      // 3x the 5% rsd — generous enough to be flake-free, tight enough
      // to catch a broken sketch
      assert(math.abs(ndApprox - end) <= math.max(1L, (end * 0.15).toLong),
        s"column $c: approx $ndApprox vs exact $end")
    }
  }

  test("mutualInfo matches the ordered-fold model; uniform independence is 0") {
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = docs.select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = rows.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val cx = rows.groupBy(_._1).map { case (k, g) => k -> g.length.toLong }
    val cy = rows.groupBy(_._2).map { case (k, g) => k -> g.length.toLong }
    val n = rows.length.toLong
    val mi = cells.toSeq.sortBy(_._1).foldLeft(0.0) { case (acc, ((x, y), c)) =>
      acc + (c.toDouble / n.toDouble) *
        math.log((c.toDouble * n.toDouble) / (cx(x).toDouble * cy(y).toDouble))
    }
    val got = StatsOps.mutualInfo(docs, "lang", "source").head
    assert(got.getLong(0) === n)
    assert(got.getLong(1) === cells.size.toLong)
    assert(got.getDouble(2) ===
      BigDecimal(mi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got.getDouble(2) >= 0.0)
    // exact product distribution: every cell count equal -> MI exactly 0
    val uniform = (for (x <- 'a' to 'b'; y <- 1 to 3; _ <- 1 to 4)
      yield (x.toString, y)).toDF("x", "y")
    assert(StatsOps.mutualInfo(uniform, "x", "y").head.getDouble(2) === 0.0)
  }

  test("chiSquare matches the full-grid ordered-fold model; uniform grid is 0") {
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = docs.select("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val cells = rows.groupBy(identity).map { case (k, g) => k -> g.length.toLong }
    val cx = rows.groupBy(_._1).map { case (k, g) => k -> g.length.toLong }
    val cy = rows.groupBy(_._2).map { case (k, g) => k -> g.length.toLong }
    val n = rows.length.toLong
    val grid = for (x <- cx.keys.toSeq; y <- cy.keys.toSeq) yield (x, y)
    val chi2 = grid.sortBy(identity).foldLeft(0.0) { case (acc, (x, y)) =>
      val e = (cx(x).toDouble * cy(y).toDouble) / n.toDouble
      val d = cells.getOrElse((x, y), 0L).toDouble - e
      acc + (d * d) / e
    }
    val got = StatsOps.chiSquare(docs, "lang", "source").head
    assert(got.getLong(0) === n)
    assert(got.getLong(1) === grid.size.toLong)
    assert(got.getLong(2) === (cx.size - 1).toLong * (cy.size - 1).toLong)
    assert(got.getDouble(3) ===
      BigDecimal(chi2).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // uniform counts -> observed == expected everywhere -> exactly 0
    val uniform = (for (x <- 'a' to 'b'; y <- 1 to 3; _ <- 1 to 4)
      yield (x.toString, y)).toDF("x", "y")
    assert(StatsOps.chiSquare(uniform, "x", "y").head.getDouble(3) === 0.0)
  }

  test("mutualInfo/chiSquare exclude null categories from the cells AND from n") {
    // without the input filter, null-key cells miss the marginal joins
    // but still inflate n — a mis-normalized statistic both engines
    // would agree on, invisible to the hash gate
    val withNulls: Seq[(Option[String], Option[String])] = Seq(
      Some("en") -> Some("web"), Some("en") -> Some("web"),
      Some("de") -> Some("web"), Some("en") -> Some("book"),
      None -> Some("web"), Some("de") -> None, None -> None)
    val df = withNulls.map { case (x, y) => (x.orNull, y.orNull) }.toDF("x", "y")
    val clean = withNulls.collect { case (Some(x), Some(y)) => (x, y) }.toDF("x", "y")
    val gotMi = StatsOps.mutualInfo(df, "x", "y").head
    val expMi = StatsOps.mutualInfo(clean, "x", "y").head
    assert(gotMi.getLong(0) === 4L, "n must count only non-null cells")
    assert(gotMi.toSeq === expMi.toSeq)
    val gotChi = StatsOps.chiSquare(df, "x", "y").head
    val expChi = StatsOps.chiSquare(clean, "x", "y").head
    assert(gotChi.getLong(0) === 4L)
    assert(gotChi.toSeq === expChi.toSeq)
  }

  test("skyline2D on part: every survivor undominated, every non-survivor dominated") {
    val part = Tables.load(spark, sfDir, "part")
    val rows = part.select("p_partkey", "p_retailprice", "p_size").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2).toLong))
    def dominated(p: (Long, Double, Long)) = rows.exists(q =>
      (q._2 <= p._2 && q._3 > p._3) || (q._2 < p._2 && q._3 >= p._3))
    val expect = rows.filterNot(dominated).map(_._1).toSet
    val got = SkylineOps.skyline2D(part, "p_retailprice", "p_size")
      .select("p_partkey").collect().map(_.getLong(0)).toSet
    assert(got === expect)
  }

  test("autocorr == integer-moment Pearson Scala model; constant series saturates") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val events = Tables.load(spark, sfDir, "events")
    val daily = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .collect().map(r => (r.getString(0), r.getDate(1).toString))
      .groupBy(identity).map { case ((g, d), xs) => (g, d) -> xs.length.toLong }
    val got = StatsOps.autocorr(events, "event_type", "ts", maxLag = 2)
      .collect().map(r =>
        (r.getString(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    daily.keys.map(_._1).toSeq.distinct.foreach { g =>
      val series = daily.collect { case ((`g`, d), c) => d -> c }.toSeq.sortBy(_._1)
      val byDay = series.toMap
      (1 to 2).foreach { k =>
        def plusDays(d: String, n: Int) =
          java.time.LocalDate.parse(d).plusDays(n).toString
        val pairs = series.collect {
          case (d, c) if byDay.contains(plusDays(d, k)) => (c, byDay(plusDays(d, k)))
        }
        val n = pairs.size.toDouble
        val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
        val sxx = pairs.map(p => p._1 * p._1).sum
        val syy = pairs.map(p => p._2 * p._2).sum
        val sxy = pairs.map(p => p._1 * p._2).sum
        val acf = (n * sxy - sx.toDouble * sy.toDouble) /
          math.sqrt((n * sxx - sx.toDouble * sx.toDouble) *
            (n * syy - sy.toDouble * sy.toDouble))
        assert(got((g, k)) === ((pairs.size.toLong, r6(acf))), s"group $g lag $k")
      }
    }
    // closed form: a constant series has zero variance -> NaN guard domain
    import spark.implicits._
    val const = (1 to 20).flatMap(d => Seq.fill(3)(
      ("a", java.sql.Timestamp.valueOf(f"2020-01-$d%02d 10:00:00"))))
      .toDF("event_type", "ts")
    val c = StatsOps.autocorr(const, "event_type", "ts", maxLag = 1).head
    assert(c.isNullAt(3), "zero-variance series must yield NULL, not a fake 0")
  }

  test("rollingZScore == trailing-integer-moment model; spike flagged, short history NULL") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // alternating 4/6 history (nonzero variance), then a 50-count spike
    val series = Seq.tabulate(10)(i =>
      (f"2020-01-${i + 1}%02d", if (i % 2 == 0) 4 else 6)) :+ ("2020-01-11", 50)
    val events = series.flatMap { case (day, n) =>
      Seq.fill(n)(("a", java.sql.Timestamp.valueOf(s"$day 12:00:00")))
    }.toDF("g", "ts")
    val got = StatsOps.rollingZScore(events, "g", "ts",
        window = 7, minObs = 4, zThresh = 3.0)
      .collect().map(r => (Option(r.get(4)).map(_.asInstanceOf[Double]),
        r.getBoolean(5)))
    val counts = series.map(_._2.toLong)
    counts.indices.foreach { i =>
      val w = counts.slice(math.max(0, i - 7), i)
      val (n, sx, sxx) = (w.size.toLong, w.sum, w.map(x => x * x).sum)
      val varNum = n * sxx - sx * sx
      if (n >= 4 && varNum > 0) {
        val z = (counts(i) - sx.toDouble / n) /
          math.sqrt(varNum.toDouble / (n.toDouble * (n - 1)))
        assert(got(i)._1.contains(r6(z)), s"day $i")
        assert(got(i)._2 === (math.abs(z) > 3.0), s"day $i flag")
      } else {
        assert(got(i)._1.isEmpty && !got(i)._2, s"day $i should be unscored")
      }
    }
    assert(got.last._2, "the spike day must be flagged")
  }

  test("rollingZScore zero-variance history pins z NULL and no flag (even for a real spike)") {
    val events = (Seq.tabulate(8)(i => (f"2020-02-${i + 1}%02d", 5)) :+
      ("2020-02-09", 40)).flatMap { case (day, n) =>
      Seq.fill(n)(("a", java.sql.Timestamp.valueOf(s"$day 12:00:00")))
    }.toDF("g", "ts")
    val got = StatsOps.rollingZScore(events, "g", "ts",
        window = 7, minObs = 4, zThresh = 3.0)
      .collect().map(r => (Option(r.get(4)), r.getBoolean(5)))
    assert(got.forall { case (z, flag) => z.isEmpty && !flag },
      "constant history has undefined z — documented NULL, never a flag")
  }

  test("bootstrapCi == deterministic Poisson-draw Scala model; CI brackets the mean") {
    val (b, lo, hi) = (32, 2, 31)
    val P = graft.functions.TextFunctions.P
    def hashScala(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.load(spark, sfDir, "documents")
    val rows = docs.select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val means = (0 until b).map { bi =>
      var (tot, nEff) = (0L, 0L)
      rows.foreach { case (id, v) =>
        val u = (hashScala(s"bs:$bi:$id").toDouble + 1.0) / (P + 1).toDouble
        val w = StatsOps.poissonCdf1.indexWhere(u < _) match {
          case -1 => StatsOps.poissonCdf1.size.toLong
          case i  => i.toLong
        }
        tot += w * v; nEff += w
      }
      tot.toDouble / math.max(nEff, 1L).toDouble
    }
    val grand = means.foldLeft(0.0)(_ + _) / b.toDouble
    val sortedM = means.sorted
    val row = StatsOps.bootstrapCi(docs, "doc_id", "n_chars", b, lo, hi).head
    assert(row.getLong(0) === b.toLong)
    assert(row.getDouble(1) === r6(grand))
    assert(row.getDouble(2) === r6(sortedM(lo - 1)))
    assert(row.getDouble(3) === r6(sortedM(hi - 1)))
    // the interval is non-degenerate and brackets the point estimate
    assert(row.getDouble(2) < row.getDouble(1) && row.getDouble(1) < row.getDouble(3))
  }

  test("scaledSupport pins the verify-scale derivations (support is a basket fraction)") {
    import StatsOps.scaledSupport
    // q_apriori_triples basket counts: lineitem distinct l_orderkey
    assert(scaledSupport(14743L) === 3L)     // sf0.01 — the oracle literal
    assert(scaledSupport(147236L) === 30L)   // sf0.1
    assert(scaledSupport(1472360L) === 295L) // sf1
    // floor binds on tiny corpora; monotone non-decreasing in baskets
    assert(scaledSupport(10L) === 2L)
    val ns = Seq(100L, 10000L, 1000000L, 100000000L)
    val ss = ns.map(scaledSupport(_))
    assert(ss === ss.sorted)
    // the relative-support contract: threshold/baskets is ~constant, so
    // a pair whose co-occurrence probability is below 1/5000 is pruned
    // at EVERY scale (an absolute minCo stops pruning past minCo*5000)
    ns.foreach(n => assert(scaledSupport(n) * 5000L >= n))
  }

  test("marketBasket: closed-form pairs, lift, minCo and maxBasket gates") {
    // 4 baskets: {1,2,3} {1,2} {1,2} {2,3}; pair (1,2) co=3, (2,3) co=2,
    // (1,3) co=1 drops at minCo=2. Item counts: 1->3, 2->4, 3->2.
    val df = Seq(
      (10L, 1L), (10L, 2L), (10L, 3L), (10L, 3L), // dup (10,3) dedups
      (11L, 1L), (11L, 2L),
      (12L, 1L), (12L, 2L),
      (13L, 2L), (13L, 3L)).toDF("bk", "it")
    val got = StatsOps.marketBasket(df, "bk", "it", minCo = 2, maxBasket = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === Seq(
      (1L, 2L, 3L, 3L, 4L, 1.0),              // 4*3/(3*4)
      (2L, 3L, 2L, 4L, 2L, 1.0)))             // 4*2/(4*2)
    // an oversize basket contributes NO pairs and leaves the basket count
    val big = (1L to 11L).map(i => (99L, i)).toDF("bk", "it")
    val got2 = StatsOps.marketBasket(df.unionByName(big), "bk", "it",
      minCo = 2, maxBasket = 10, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(got2.toSeq === Seq((1L, 2L, 3L, 1.0), (2L, 3L, 2L, 1.0)))
  }

  test("marketBasket matches a brute-force model on real lineitem families") {
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("bk"), (col("l_partkey") % 20).as("it"))
    val rows = li.collect().map(r => (r.getLong(0), r.getLong(1))).distinct
    val baskets = rows.groupBy(_._1).view.mapValues(_.map(_._2).toSet)
      .filter(_._2.size <= 7).toMap
    val nB = baskets.size.toLong
    val marg = baskets.values.flatten.groupBy(identity).map { case (i, o) => i -> o.size.toLong }
    val co = baskets.values.toSeq
      .flatMap(s => s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (p, o) => p -> o.size.toLong }
      .filter(_._2 >= 3)
    val expect = co.toSeq.map { case ((a, b), c) =>
      (a, b, c, marg(a), marg(b),
        r6(nB.toDouble * c.toDouble / (marg(a).toDouble * marg(b).toDouble)))
    }.sortBy { case (a, b, c, _, _, _) => (-c, a, b) }.take(15)
    val got = StatsOps.marketBasket(li, "bk", "it", minCo = 3, maxBasket = 7, k = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(got.toSeq === expect)
  }

  test("kAnonymize: small classes collapse into one accounted residual row") {
    import graft.operators.PrivacyOps
    // classes: (a,x)=5 rows, (a,y)=2, (b,null)=3 -> with k=4 the last two
    // suppress into ('*','*') with 5 rows total
    val df = (Seq.fill(5)(("a", Some("x"))) ++ Seq.fill(2)(("a", Some("y"))) ++
      Seq.fill(3)(("b", None: Option[String]))).toDF("g", "h")
    val got = PrivacyOps.kAnonymize(df, Seq("g", "h"), k = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === Seq(("*", "*", 5L, true), ("a", "x", 5L, false)))
    // every released class is >= k; totals conserved
    assert(got.filterNot(_._4).forall(_._3 >= 4L))
    assert(got.map(_._3).sum === 10L)
    // k=1 rejected
    intercept[IllegalArgumentException] {
      PrivacyOps.kAnonymize(df, Seq("g"), k = 1)
    }
  }

  test("lDiversify: homogeneous classes suppress even when large (r8)") {
    import graft.operators.PrivacyOps
    // (a,x): 6 rows but ONE sensitive value -> suppressed (k-anonymity
    // would release it — the homogeneity hole). (a,y): 4 rows, 3 distinct
    // sensitive values -> released. (b,z): 2 distinct -> suppressed at l=3.
    val df = (Seq.fill(6)(("a", "x", Some("s1"))) ++
      Seq(("a", "y", Some("s1")), ("a", "y", Some("s2")),
        ("a", "y", Some("s3")), ("a", "y", Some("s1")),
        ("b", "z", Some("s1")), ("b", "z", None: Option[String])))
      .toDF("g", "h", "sv")
    val got = PrivacyOps.lDiversify(df, Seq("g", "h"), "sv", l = 3)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getBoolean(4)))
    assert(got.toSeq === Seq(
      ("*", "*", 8L, None, true),       // 6 homogeneous + 2 low-diversity
      ("a", "y", 4L, Some(3L), false)))
    // released classes all meet the diversity floor; totals conserved
    assert(got.filterNot(_._5).forall(_._4.exists(_ >= 3L)))
    assert(got.map(_._3).sum === 12L)
    intercept[IllegalArgumentException] {
      PrivacyOps.lDiversify(df, Seq("g"), "sv", l = 1)
    }
  }

  /** Welch model sharing the operator's exact arithmetic tree. */
  private def welchModel(a: Seq[Long], b: Seq[Long]):
      (Long, Long, Double, Double, Double, Double) = {
    def r6d(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (na, nb) = (a.size.toLong, b.size.toLong)
    val (ma, mb) = (a.sum.toDouble / na, b.sum.toDouble / nb)
    val va = (a.map(x => x * x).sum.toDouble - a.sum.toDouble * a.sum.toDouble / na) / (na - 1)
    val vb = (b.map(x => x * x).sum.toDouble - b.sum.toDouble * b.sum.toDouble / nb) / (nb - 1)
    val (sa, sb) = (va / na, vb / nb)
    val t = (ma - mb) / math.sqrt(sa + sb)
    val df = (sa + sb) * (sa + sb) / (sa * sa / (na - 1) + sb * sb / (nb - 1))
    (na, nb, r6d(ma), r6d(mb), r6d(t), r6d(df))
  }

  test("welchT: closed-form two-sample case; other groups and nulls excluded") {
    val df = (Seq(("a", 1L), ("a", 2L), ("a", 3L), ("b", 5L), ("b", 7L),
      ("c", 999L)).map { case (g, v) => (g, Some(v)) } :+ (("a", None: Option[Long])))
      .toDF("g", "v")
    val row = StatsOps.welchT(df, "g", "v", "a", "b").collect().head
    val got = (row.getLong(0), row.getLong(1), row.getDouble(2),
      row.getDouble(3), row.getDouble(4), row.getDouble(5))
    assert(got === welchModel(Seq(1L, 2L, 3L), Seq(5L, 7L)))
    assert(got._5 < 0, "group b has the larger mean")
  }

  test("welchT matches the moment model on real source length distributions") {
    val docs = Tables.load(spark, sfDir, "documents")
    val byS = docs.select(col("source"), col("n_chars"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val row = StatsOps.welchT(docs, "source", "n_chars", "src0", "src1")
      .collect().head
    val got = (row.getLong(0), row.getLong(1), row.getDouble(2),
      row.getDouble(3), row.getDouble(4), row.getDouble(5))
    assert(got === welchModel(byS.filter(_._1 == "src0").map(_._2).toSeq,
      byS.filter(_._1 == "src1").map(_._2).toSeq))
  }

  test("unimaxAllocation: waterfill closed forms and budget conservation (r15)") {
    def alloc(rows: Seq[(String, Int)], cap: Int, bx: Int): Map[String, (Double, Double)] = {
      // one whitespace token per unit: "w w w ..." gives exact counts
      val df = rows.map { case (k, n) => (k, ("w " * n).trim) }.toDF("k", "text")
      StatsOps.unimaxAllocation(df, "k", "text", epochCap = cap, budgetX = bx)
        .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    }
    // [1] one tail caps out, the head pair absorbs the freed budget:
    // toks (10, 100, 100), caps x2 (20, 200, 200), B = 2*210 = 420 ->
    // theta = (420-20)/2 = 200 = cap (both constraints tight)
    val a1 = alloc(Seq(("a", 10), ("b", 100), ("c", 100)), cap = 2, bx = 2)
    assert(a1("a") === ((20.0, 2.0)))
    assert(a1("b") === ((200.0, 2.0)) && a1("c") === ((200.0, 2.0)))
    // [2] nothing binds -> pure uniform split: caps x4 clear B/S
    val a2 = alloc(Seq(("a", 90), ("b", 110)), cap = 4, bx = 2)
    assert(a2("a")._1 === 200.0 && a2("b")._1 === 200.0)
    // [3] infeasible budget (B > sum caps) -> every key caps out
    val a3 = alloc(Seq(("a", 10), ("b", 20)), cap = 1, bx = 3)
    assert(a3 === Map("a" -> ((10.0, 1.0)), "b" -> ((20.0, 1.0))))
    // [4] real corpus: allocations conserve the budget when feasible and
    // match a driver waterfill model exactly
    val docs = Tables.load(spark, sfDir, "documents")
    val toks = docs.collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[String]("text").split(" ", -1).length.toLong))
      .groupBy(_._1).map { case (k, o) => k -> o.map(_._2).sum }
    val budget = 2L * toks.values.sum
    val caps = toks.map { case (k, t) => k -> 3L * t }
    // driver waterfill: ascending caps, first r whose cap clears theta_r
    val sorted = caps.toSeq.sortBy { case (k, c) => (c, k) }
    val s = sorted.size
    var pfx = 0L
    var theta = Double.PositiveInfinity
    var found = false
    sorted.zipWithIndex.foreach { case ((_, c), i) =>
      val t = (budget - pfx).toDouble / (s - i).toDouble
      if (!found && c.toDouble >= t) { theta = t; found = true }
      pfx += c
    }
    def r6d(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = caps.map { case (k, c) =>
      val a = math.min(c.toDouble, theta)
      k -> ((r6d(a), r6d(a / toks(k).toDouble)))
    }
    val got = StatsOps.unimaxAllocation(docs, "lang", "text", epochCap = 3, budgetX = 2)
      .collect().map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(got === expect)
    assert(math.abs(got.values.map(_._1).sum - budget.toDouble) < 1e-3,
      "feasible waterfill must conserve the budget")
  }

  test("giniConcentration: equal masses 0, all-in-one-group maximal") {
    val eq = Seq(("a", 10L), ("b", 10L), ("c", 10L)).toDF("g", "w")
    val r1 = StatsOps.giniConcentration(eq, "g", "w").collect().head
    assert((r1.getLong(0), r1.getLong(1), r1.getDouble(2)) === ((3L, 30L, 0.0)))
    // one group holds everything: G = (n-1)/n = 0.5 for n = 2
    val skew = Seq(("a", 0L), ("b", 10L)).toDF("g", "w")
    assert(StatsOps.giniConcentration(skew, "g", "w").collect().head.getDouble(2) === 0.5)
    // split rows per group aggregate first: same as eq
    val split = Seq(("a", 4L), ("a", 6L), ("b", 10L), ("c", 10L)).toDF("g", "w")
    assert(StatsOps.giniConcentration(split, "g", "w").collect().head.getDouble(2) === 0.0)
  }

  test("giniConcentration matches the rank-formula model on real sources") {
    def r6d(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val docs = Tables.load(spark, sfDir, "documents")
    val w = docs.collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_chars")))
      .groupBy(_._1).map { case (g, o) => g -> o.map(_._2).sum }
    val sorted = w.toSeq.sortBy { case (g, m) => (m, g) }
    val n = sorted.size.toLong
    val tot = sorted.map(_._2).sum
    val iw = sorted.zipWithIndex.map { case ((_, m), i) => (i + 1) * m }.sum
    val want = r6d(2.0 * iw.toDouble / (n.toDouble * tot.toDouble) - (n + 1).toDouble / n.toDouble)
    val row = StatsOps.giniConcentration(docs, "source", "n_chars").collect().head
    assert((row.getLong(0), row.getLong(1), row.getDouble(2)) === ((n, tot, want)))
  }

  test("countMin: estimates never underestimate; tiny width forces collisions") {
    val toks = (Seq.fill(8)("a") ++ Seq.fill(5)("b") ++ Seq.fill(3)("c") ++
      Seq("d", "e", "f")).map(Tuple1(_)).toDF("term")
    // roomy sketch: every estimate should be exact
    val roomy = StatsOps.countMin(toks, "term", width = 512, depth = 4, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(roomy.forall(t => t._3 >= t._2))
    assert(roomy.take(3).map(t => (t._1, t._2)).toSeq ===
      Seq(("a", 8L), ("b", 5L), ("c", 3L)))
    assert(roomy.forall(_._4), "512 counters for 6 keys must be collision-free")
    // width 2: pigeonhole forces collisions; estimates still bound exact
    val tight = StatsOps.countMin(toks, "term", width = 2, depth = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(tight.forall(t => t._3 >= t._2))
    assert(tight.exists(!_._4), "6 keys into 2 counters must collide somewhere")
  }

  test("countMin matches a driver sketch model on real document tokens") {
    val P = graft.functions.TextFunctions.P
    def charHash(s: String): Long =
      s.foldLeft(0L)((acc, c) => (acc * 31 + c.toLong) % P)
    val toks = Tables.load(spark, sfDir, "documents")
      .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("term"))
    val terms = toks.collect().map(_.getString(0))
    val (width, depth) = (256, 4)
    val exact = terms.groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long]
    for ((t, n) <- exact; d <- 0 until depth) {
      val b = charHash(s"cm$d:$t") % width
      cells((d, b)) = cells.getOrElse((d, b), 0L) + n
    }
    val expect = exact.toSeq.map { case (t, n) =>
      (t, n, (0 until depth).map(d => cells((d, charHash(s"cm$d:$t") % width))).min)
    }.sortBy { case (t, n, _) => (-n, t) }.take(20)
      .map { case (t, n, e) => (t, n, e, e == n) }
    val got = StatsOps.countMin(toks, "term", width, depth, k = 20)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === expect)
  }

  test("kAnonymize matches a driver model on the real quasi grid") {
    import graft.operators.PrivacyOps
    val events = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), (col("user_id") % 97).as("ub"))
    val rows = events.collect().map(r => (r.getString(0), r.getLong(1).toString))
    val classes = rows.groupBy(identity).map { case (q, o) => q -> o.size.toLong }
    val k = 10
    val kept = classes.filter(_._2 >= k).map { case ((a, b), n) => (a, b, n, false) }
    val supp = classes.filterNot(_._2 >= k).values.sum
    val expect = (if (supp > 0) kept.toSeq :+ (("*", "*", supp, true)) else kept.toSeq)
      .sortBy(t => (t._1, t._2))
    val got = PrivacyOps.kAnonymize(events, Seq("event_type", "ub"), k)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getBoolean(3)))
    assert(got.toSeq === expect)
  }

  /** (type, micros, value) rows for the time-series model tests; micros
    * come from unix_micros (a Spark builtin), days are derived in the
    * MODEL via java.time so the daily collapse itself is independently
    * checked. */
  private lazy val tsRows: Seq[(String, Long, Double)] =
    Tables.load(spark, sfDir, "events")
      .select(col("event_type"), unix_micros(col("ts")), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq

  private def dayOf(us: Long): java.time.LocalDate =
    java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L))
      .atZone(java.time.ZoneOffset.UTC).toLocalDate

  private def r(x: Double, n: Int) =
    BigDecimal(x).setScale(n, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("olsTrend matches the exact-moment closed form") {
    val got = StatsOps.olsTrend(Tables.load(spark, sfDir, "events"),
        "event_type", "ts", "value")
      .collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getDouble(2), row.getDouble(3), row.getDouble(4))))
      .toMap
    tsRows.groupBy(_._1).foreach { case (t, grp) =>
      val pts = grp.map { case (_, us, v) =>
        ((us - StatsOps.OlsOriginUs) / 1000000L,
          math.floor(v * 100.0).toLong)
      }
      val n = BigInt(pts.size)
      val sx = pts.map(p => BigInt(p._1)).sum
      val sy = pts.map(p => BigInt(p._2)).sum
      val sxx = pts.map(p => BigInt(p._1) * BigInt(p._1)).sum
      val syy = pts.map(p => BigInt(p._2) * BigInt(p._2)).sum
      val sxy = pts.map(p => BigInt(p._1) * BigInt(p._2)).sum
      val (nD, sxD, syD) = (n.toDouble, sx.toDouble, sy.toDouble)
      val num = nD * sxy.toDouble - sxD * syD
      val den = nD * sxx.toDouble - sxD * sxD
      val deny = nD * syy.toDouble - syD * syD
      val want = (pts.size.toLong,
        r((num / den) * 86400.0, 6),
        r((syD - (num / den) * sxD) / nD, 4),
        r((num * num) / (den * deny), 6))
      assert(got(t) === want, s"group $t")
    }
  }

  test("cusumChangepoint finds the max-|s| day of the integer deviation walk") {
    val got = StatsOps.cusumChangepoint(Tables.load(spark, sfDir, "events"),
        "event_type", "ts")
      .collect()
      .map(row => row.getString(0) ->
        ((row.getLong(1), row.getLong(2), row.getDate(3).toString,
          row.getLong(4), row.getDouble(5))))
      .toMap
    tsRows.groupBy(_._1).foreach { case (t, grp) =>
      val daily = grp.groupBy(p => dayOf(p._2)).view.mapValues(_.size.toLong)
        .toSeq.sortBy(_._1.toString)
      val nd = daily.size.toLong
      val total = daily.map(_._2).sum
      var s = 0L
      val walk = daily.map { case (day, c) => s += nd * c - total; (day, s.abs) }
      val (cpDay, maxAbs) = walk.maxBy { case (day, a) => (a, -day.toEpochDay) }
      val want = (nd, total, cpDay.toString, maxAbs,
        r(maxAbs.toDouble / (nd.toDouble * total.toDouble), 6))
      assert(got(t) === want, s"group $t")
    }
  }

  test("ewmaDaily matches the ordered recursion on daily means") {
    val got = StatsOps.ewmaDaily(Tables.load(spark, sfDir, "events"),
        "event_type", "ts", "value", alpha = 0.25)
      .collect()
      .map(row => (row.getString(0), row.getDate(1).toString) ->
        ((row.getLong(2), row.getDouble(3), row.getDouble(4))))
      .toMap
    tsRows.groupBy(_._1).foreach { case (t, grp) =>
      val daily = grp.groupBy(p => dayOf(p._2)).toSeq.sortBy(_._1.toString)
        .map { case (day, rows) =>
          val cents = rows.map(p => math.floor(p._3 * 100.0).toLong).sum
          (day, rows.size.toLong, cents.toDouble / rows.size.toDouble)
        }
      var e = Option.empty[Double]
      daily.foreach { case (day, n, x) =>
        e = Some(e.fold(x)(prev => 0.25 * x + 0.75 * prev))
        assert(got((t, day.toString)) === ((n, r(x, 4), r(e.get, 4))),
          s"group $t day $day")
      }
    }
  }

  test("seasonalDow matches a weekday-profile model on real events (r8)") {
    val got = StatsOps.seasonalDow(Tables.load(spark, sfDir, "events"),
        "event_type", "ts")
      .collect()
      .map(row => (row.getString(0), row.getDate(1).toString) ->
        ((row.getInt(2), row.getLong(3), row.getDouble(4), row.getDouble(5),
          row.getBoolean(6))))
      .toMap
    val origin = java.time.LocalDate.parse("2024-01-01")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val daily = tsRows.groupBy(p => (p._1, dayOf(p._2)))
      .map { case ((t, day), rows) => (t, day) -> rows.size.toLong }
    val byDow = daily.groupBy { case ((t, day), _) =>
      (t, (((java.time.temporal.ChronoUnit.DAYS.between(origin, day) % 7) + 7) % 7).toInt)
    }
    byDow.foreach { case ((t, dw), entries) =>
      val tot = entries.values.sum
      val nDays = entries.size
      val expected = tot.toDouble / nDays.toDouble
      entries.foreach { case ((_, day), c) =>
        val ratio = c.toDouble / expected
        val want = (dw, c, r6(expected), r6(ratio), ratio < 0.5 || ratio > 2.0)
        assert(got((t, day.toString)) === want, s"$t $day")
      }
    }
    assert(got.nonEmpty)
  }

  test("rankCalibrate matches a cume_dist model and keeps exactly the top fraction (r8)") {
    val docs = Tables.load(spark, sfDir, "documents")
    val all = docs.select("doc_id", "source", "n_chars").collect()
      .map(row => (row.getLong(0), row.getString(1), row.getLong(2)))
    val got = StatsOps.rankCalibrate(docs, "source", "n_chars", "doc_id",
        keepFrac = 0.2)
      .collect()
      .map(row => (row.getLong(0), (row.getString(1), row.getLong(2),
        row.getDouble(3))))
      .toMap
    val bySource = all.groupBy(_._2)
    val want = all.flatMap { case (id, src, score) =>
      val grp = bySource(src)
      val cd = grp.count(_._3 <= score).toDouble / grp.length.toDouble
      if (cd >= 1.0 - 0.2)
        Some(id -> ((src, score,
          BigDecimal(cd).setScale(6, BigDecimal.RoundingMode.HALF_UP)
            .toDouble)))
      else None
    }.toMap
    assert(got === want)
    assert(got.nonEmpty && got.size < all.length)
  }

  test("rankCalibrate gives tied scores one shared percentile (max-tie semantics) (r8)") {
    import spark.implicits._
    val df = Seq((1L, "s", 10L), (2L, "s", 10L), (3L, "s", 20L),
      (4L, "s", 30L), (5L, "s", 30L)).toDF("doc_id", "source", "n_chars")
    val got = StatsOps.rankCalibrate(df, "source", "n_chars", "doc_id",
        keepFrac = 0.61)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // cd: 10 -> 2/5 = 0.4, 20 -> 3/5 = 0.6, 30 -> 5/5 = 1.0; keep cd >= 0.39
    assert(got === Map(1L -> 0.4, 2L -> 0.4, 3L -> 0.6, 4L -> 1.0, 5L -> 1.0))
  }
}
