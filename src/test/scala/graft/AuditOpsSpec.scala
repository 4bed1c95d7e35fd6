package graft

import org.apache.spark.sql.functions._

import graft.operators.{StatsOps, Temporal}

/** Closed-form models for the r11 audit operators: Benford chi2, Lorenz
  * points, Markov stationary power iteration, Kaplan-Meier survival. */
class AuditOpsSpec extends SparkSpec {

  import spark.implicits._

  test("benfordAudit == hand-computed chi2 on a crafted digit histogram") {
    // group "a": values crafted so first digits are 1,1,1,2,9 (cents
    // 100, 199, 1500, 25000, 999); group "b": one value per digit 1..9
    val a = Seq(1.00, 1.99, 15.00, 250.00, 9.99).map(("a", _))
    val b = (1 to 9).map(d => ("b", d * 1.0))
    val df = (a ++ b).toDF("grp", "v")
    val got = StatsOps.benfordAudit(df, "grp", "v").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    def chi2(obs: Map[Int, Long]): Double = {
      val n = obs.values.sum.toDouble
      // same fold order as the operator: digit ascending
      (1 to 9).map { d =>
        val p = math.log10(1.0 + 1.0 / d)
        val o = obs.getOrElse(d, 0L).toDouble
        (o - n * p) * (o - n * p) / (n * p)
      }.sum
    }
    val (na, chiA, d1A) = got("a")
    assert(na === 5L)
    assert(d1A === 0.6) // 3 of 5 start with 1
    assert(math.abs(chiA - chi2(Map(1 -> 3L, 2 -> 1L, 9 -> 1L))) < 1e-6)
    val (nb, chiB, d1B) = got("b")
    assert(nb === 9L)
    assert(math.abs(d1B - math.rint(1.0 / 9.0 * 1e6) / 1e6) < 1e-9)
    assert(math.abs(chiB - chi2((1 to 9).map(_ -> 1L).toMap)) < 1e-6)
    // uniform digits are ANTI-Benford: chi2 must flag b harder than a
    assert(chiB > 0.5)
  }

  test("benfordAudit is bit-identical to the digit-ordered hand fold, zero cells and one-value groups too") {
    // the operator's own cent quantization, digit, fold and HALF_UP round
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def audit(vs: Seq[Double]): (Long, Double, Double) = {
      val digits = vs.filter(_ > 0).map(v => math.floor(v * 100.0).toLong)
        .filter(_ > 0).map(_.toString.take(1).toInt)
      val n = digits.size.toLong
      val obs = (1 to 9).map(d => digits.count(_ == d).toDouble)
      val terms = (1 to 9).map { d =>
        val e = n.toDouble * math.log10(1.0 + 1.0 / d)
        (obs(d - 1) - e) * (obs(d - 1) - e) / e
      }
      (n, round6(terms.reduceLeft(_ + _)), round6(obs(0) / n.toDouble))
    }
    val groups = Map(
      // digits 1, 1, 3, 7, 7, 7: six of the nine cells are empty
      "gaps" -> Seq(1.0, 12.34, 3.5, 7.77, 70.0, 799.99),
      // no leading 1 at all: d1_share is exactly 0
      "no_one" -> Seq(2.0, 5.55, 9.0),
      "single" -> Seq(4.2),
      // uneven mass over every digit, with values the filters drop
      "mixed" -> ((1 to 60).map(i => i * 1.37) ++ Seq(0.0, -3.0, 0.004)),
      // nothing survives the filters: the group must not appear
      "dropped" -> Seq(0.0, -1.0, 0.009))
    val rows = groups.toSeq.flatMap { case (g, vs) => vs.map(v => (g, v)) } :+
      ((null: String) -> 5.0)
    val got = StatsOps.benfordAudit(rows.toDF("grp", "v"), "grp", "v").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet === groups.keySet - "dropped")
    got.foreach { case (g, v) => assert(v === audit(groups(g)), g) }
    assert(got("single") === ((1L, got("single")._2, 0.0)))
    assert(got("no_one")._3 === 0.0)
  }

  test("lorenzCurve == brute-force decile model; boundary rule exact") {
    val df = (1L to 25L).map(i => ("s", i, i * i)).toDF("grp", "id", "w")
    val got = StatsOps.lorenzCurve(df, "grp", "id", "w").orderBy("decile")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    val ws = (1L to 25L).map(i => i * i).sorted
    val tot = ws.sum.toDouble
    val want = (1 to 25).flatMap { r =>
      val q = r * 10 / 25
      val qPrev = (r - 1) * 10 / 25
      if (q > qPrev)
        Some((q.toLong, r.toLong,
          math.rint(ws.take(r).sum / tot * 1e6) / 1e6))
      else None
    }
    assert(got.toSeq === want)
    // perfectly equal weights: cum_share at decile q is exactly q/10
    // whenever the boundary is exact (n = 20 -> every boundary is)
    val eq = (1L to 20L).map(i => ("e", i, 7L)).toDF("grp", "id", "w")
    val gotEq = StatsOps.lorenzCurve(eq, "grp", "id", "w").collect()
      .map(r => r.getLong(1) -> r.getDouble(3)).toMap
    for (q <- 1L to 10L) assert(gotEq(q) === q / 10.0)
  }

  test("markovStationary: two-state closed form and dangling mass conservation") {
    // deterministic alternating chain A->B->A->B: stationary = (0.5, 0.5)
    val alt = (0L until 20L).map(i =>
      (1L, if (i % 2 == 0) "A" else "B",
        java.sql.Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"), i))
      .toDF("u", "st", "ts", "tie")
    val got = Temporal.markovStationary(alt, "u", "st", "ts", "tie", rounds = 8)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("A" -> 0.5, "B" -> 0.5))
    // dangling state: C appears only as a sink's last event (no outgoing)
    // -> it keeps whatever mass reaches it; total mass stays 1
    val dang = (Seq((1L, "A", 0L), (1L, "C", 1L)) ++
      (0L until 10L).map(i => (2L, if (i % 2 == 0) "A" else "B", i + 10L)))
      .map { case (u, st, i) =>
        (u, st, new java.sql.Timestamp(86400000L + i * 1000L), i)
      }.toDF("u", "st", "ts", "tie")
    val got2 = Temporal.markovStationary(dang, "u", "st", "ts", "tie",
      rounds = 8).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(math.abs(got2.values.sum - 1.0) < 1e-4, s"mass leaked: $got2")
    assert(got2("C") > 0.0, "the sink state must retain mass")
  }

  test("kaplanMeier == product-limit model; censoring lifts the curve") {
    // user 1: events at t=0,10,20 min (two observed 10-min gaps, one
    // censored 40-min tail); user 2: events at 0,30,60 (two observed
    // 30-min gaps, censored 0); corpus horizon = 60 min
    def ts(min: Long) = new java.sql.Timestamp(min * 60000L)
    val ev = Seq((1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(20), 3L),
      (2L, ts(0), 4L), (2L, ts(30), 5L), (2L, ts(60), 6L))
      .toDF("u", "ts", "tie")
    val got = Temporal.kaplanMeier(ev, "u", "ts", "tie").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // durations: observed 10,10,30,30; censored 40,0
    // t=0:  n_risk=6, d=0 -> S=1
    // t=10: n_risk=5, d=2 -> S=3/5
    // t=30: n_risk=3, d=2 -> S=3/5 * 1/3 = 0.2
    // t=40: n_risk=1, d=0 -> S=0.2 (censored only)
    assert(got.toSeq === Seq(
      (0L, 6L, 0L, 1.0), (10L, 5L, 2L, 0.6),
      (30L, 3L, 2L, 0.2), (40L, 1L, 0L, 0.2)))
    // the naive empirical survival (censored rows dropped) at t=30 is
    // 0/4 = 0 — censoring-correct KM keeps it at 0.2: the bias KM fixes
    val naive = 0.0
    assert(got.find(_._1 == 30L).get._4 > naive)
  }
}
