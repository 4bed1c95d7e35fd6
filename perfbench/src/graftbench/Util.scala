package graftbench

/** Minimal JSON writing (the harness prints one object and writes JSON
  * lines; no JSON library is on Spark's classpath that we want to pin). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Full-precision number; non-finite values have no JSON form. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Seeded generator helpers shared by the input generators. */
final class Rng(seed: Long) {
  private val r = new java.util.SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo + 1)
  def double(): Double = r.nextDouble()
  def gaussian(): Double = {
    // Box–Muller (SplittableRandom has no nextGaussian on JDK 17)
    val u1 = math.max(r.nextDouble(), 1e-300)
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
  def chance(p: Double): Boolean = r.nextDouble() < p
  /** Fisher–Yates shuffle. */
  def shuffle[T: scala.reflect.ClassTag](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** Hypervisor steal time, as a share of all CPU time between two readings
  * of Linux's /proc/stat (0 where it cannot be read). On a shared VM,
  * bursts of steal slow every run alike and are the main source of
  * run-to-run drift, so each window reports it. */
object Steal {
  def read(): Option[(Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong) finally src.close()
      Some((f.sum, f(7)))
    } catch { case scala.util.control.NonFatal(_) => None }

  def pct(from: Option[(Long, Long)], to: Option[(Long, Long)]): Double =
    (from, to) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 => 100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }
}
