package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.{Dedup, Similarity}

/** The curation probe set: a seeded corpus (`text` + 32-d `embedding`)
  * with planted exact copies, token-edit near-duplicates and
  * perturbed-embedding semantic duplicates, run through `gopher`, `dedup`,
  * `cluster` and `semdedup` via `graft.Cli.run`. It was a workload of its
  * own; only two workloads fit the benchmark's run-time budget, so
  * `gedi_extract`'s traced run measures it (see perfbench/README.md). */
final class Curation(work: String, seed: Long) {
  val BaseDocs = 3000
  val ExactCopies = 300
  val NearDups = 300
  val SemDups = 300
  val Docs: Int = BaseDocs + ExactCopies + NearDups + SemDups
  val Dims = 32
  val Topics = 64
  val Vocab = 20000
  /** Cosine threshold for semantic duplicates; planted pairs sit near 0.99. */
  val Tau = 0.95
  /** Quality floor for `cluster`: a run whose near-duplicate recall falls
    * below it is incorrect. `semdedup` is checked exactly instead (see
    * `check`); its recall is only reported. */
  val MinRecall = 0.9
  /** Cosines this close to tau may round either way in the program's
    * float arithmetic; such pairs are not held against it. */
  val CosSlack = 1e-6

  private val corpus = s"$work/corpus"
  private def out(cmd: String) = s"$work/out/$cmd"
  private val rng = new Rng(seed)
  private val centroids = Similarity.derivedCentroids(Docs, 32)

  /** Planted (base id, duplicate id) pairs, in doc_id space. */
  private var exactPairs: Seq[(Long, Long)] = Nil
  private var nearPairs: Seq[(Long, Long)] = Nil
  private var semPairs: Seq[(Long, Long)] = Nil
  private var vecOf: Map[Long, Array[Float]] = Map.empty
  var clusterRecall = 0.0
  var semRecall = 0.0
  /** Over-merge counters: the largest `cluster` component, docs that
    * `cluster` put in a component although no planted text duplicate
    * involves them, and docs `semdedup` flagged that are not planted
    * semantic duplicates. */
  var maxComponent = 0
  var unplantedClustered = 0
  var unplantedFlagged = 0
  private var recoveredNear = 0L


  def generate(spark: SparkSession): Unit = {
    val words = Array.fill(Vocab) {
      val n = rng.between(3, 9)
      new String(Array.fill(n)(('a' + rng.int(26)).toChar))
    }
    def word(): String =
      if (rng.chance(0.08)) (if (rng.chance(0.5)) "the" else "a")
      else words((Vocab * math.pow(rng.double(), 1.5)).toInt)
    val seen = mutable.HashSet.empty[String]
    def freshDoc(): Array[String] = {
      var d = Array.fill(rng.between(16, 90))(word())
      while (!seen.add(d.mkString(" "))) d = Array.fill(rng.between(16, 90))(word())
      d
    }
    val topics = Array.fill(Topics, Dims)(rng.gaussian())
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def topicVec(): Array[Float] = {
      val c = topics(rng.int(Topics))
      unit(Array.tabulate(Dims)(i => c(i) + 0.5 * rng.gaussian()))
    }

    // logical docs: base, exact copies, near-dups, semantic dups
    val texts = mutable.ArrayBuffer.empty[String]
    val vecs = mutable.ArrayBuffer.empty[Array[Float]]
    val base = Array.fill(BaseDocs)(freshDoc())
    base.foreach { d => texts += d.mkString(" "); vecs += topicVec() }
    val pick = rng.int(BaseDocs)
    def distinctBases(n: Int): Seq[Int] =
      rng.shuffle((0 until BaseDocs).map(i => (i + pick) % BaseDocs)).take(n)
    val exactOf = distinctBases(ExactCopies).map { b =>
      texts += texts(b); vecs += topicVec(); (b, texts.size - 1)
    }
    val nearOf = distinctBases(NearDups).map { b =>
      val edits = if (base(b).length >= 40) 2 else 1
      var d = base(b).clone
      do {
        d = base(b).clone
        for (_ <- 0 until edits) {
          val p = rng.int(d.length)
          var w = words(rng.int(Vocab))
          while (w == d(p)) w = words(rng.int(Vocab))
          d(p) = w
        }
      } while (!seen.add(d.mkString(" ")))
      texts += d.mkString(" ")
      vecs += topicVec()
      (b, texts.size - 1)
    }
    val semOf = distinctBases(SemDups).map { b =>
      texts += freshDoc().mkString(" ")
      vecs += unit(Array.tabulate(Dims)(i => vecs(b)(i) + 0.015 * rng.gaussian()))
      (b, texts.size - 1)
    }
    // scatter ids so the planted structure (and the low-id rows the
    // quantizer takes as centroids) are spread over the corpus
    val ids = rng.shuffle((0 until Docs).map(_.toLong)).toArray
    exactPairs = exactOf.map { case (b, d) => (ids(b), ids(d)) }
    nearPairs = nearOf.map { case (b, d) => (ids(b), ids(d)) }
    semPairs = semOf.map { case (b, d) => (ids(b), ids(d)) }
    vecOf = (0 until Docs).map(i => ids(i) -> vecs(i)).toMap
    val schema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
    val rows = (0 until Docs).map(i => Row(ids(i), texts(i), vecs(i).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.mode("overwrite").parquet(corpus)
  }

  private def chain(spark: SparkSession, t: Tracer): Unit = {
    val text = Map("input" -> corpus, "id" -> "doc_id", "text" -> "text")
    t.call("cli", "gopher", "cli")(graft.Cli.run(spark, "gopher", text + ("output" -> out("gopher"))))
    t.call("cli", "dedup", "cli")(graft.Cli.run(spark, "dedup", text + ("output" -> out("dedup"))))
    t.call("cli", "cluster", "cli")(graft.Cli.run(spark, "cluster", text + ("output" -> out("cluster"))))
    t.call("cli", "semdedup", "cli")(graft.Cli.run(spark, "semdedup", Map(
      "input" -> corpus, "output" -> out("semdedup"), "centroids" -> centroids.toString,
      "tau" -> Tau.toString, "id" -> "doc_id", "vec" -> "embedding")))
  }

  def unit(spark: SparkSession, t: Tracer): Unit = chain(spark, t)

  def check(spark: SparkSession, t: Tracer): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Any, want: Any): Unit =
      if (got != want) problems += s"curation $what: got $got, expected $want"
    expect("gopher rows", spark.read.parquet(out("gopher")).count(), Docs.toLong)
    val d = spark.read.parquet(out("dedup")).agg(count(lit(1)), sum("n_copies")).head()
    expect("exact-dedup survivors", d.getLong(0), (Docs - ExactCopies).toLong)
    expect("exact-dedup copies", d.getLong(1), Docs.toLong)
    val comp = spark.read.parquet(out("cluster")).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("comp")).toMap
    def together(pair: (Long, Long)) = comp.get(pair._1).exists(c => comp.get(pair._2).contains(c))
    recoveredNear = nearPairs.count(together).toLong
    clusterRecall = recoveredNear.toDouble / nearPairs.size
    // recall alone cannot see over-merging (one giant component scores 1.0)
    val textDups = (exactPairs ++ nearPairs).flatMap { case (a, b) => Seq(a, b) }.toSet
    maxComponent = (0 +: comp.values.groupBy(identity).values.map(_.size).toSeq).max
    unplantedClustered = comp.keys.count(id => !textDups(id))
    // exact copies share every MinHash band, so each must be merged
    expect("exact copies in one component", exactPairs.count(together), ExactCopies)

    val sem = spark.read.parquet(out("semdedup"))
    expect("semdedup rows", sem.count(), Docs.toLong)
    val marks = sem.select("id", "cell", "dup_of").collect()
      .map(r => (r.getLong(0), r.get(1), r.getLong(2)))
    // semdedup's contract, recomputed from the generated vectors inside
    // the cells it reports: a doc is flagged, with dup_of = the least such
    // id, exactly when a lower-id cell-mate has cosine >= tau
    val wrong = marks.groupBy(_._2).values.toSeq.flatMap { cell =>
      cell.filter { case (x, _, dupOf) =>
        val near = cell.collect { case (y, _, _) if y < x => y -> cosine(vecOf(x), vecOf(y)) }
        val sure = near.collect { case (y, c) if c >= Tau + CosSlack => y }
        val maybe = near.collect { case (y, c) if math.abs(c - Tau) < CosSlack => y }
        // the least sure duplicate, a borderline one below it, or none
        val allowed = sure.minOption.getOrElse(-1L) +: maybe.filter(m => sure.forall(m < _))
        !allowed.contains(dupOf)
      }
    }
    expect("semdedup rows whose flag or dup_of disagree with a recount in their cell",
      wrong.size, 0)
    val flags = marks.filter(_._3 >= 0).map(_._1).toSet
    semRecall = semPairs.count { case (a, b) => flags.contains(math.max(a, b)) }.toDouble / semPairs.size
    val semDups = semPairs.map { case (a, b) => math.max(a, b) }.toSet
    unplantedFlagged = flags.count(id => !semDups(id))
    System.err.println(f"[perfbench] curation: cluster recall $clusterRecall%.4f, largest component " +
      f"$maxComponent, unplanted docs in components $unplantedClustered; semdedup recall " +
      f"$semRecall%.4f, unplanted flags $unplantedFlagged")
    if (clusterRecall < MinRecall) problems += s"curation cluster recall $clusterRecall < $MinRecall"
    problems.toSeq
  }

  private def cosine(x: Array[Float], y: Array[Float]): Double = {
    var (xy, xx, yy) = (0.0, 0.0, 0.0)
    for (i <- x.indices) { xy += x(i) * y(i).toDouble; xx += x(i) * x(i).toDouble; yy += y(i) * y(i).toDouble }
    xy / math.sqrt(xx * yy)
  }

  /** Kernel and operator probes; needs `check` to have run (recalls). */
  def probes(spark: SparkSession, t: Tracer, m: mutable.Map[String, Double]): Unit = {
    m("operators.cluster_recall") = clusterRecall
    m("operators.semdedup_recall") = semRecall
    m("operators.cluster_max_component") = maxComponent
    m("operators.cluster_unplanted_docs") = unplantedClustered
    m("operators.semdedup_unplanted_flags") = unplantedFlagged
    val docs = spark.read.parquet(corpus).cache()
    val rows = docs.count()
    val codes = docs.select(TextFunctions.tokenCodes(col("text")).as("codes")).cache()
    codes.count()
    def rate(name: String, frame: org.apache.spark.sql.DataFrame)(e: org.apache.spark.sql.Column) =
      m(s"functions.${name}_rows_per_s") = Layers.kernelRate(t, s"functions.$name", frame, rows)(e)
    rate("tokens", docs)(TextFunctions.tokens(col("text")))
    rate("tokencodes", docs)(TextFunctions.tokenCodes(col("text")))
    rate("minhash", codes)(TextFunctions.minhashSig(col("codes"), 16))
    rate("charhash", docs)(TextFunctions.charHash(col("text")))
    rate("charhash_hof", docs)(TextFunctions.charHashHof(col("text")))
    rate("dot", docs)(VectorFunctions.dot(col("embedding"), col("embedding")))
    rate("dot_hof", docs)(VectorFunctions.dotHof(col("embedding"), col("embedding")))
    codes.unpersist(blocking = true)

    val edges = t.span("operators.lsh_star_edges")(
      Dedup.lshStarEdges(docs, "doc_id", "text", 16, 4).cache())
    val nEdges = edges.count()
    m("operators.lsh_edges") = nEdges.toDouble
    m("operators.edge_yield") = if (nEdges > 0) recoveredNear.toDouble / nEdges else 0.0
    val cc = t.call("operators", "connected_components", "operators")(
      Dedup.connectedComponents(edges).write.format("noop").mode("overwrite").save())
    m("operators.cc_jobs") = cc.stats.fold(0.0)(_.jobs.toDouble)
    edges.unpersist(blocking = true)
    docs.unpersist(blocking = true)
  }
}
