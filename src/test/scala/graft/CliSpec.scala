package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

class CliSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("graft_cli").toString

  test("cli extract filters beams/months and projects variables") {
    val out = tmp() + "/out"
    Cli.run(spark, "extract", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> out,
      "beam-col" -> "event_type", "beams" -> "click,purchase"))
    val got = spark.read.parquet(out)
    val expect = Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin("click", "purchase")).count()
    assert(got.count() === expect)

    val out2 = tmp() + "/vars"
    Cli.run(spark, "extract", Map(
      "input" -> s"$sfDir/lineitem.parquet", "output" -> out2,
      "vars" -> "okey=l_orderkey,qty=l_quantity"))
    assert(spark.read.parquet(out2).columns.toSeq === Seq("okey", "qty"))
  }

  test("cli subset applies the bbox") {
    val out = tmp() + "/sub"
    Cli.run(spark, "subset", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> out,
      "x" -> "value", "y" -> "value", "bbox" -> "10,20,10,20"))
    val got = spark.read.parquet(out)
    assert(got.count() ===
      Tables.load(spark, sfDir, "events")
        .filter(col("value").between(10, 20)).count())
  }

  test("cli subset --aoi fans out per-AOI directories from a geojson file") {
    val base = tmp()
    val geojson =
      """{"type":"FeatureCollection","features":[
        |{"type":"Feature","properties":{},
        | "geometry":{"type":"Polygon","coordinates":[[[5.5,5.5],[80.5,5.5],[80.5,80.5],[5.5,80.5],[5.5,5.5]]]}}
        |]}""".stripMargin
    Files.writeString(java.nio.file.Paths.get(base, "zone.geojson"), geojson)
    Cli.run(spark, "subset", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> s"$base/out",
      "x" -> "value", "y" -> "value", "aoi" -> s"$base/zone.geojson"))
    val got = spark.read.parquet(s"$base/out")
    assert(got.columns.contains("aoi"))
    assert(got.filter(col("aoi") === "zone").count() ===
      Tables.load(spark, sfDir, "events")
        .filter(col("value") > 5.5 && col("value") < 80.5).count())
  }

  test("cli pipeline --aoi runs exactly one Spark job (AOI file read on the driver)") {
    val base = tmp()
    val jobs = jobsDuring(CliSpec.pipelineAoi(base))
    assert(jobs === 1)
    val got = spark.read.parquet(s"$base/out")
    // shots 0 and 1 (lon 20.5/21.5, lat 10.5/11.5) fall inside the zone
    assert(got.filter(col("aoi") === "zone").count() === 2)
  }

  test("merge, rasterize and subset --aoi start no schema-inference job") {
    import spark.implicits._
    val base = tmp()
    Seq((1L, "2019-01", 10.0), (2L, "2019-01", 20.0))
      .toDF("shot", "acq_time", "sensitivity").write.parquet(s"$base/l2a")
    Seq((1L, "2019-01", 11.0), (3L, "2019-01", 30.0))
      .toDF("shot", "acq_time", "sensitivity").write.parquet(s"$base/l2b")
    Files.writeString(java.nio.file.Paths.get(base, "zone.geojson"),
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{},
        | "geometry":{"type":"Polygon","coordinates":[[[5.5,5.5],[80.5,5.5],[80.5,80.5],[5.5,80.5],[5.5,5.5]]]}}
        |]}""".stripMargin)
    // a parquet input read with Spark's schema inference adds one job to
    // each count (merge 4, rasterize 3, subset --aoi 2)
    assert(jobsDuring(Cli.run(spark, "merge", Map(
      "left" -> s"$base/l2a", "right" -> s"$base/l2b",
      "output" -> s"$base/merged", "on" -> "shot,acq_time"))) === 2)
    assert(jobsDuring(Cli.run(spark, "rasterize", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> s"$base/ras",
      "x" -> "value", "y" -> "value", "res" -> "25", "sum" -> "value"))) === 2)
    assert(jobsDuring(Cli.run(spark, "subset", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> s"$base/sub",
      "x" -> "value", "y" -> "value", "aoi" -> s"$base/zone.geojson"))) === 1)
  }

  test("observed metrics: a fired observation is returned, a never-run one is empty without waiting") {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val df = spark.range(10).toDF("id")
    val fired = new org.apache.spark.sql.Observation("graft_spec_fired")
    df.observe(fired, count(lit(1)).as("n")).collect()
    assert(PlanBridge.awaitObserved(fired)("n") === 10L)
    assert(PlanBridge.observedAfterAction(fired).flatMap(_.get("n")) === Some(10L))

    val never = new org.apache.spark.sql.Observation("graft_spec_never")
    df.observe(never, count(lit(1)).as("n")) // attached, never materialized
    val t0 = System.nanoTime()
    assert(PlanBridge.observedAfterAction(never).isEmpty) // Cli logs it as -1
    intercept[IllegalArgumentException](PlanBridge.awaitObserved(never))
    assert((System.nanoTime() - t0) / 1e9 < 2.0, "a bus drain, not a fixed sleep")
  }

  test("an eager localCheckpoint fires its frame's observation, collect_list(struct) metrics included") {
    // the r19 gate scores and IVF training's per-iteration codebook read
    // ride the round's own checkpoint action instead of a job of their own
    import org.apache.spark.sql.graftbridge.PlanBridge
    val gate = new org.apache.spark.sql.Observation("graft_spec_ckpt_gate")
    val ck = spark.range(100).toDF("x")
      .observe(gate, sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .transform(PlanBridge.localCheckpoint)
    assert(PlanBridge.awaitObserved(gate) === Map("sx" -> 4950L, "n" -> 100L))

    val rows = new org.apache.spark.sql.Observation("graft_spec_ckpt_rows")
    val ck2 = spark.range(10).toDF("id")
      .withColumn("vec", array(col("id").cast("float"), (col("id") * 2).cast("float")))
      .observe(rows, collect_list(when(col("id") < 3,
        struct(col("id"), col("vec")))).as("coarse"))
      .transform(PlanBridge.localCheckpoint)
    val coarse = PlanBridge.awaitObserved(rows)("coarse")
      .asInstanceOf[Seq[org.apache.spark.sql.Row]]
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
    assert(coarse === Seq((0L, Seq(0f, 0f)), (1L, Seq(1f, 2f)), (2L, Seq(2f, 4f))))
    Seq(ck, ck2).foreach(PlanBridge.release)
  }

  test("cli curation, IVF-trained and louvain commands leave no RDD persisted") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.PlanBridge
    val base = tmp()
    val docs = s"$sfDir/documents.parquet"
    val emb = s"$sfDir/embeddings.parquet"
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b").write.parquet(s"$base/edges")
    val calls = Seq(
      "dedup" -> Map("input" -> docs, "id" -> "doc_id", "text" -> "text"),
      "cluster" -> Map("input" -> docs, "id" -> "doc_id", "text" -> "text"),
      "semdedup" -> Map("input" -> emb),
      "ivf-index" -> Map("input" -> emb, "train-iters" -> "2"),
      "louvain" -> Map("input" -> s"$base/edges"))
    // every RDD a command persisted is held strongly until it is counted,
    // so a leak cannot hide behind SparkContext's weak-valued registry
    val leaks = calls.flatMap { case (cmd, opts) =>
      val (_, left) = PlanBridge.persistedAfter(spark)(
        Cli.run(spark, cmd, opts + ("output" -> s"$base/$cmd")))
      if (left.isEmpty) None else Some(s"$cmd left RDDs ${left.mkString(",")}")
    }
    assert(leaks.isEmpty)
  }

  test("cli merge suffixes and joins the two sides") {
    import spark.implicits._
    val base = tmp()
    Seq((1L, "2019-01", 10.0), (2L, "2019-01", 20.0))
      .toDF("shot", "acq_time", "sensitivity")
      .write.parquet(s"$base/l2a")
    Seq((1L, "2019-01", 11.0), (3L, "2019-01", 30.0))
      .toDF("shot", "acq_time", "sensitivity")
      .write.parquet(s"$base/l2b")
    Cli.run(spark, "merge", Map(
      "left" -> s"$base/l2a", "right" -> s"$base/l2b",
      "output" -> s"$base/merged", "on" -> "shot,acq_time", "how" -> "inner"))
    val got = spark.read.parquet(s"$base/merged")
    assert(got.count() === 1)
    assert(got.columns.toSet === Set("shot", "acq_time", "sensitivity_l2a", "sensitivity_l2b"))
  }

  test("cli manifest prunes by product/months/bbox") {
    import spark.implicits._
    val base = tmp()
    Seq(
      ("g1", "GEDI02_A", java.sql.Timestamp.valueOf("2019-07-01 00:00:00"),
        -20.0, -10.0, 0.0, 10.0, "/d/g1"),
      ("g2", "GEDI02_B", java.sql.Timestamp.valueOf("2019-07-01 00:00:00"),
        -20.0, -10.0, 0.0, 10.0, "/d/g2"))
      .toDF("granule_id", "product", "acq_time", "xmin", "xmax", "ymin", "ymax", "path")
      .write.parquet(s"$base/manifest")
    Cli.run(spark, "manifest", Map(
      "input" -> s"$base/manifest", "output" -> s"$base/pruned",
      "product" -> "GEDI02_A%", "months" -> "6,8", "bbox" -> "-30,30,-10,40"))
    val got = spark.read.parquet(s"$base/pruned")
    assert(got.select("granule_id").collect().map(_.getString(0)).toSeq === Seq("g1"))
  }

  test("cli dedup/cluster/sample/pack run the pipeline operators end-to-end") {
    val base = tmp()
    val docsIn = s"$sfDir/documents.parquet"
    Cli.run(spark, "dedup", Map(
      "input" -> docsIn, "output" -> s"$base/dedup", "id" -> "doc_id", "text" -> "text"))
    val dedup = spark.read.parquet(s"$base/dedup")
    assert(dedup.columns.toSeq === Seq("keep_id", "n_copies"))
    assert(dedup.agg(sum("n_copies")).head.getLong(0) ===
      Tables.load(spark, sfDir, "documents").count())

    Cli.run(spark, "cluster", Map(
      "input" -> docsIn, "output" -> s"$base/cluster",
      "id" -> "doc_id", "text" -> "text", "bands" -> "2"))
    val cl = spark.read.parquet(s"$base/cluster")
    assert(cl.columns.toSeq === Seq("id", "comp"))
    assert(cl.filter(col("comp") > col("id")).count() === 0)

    Cli.run(spark, "sample", Map(
      "input" -> docsIn, "output" -> s"$base/sample",
      "id" -> "doc_id", "strata" -> "lang", "rates" -> "en=20,de=50"))
    val sm = spark.read.parquet(s"$base/sample")
    assert(sm.count() > 0 &&
      sm.count() < Tables.load(spark, sfDir, "documents").count())

    Cli.run(spark, "pack", Map(
      "input" -> docsIn, "output" -> s"$base/pack",
      "id" -> "doc_id", "text" -> "text", "budget" -> "128", "buckets" -> "4"))
    val pk = spark.read.parquet(s"$base/pack")
    assert(pk.columns.toSeq === Seq("bucket", "seq_id", "n_docs", "n_tokens"))
    assert(pk.agg(sum("n_docs")).head.getLong(0) ===
      Tables.load(spark, sfDir, "documents").count())
  }

  test("cli chunk/cap/upsert wire the round-5 operators end-to-end") {
    val chunkOut = tmp() + "/chunks"
    Cli.run(spark, "chunk", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> chunkOut,
      "id" -> "doc_id", "text" -> "text", "window" -> "16", "stride" -> "16"))
    val chunks = spark.read.parquet(chunkOut)
    assert(chunks.columns.toSeq ===
      Seq("doc_id", "chunk_idx", "chunk_text", "n_tok"))
    assert(chunks.count() >=
      Tables.load(spark, sfDir, "documents").count())

    val capOut = tmp() + "/capped"
    Cli.run(spark, "cap", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> capOut,
      "id" -> "doc_id", "group" -> "source", "k" -> "3"))
    val capped = spark.read.parquet(capOut)
    assert(capped.groupBy("source").count()
      .collect().forall(_.getLong(1) <= 3))

    // upsert: split events at a timestamp, merge must equal full recompute
    val baseDir = tmp() + "/base"
    val updDir = tmp() + "/upd"
    val ev = Tables.load(spark, sfDir, "events")
      .select("user_id", "event_type", "ts", "event_id", "value")
    ev.filter(col("ts") < "2024-01-15").write.parquet(baseDir)
    ev.filter(col("ts") >= "2024-01-15").write.parquet(updDir)
    val upsOut = tmp() + "/state"
    Cli.run(spark, "upsert", Map(
      "base" -> baseDir, "updates" -> updDir, "output" -> upsOut,
      "keys" -> "user_id,event_type", "version" -> "ts,event_id"))
    val state = spark.read.parquet(upsOut)
    val expect = graft.operators.MergeOps.latestWinsMerge(
      ev, ev.limit(0), Seq("user_id", "event_type"), Seq("ts", "event_id"))
    assert(state.count() === expect.count())
    assert(state.exceptAll(expect).isEmpty && expect.exceptAll(state).isEmpty)
  }

  test("cli sessionize and asof wire the temporal operators") {
    val base = tmp()
    Cli.run(spark, "sessionize", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> s"$base/sess",
      "key" -> "user_id", "ts" -> "ts", "tie" -> "event_id", "value" -> "value"))
    val sess = spark.read.parquet(s"$base/sess")
    assert(sess.agg(sum("n_events")).head.getLong(0) ===
      Tables.load(spark, sfDir, "events").count())

    import spark.implicits._
    Seq((1L, 5L, 1.5)).toDF("k", "t", "v").write.parquet(s"$base/right")
    Seq((1L, 10L), (2L, 10L)).toDF("k", "t").write.parquet(s"$base/left")
    Cli.run(spark, "asof", Map(
      "left" -> s"$base/left", "right" -> s"$base/right",
      "output" -> s"$base/asof", "key" -> "k", "time" -> "t", "payload" -> "v"))
    val asof = spark.read.parquet(s"$base/asof")
      .collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(asof === Map(1L -> Some(1.5), 2L -> None))
  }

  test("cli --log writes a JSON-lines run log whose counts match the data") {
    val base = tmp()
    val log = s"$base/run.jsonl"
    Cli.run(spark, "extract", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> s"$base/out",
      "beam-col" -> "event_type", "beams" -> "click,purchase",
      "log" -> log))
    // a failing command must log too
    intercept[Exception] {
      Cli.run(spark, "extract", Map(
        "input" -> s"$base/nope_does_not_exist", "output" -> s"$base/out2",
        "log" -> log))
    }
    val entries = spark.read.json(log).orderBy("status").collect()
    assert(entries.length === 2)
    val err = entries.head
    assert(err.getAs[String]("status") === "error" &&
      err.getAs[String]("command") === "extract")
    val ok = entries.last
    assert(ok.getAs[String]("status") === "ok")
    // observed counts ride the write job — they must equal the real counts
    val nIn = Tables.load(spark, sfDir, "events").count()
    val nOut = spark.read.parquet(s"$base/out").count()
    assert(ok.getAs[Long]("n_input") === nIn)
    assert(ok.getAs[Long]("n_output") === nOut)
    assert(ok.getAs[Double]("wall_sec") >= 0.0)
  }

  test("cli ingest/pipeline --log records count the corrupt granules") {
    val base = tmp()
    val granules = java.nio.file.Paths.get(base, "granules")
    CliSpec.writeGranule(granules, "GEDI02_A_2019170155833_O02932_T02267_02_001_01.h5")
    Files.writeString(granules.resolve("GEDI02_A_2019171000000_O02933_T02267_02_001_01.h5"),
      "BEAM0101 shot_number not_a_number\n")
    val log = s"$base/run.jsonl"
    for (cmd <- Seq("ingest", "pipeline"))
      Cli.run(spark, cmd, Map("input" -> granules.toString, "output" -> s"$base/$cmd",
        "product" -> "L2A", "log" -> log))
    val entries = spark.read.json(log).orderBy("command").collect()
    assert(entries.map(_.getAs[String]("command")).toSeq === Seq("ingest", "pipeline"))
    entries.foreach { e =>
      assert(e.getAs[String]("status") === "ok")
      assert(e.getAs[Long]("n_granule_errors") === 1L, e.toString)
    }
    assert(entries.head.getAs[Long]("n_output") === 4L) // the valid granule's shots
  }

  test("cli score/blockdedup/bm25 wire the round-6 text operators") {
    val scoreOut = tmp() + "/scored"
    Cli.run(spark, "score", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> scoreOut,
      "text" -> "text"))
    val scored = spark.read.parquet(scoreOut)
    assert(scored.columns.contains("quality_score") &&
      scored.columns.contains("entropy_bits"))
    assert(scored.count() === Tables.load(spark, sfDir, "documents").count())

    val bdOut = tmp() + "/blockdedup"
    Cli.run(spark, "blockdedup", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> bdOut,
      "id" -> "doc_id", "text" -> "text", "block-tokens" -> "16"))
    val bd = spark.read.parquet(bdOut)
    assert(bd.columns.toSeq === Seq("doc_id", "n_blocks", "n_kept", "dedup_text"))
    assert(bd.agg(sum(col("n_kept"))).head.getLong(0) <=
      bd.agg(sum(col("n_blocks"))).head.getLong(0))

    val bmOut = tmp() + "/bm25"
    Cli.run(spark, "bm25", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> bmOut,
      "id" -> "doc_id", "text" -> "text", "terms" -> "join,merge", "k" -> "3"))
    val bm = spark.read.parquet(bmOut)
    assert(bm.select("term").distinct().collect().map(_.getString(0)).toSet
      === Set("join", "merge"))
    assert(bm.groupBy("term").count().collect().forall(_.getLong(1) <= 3))

    val fragDir = tmp() + "/frag"
    Tables.load(spark, sfDir, "documents").repartition(16).write.parquet(fragDir)
    val packedDir = tmp() + "/packed"
    Cli.run(spark, "compact", Map(
      "input" -> fragDir, "output" -> packedDir,
      "target-bytes" -> (64L * 1024 * 1024).toString))
    assert(spark.read.parquet(packedDir).count() ===
      Tables.load(spark, sfDir, "documents").count())
    assert(new java.io.File(packedDir).listFiles()
      .count(_.getName.endsWith(".parquet")) < 16)
  }

  test("cli rasterize buckets points") {
    val out = tmp() + "/ras"
    Cli.run(spark, "rasterize", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> out,
      "x" -> "value", "y" -> "value", "res" -> "25", "sum" -> "value"))
    val got = spark.read.parquet(out)
    assert(got.columns.toSeq === Seq("cy", "cx", "n", "sum"))
    assert(got.count() > 0)
  }

  test("cli semdedup / outliers / skyline / collocations run end-to-end") {
    val sd = tmp() + "/sd"
    Cli.run(spark, "semdedup", Map(
      "input" -> s"$sfDir/embeddings.parquet", "output" -> sd))
    val sdGot = spark.read.parquet(sd)
    assert(sdGot.count() ===
      Tables.load(spark, sfDir, "embeddings").count())
    assert(sdGot.columns.toSeq === Seq("id", "cell", "dup_of", "kept"))

    val ol = tmp() + "/ol"
    Cli.run(spark, "outliers", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> ol,
      "group" -> "event_type", "value" -> "value"))
    val olGot = spark.read.parquet(ol)
    assert(olGot.columns.toSeq ===
      Seq("event_type", "n", "med", "mad", "n_outliers"))
    assert(olGot.count() === 5)

    val sk = tmp() + "/sk"
    Cli.run(spark, "skyline", Map(
      "input" -> s"$sfDir/part.parquet", "output" -> sk,
      "min-col" -> "p_retailprice", "max-col" -> "p_size"))
    val skGot = spark.read.parquet(sk)
    assert(skGot.count() > 0 &&
      skGot.count() < Tables.load(spark, sfDir, "part").count())

    val co = tmp() + "/co"
    Cli.run(spark, "collocations", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> co,
      "id" -> "doc_id", "text" -> "text", "k" -> "10"))
    val coGot = spark.read.parquet(co)
    assert(coGot.count() === 10)
    assert(coGot.columns.toSeq === Seq("a", "b", "c_ab", "c_a", "c_b", "lift"))

    val pr = tmp() + "/pr"
    Cli.run(spark, "profile", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> pr))
    val prGot = spark.read.parquet(pr)
    assert(prGot.count() === 6) // one row per events column
    assert(prGot.columns.toSeq ===
      Seq("n_rows", "col_name", "n_non_null", "n_distinct", "min_str", "max_str"))
  }

  test("cli urldedup / split / pagerank wire the round-7 operators") {
    import spark.implicits._
    // urls file with scheme/utm variants of one page + a distinct page
    val urls = tmp() + "/urls"
    Seq((1L, "https://www.a.com/p?utm_source=x"), (2L, "HTTP://A.com/p"),
      (3L, "https://a.com/q"))
      .toDF("doc_id", "url").write.parquet(urls)
    val ud = tmp() + "/ud"
    Cli.run(spark, "urldedup", Map(
      "input" -> urls, "output" -> ud, "url" -> "url", "id" -> "doc_id"))
    val udGot = spark.read.parquet(ud).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(udGot === Map("a.com/p" -> ((2L, 1L)), "a.com/q" -> ((1L, 3L))))

    val sp = tmp() + "/sp"
    Cli.run(spark, "split", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> sp,
      "id" -> "doc_id"))
    val spGot = spark.read.parquet(sp)
    assert(spGot.count() === Tables.load(spark, sfDir, "documents").count())
    assert(spGot.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))

    val pg = tmp() + "/pg"
    val edges = tmp() + "/edges"
    Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst").write.parquet(edges)
    Cli.run(spark, "pagerank", Map("input" -> edges, "output" -> pg))
    val pgGot = spark.read.parquet(pg).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // symmetric 3-cycle: uniform stationary distribution
    assert(pgGot.keySet === Set(1L, 2L, 3L))
    pgGot.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-6))
  }

  test("cli cdc/scd2/resample/skewstats wire the late-round-7 operators") {
    import spark.implicits._
    val base = tmp() + "/base"
    val log = tmp() + "/log"
    Seq((1L, 0L, 10.0)).toDF("k", "ver", "value").write.parquet(base)
    Seq((1L, 1L, 11.0, "U"), (2L, 1L, 20.0, "I"))
      .toDF("k", "ver", "value", "op").write.parquet(log)
    val cdcOut = tmp() + "/cdc"
    Cli.run(spark, "cdc", Map("base" -> base, "updates" -> log,
      "output" -> cdcOut, "keys" -> "k", "version" -> "ver"))
    assert(spark.read.parquet(cdcOut).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
      === Map(1L -> 11.0, 2L -> 20.0))

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val dimLog = tmp() + "/dimlog"
    Seq((1L, ts("2020-01-01 00:00:00"), "bronze"),
      (1L, ts("2020-02-01 00:00:00"), "silver"))
      .toDF("k", "ts", "seg").write.parquet(dimLog)
    val scdOut = tmp() + "/scd"
    Cli.run(spark, "scd2", Map("input" -> dimLog, "output" -> scdOut,
      "keys" -> "k", "ts" -> "ts"))
    val scd = spark.read.parquet(scdOut)
    assert(scd.count() === 2 && scd.filter(col("is_current")).count() === 1)

    val rsOut = tmp() + "/rs"
    Cli.run(spark, "resample", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> rsOut,
      "key" -> "event_type", "ts" -> "ts", "value" -> "value"))
    val rs = spark.read.parquet(rsOut)
    assert(rs.columns.toSeq === Seq("event_type", "bin", "n", "value_ff"))
    assert(rs.count() > 0)

    val skOut = tmp() + "/sk"
    Cli.run(spark, "skewstats", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> skOut,
      "key" -> "event_type"))
    val sk = spark.read.parquet(skOut)
    assert(sk.count() === 1 && sk.head.getLong(1) === 5L) // 5 event types
  }

  test("cli graph commands: labelprop / hits / knngraph") {
    import spark.implicits._
    val edges = tmp() + "/edges2"
    // two triangles joined by one bridge edge
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (11L, 12L), (12L, 13L), (11L, 13L),
      (3L, 11L)).toDF("a", "b").write.parquet(edges)
    val lpOut = tmp() + "/lp"
    Cli.run(spark, "labelprop", Map("input" -> edges, "output" -> lpOut))
    val lp = spark.read.parquet(lpOut).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp(1L) != lp(12L), "the two triangles keep distinct communities")

    val hitsOut = tmp() + "/hits"
    Seq((1L, 9L), (2L, 9L), (3L, 9L)).toDF("src", "dst").write.parquet(edges + "_d")
    Cli.run(spark, "hits", Map("input" -> (edges + "_d"), "output" -> hitsOut))
    val h = spark.read.parquet(hitsOut).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toList
    assert(h.maxBy(_._3)._1 === 9L, "star center is the authority")

    val knnOut = tmp() + "/knn"
    Cli.run(spark, "knngraph", Map(
      "input" -> s"$sfDir/embeddings.parquet", "output" -> knnOut, "k" -> "3"))
    val knn = spark.read.parquet(knnOut)
    assert(knn.columns.toSeq === Seq("src", "rank", "dst", "cos_sim"))
    assert(knn.groupBy("src").count().agg(max("count")).head.getLong(0) <= 3L)
  }

  test("cli release/stat commands: kanon / basket / gini / welch / cms / interpfill") {
    import spark.implicits._
    val kaOut = tmp() + "/ka"
    Cli.run(spark, "kanon", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> kaOut,
      "quasi" -> "source,lang", "k" -> "3"))
    val ka = spark.read.parquet(kaOut)
    assert(ka.filter(!col("suppressed")).agg(min("n_rows")).head.getLong(0) >= 3L)

    val items = tmp() + "/items"
    Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L), (3L, 1L))
      .toDF("bk", "it").write.parquet(items)
    val mbOut = tmp() + "/mb"
    Cli.run(spark, "basket", Map("input" -> items, "output" -> mbOut,
      "basket" -> "bk", "item" -> "it"))
    val mb = spark.read.parquet(mbOut).collect()
    assert(mb.length === 1 && mb.head.getLong(2) === 2L) // pair (1,2) co=2

    val giOut = tmp() + "/gi"
    Cli.run(spark, "gini", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> giOut,
      "group" -> "source", "weight" -> "n_chars"))
    val gi = spark.read.parquet(giOut).head
    assert(gi.getDouble(2) >= 0.0 && gi.getDouble(2) < 1.0)

    val weOut = tmp() + "/we"
    Cli.run(spark, "welch", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> weOut,
      "group" -> "source", "value" -> "n_chars", "a" -> "src0", "b" -> "src1"))
    assert(spark.read.parquet(weOut).count() === 1)

    val cmsOut = tmp() + "/cms"
    val terms = tmp() + "/terms"
    Seq.fill(5)("x").map(Tuple1(_)).toDF("term").union(
      Seq("y", "z").map(Tuple1(_)).toDF("term")).write.parquet(terms)
    Cli.run(spark, "cms", Map("input" -> terms, "output" -> cmsOut,
      "term" -> "term", "width" -> "64"))
    val cms = spark.read.parquet(cmsOut).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(cms.head === (("x", 5L, 5L)))
    assert(cms.forall(t => t._3 >= t._2))

    val ifOut = tmp() + "/if"
    Cli.run(spark, "interpfill", Map(
      "input" -> s"$sfDir/events.parquet", "output" -> ifOut,
      "key" -> "event_type", "ts" -> "ts", "value" -> "value"))
    val ifr = spark.read.parquet(ifOut)
    assert(ifr.columns.toSeq === Seq("event_type", "bin", "n", "value_interp"))
    assert(ifr.count() > 0)
  }

  test("cli hamming and admit run the round-7 dedup additions end-to-end") {
    import spark.implicits._
    val hmOut = tmp() + "/hm"
    Cli.run(spark, "hamming", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> hmOut,
      "id" -> "doc_id", "text" -> "text"))
    val hm = spark.read.parquet(hmOut)
    assert(hm.columns.toSeq === Seq("a", "b", "hamming"))
    assert(hm.agg(max("hamming")).head.getLong(0) <= 2L)

    val corpus = tmp() + "/corpus"
    val batch = tmp() + "/batch"
    Seq((1L, "alpha beta gamma delta eps"), (2L, "unrelated totally other words"))
      .toDF("doc_id", "text").write.parquet(corpus)
    Seq((10L, "alpha beta gamma delta eps"), (11L, "fresh new content here"))
      .toDF("doc_id", "text").write.parquet(batch)
    val adOut = tmp() + "/ad"
    Cli.run(spark, "admit", Map("corpus" -> corpus, "batch" -> batch,
      "output" -> adOut, "id" -> "doc_id", "text" -> "text"))
    val ad = spark.read.parquet(adOut).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
        r.getAs[Double]("jaccard")))
    assert(ad.toSeq === Seq((10L, 1L, 1.0)), "the exact dup must be flagged")
  }

  test("cli utm forward and inverse round-trip through the command surface (r8)") {
    import spark.implicits._
    val pts = tmp() + "/pts"
    Seq((1L, -73.5, 40.5), (2L, 7.85, 47.99), (3L, 150.2, -33.8))
      .toDF("id", "lon", "lat").write.parquet(pts)
    val fwd = tmp() + "/fwd"
    Cli.run(spark, "utm", Map("input" -> pts, "output" -> fwd))
    val f = spark.read.parquet(fwd)
    assert(f.columns.toSet === Set("id", "lon", "lat", "utm_zone", "south",
      "easting_m", "northing_m"))
    val z = f.collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("utm_zone")).toMap
    assert(z === Map(1L -> 18L, 2L -> 32L, 3L -> 56L))
    val inv = tmp() + "/inv"
    Cli.run(spark, "utm", Map("input" -> fwd, "output" -> inv,
      "inverse" -> "true", "easting" -> "easting_m", "northing" -> "northing_m",
      "zone" -> "utm_zone", "south" -> "south"))
    // the inverse overwrites lon/lat from easting/northing: round-trip
    spark.read.parquet(inv).collect().foreach { r =>
      val id = r.getAs[Long]("id")
      val (lon0, lat0) = Map(1L -> (-73.5, 40.5), 2L -> (7.85, 47.99),
        3L -> (150.2, -33.8))(id)
      assert(math.abs(r.getAs[Double]("lon") - lon0) < 1e-7, s"id $id lon")
      assert(math.abs(r.getAs[Double]("lat") - lat0) < 1e-7, s"id $id lat")
    }
  }

  test("cli lcc projects through the declared cone (r9)") {
    import spark.implicits._
    val pts = tmp() + "/lccpts"
    Seq((1L, -75.0, 35.0)).toDF("id", "lon", "lat").write.parquet(pts)
    val out = tmp() + "/lccout"
    Cli.run(spark, "lcc", Map("input" -> pts, "output" -> out))
    val r = spark.read.parquet(out).collect().head
    // WGS84 on the default CONUS cone lands within ~10 km of the Clarke
    // 1866 published point (datum difference); pin loosely here — the
    // exact Clarke vector is pinned in GeoSpec
    assert(math.abs(r.getAs[Double]("lcc_x_m") - 1894410.9) < 15000.0)
    assert(math.abs(r.getAs[Double]("lcc_y_m") - 1564649.5) < 15000.0)
  }

  test("cli maxsim / hardneg / olstrend / cusum / ewma / hll wire the r8 operators") {
    val emb = s"$sfDir/embeddings.parquet"
    val qs = tmp() + "/qs"
    spark.read.parquet(emb).filter(col("vec_id") < 12)
      .write.parquet(qs) // 3 query docs of 4 tokens
    val ms = tmp() + "/ms"
    Cli.run(spark, "maxsim", Map("input" -> emb, "queries" -> qs,
      "output" -> ms))
    val msGot = spark.read.parquet(ms)
    assert(msGot.columns.toSet === Set("qdoc", "rank", "cdoc", "maxsim"))
    assert(msGot.count() === 15) // 3 query docs x top-5
    val msr = tmp() + "/msr"
    Cli.run(spark, "maxsim", Map("input" -> emb, "queries" -> qs,
      "output" -> msr, "token-topn" -> "10"))
    assert(spark.read.parquet(msr).count() === 15)

    val qs1 = tmp() + "/qs1"
    spark.read.parquet(emb).filter(col("vec_id") < 4).write.parquet(qs1)
    val hn = tmp() + "/hn"
    Cli.run(spark, "hardneg", Map("input" -> emb, "queries" -> qs1,
      "output" -> hn, "k" -> "3"))
    val hnGot = spark.read.parquet(hn)
    assert(hnGot.columns.toSet ===
      Set("qid", "rank", "neg_id", "neg_label", "neg_cos", "margin"))
    assert(hnGot.count() === 12)

    val ev = s"$sfDir/events.parquet"
    val ot = tmp() + "/ot"
    Cli.run(spark, "olstrend", Map("input" -> ev, "output" -> ot,
      "group" -> "event_type", "value" -> "value"))
    assert(spark.read.parquet(ot).columns.toSet ===
      Set("event_type", "n", "slope_cents_per_day", "intercept_cents", "r2"))

    val cs = tmp() + "/cs"
    Cli.run(spark, "cusum", Map("input" -> ev, "output" -> cs,
      "group" -> "event_type"))
    assert(spark.read.parquet(cs).select("event_type").distinct().count() === 5)

    val ew = tmp() + "/ew"
    Cli.run(spark, "ewma", Map("input" -> ev, "output" -> ew,
      "group" -> "event_type", "value" -> "value"))
    assert(spark.read.parquet(ew).columns.toSet ===
      Set("event_type", "day", "n", "day_mean", "ewma"))

    val hll = tmp() + "/hll"
    val regsDir = tmp() + "/regs"
    Cli.run(spark, "hll", Map("input" -> ev, "output" -> hll,
      "key" -> "props", "registers" -> regsDir))
    val est = spark.read.parquet(hll).collect()(0)
    val exact = spark.read.parquet(ev).select("props").distinct().count()
    assert(math.abs(est.getAs[Double]("est") - exact) <= 3 * 0.046 * exact)
    // the persisted register frame is the mergeable state
    assert(spark.read.parquet(regsDir).count() <= 512)
  }

  test("cli kmv / kcore / assort / calibrate / mmr wire the late-r8 operators") {
    import spark.implicits._
    val ev = s"$sfDir/events.parquet"
    val kmv = tmp() + "/kmv"
    val skDir = tmp() + "/sk"
    Cli.run(spark, "kmv", Map("input" -> ev, "output" -> kmv,
      "group" -> "event_type", "key" -> "props", "k" -> "32",
      "sketch" -> skDir))
    val kGot = spark.read.parquet(kmv)
    assert(kGot.columns.toSet === Set("event_type", "k_eff", "h_k", "est"))
    assert(kGot.count() === 5)
    assert(spark.read.parquet(skDir)
      .groupBy("event_type").count().agg(max("count")).collect()(0)
      .getLong(0) <= 32)

    val edges = tmp() + "/edges"
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("a", "b").write.parquet(edges)
    val kc = tmp() + "/kc"
    Cli.run(spark, "kcore", Map("input" -> edges, "output" -> kc,
      "k" -> "2", "rounds" -> "4"))
    assert(spark.read.parquet(kc).collect().map(_.getLong(0)).toSet ===
      Set(1L, 2L, 3L))

    val as = tmp() + "/as"
    Cli.run(spark, "assort", Map("input" -> edges, "output" -> as))
    val asGot = spark.read.parquet(as).collect()(0)
    assert(asGot.getLong(0) === 5L)

    val docs = s"$sfDir/documents.parquet"
    val cal = tmp() + "/cal"
    Cli.run(spark, "calibrate", Map("input" -> docs, "output" -> cal,
      "group" -> "source", "score" -> "n_chars", "id" -> "doc_id",
      "keep" -> "0.25"))
    val calGot = spark.read.parquet(cal)
    assert(calGot.columns.toSet === Set("doc_id", "source", "score", "pct"))
    assert(calGot.agg(min("pct")).collect()(0).getDouble(0) >= 0.75)

    val emb = s"$sfDir/embeddings.parquet"
    val qs = tmp() + "/mmrq"
    spark.read.parquet(emb).filter(col("vec_id") < 3).write.parquet(qs)
    val mm = tmp() + "/mmr"
    Cli.run(spark, "mmr", Map("input" -> emb, "queries" -> qs,
      "output" -> mm, "n" -> "8", "k" -> "3"))
    val mmGot = spark.read.parquet(mm)
    assert(mmGot.columns.toSet === Set("qid", "step", "vec_id", "mmr_score"))
    assert(mmGot.count() === 9) // 3 queries x 3 picks
  }

  test("cli seasonal / footprint / sq8 / linkpredict / mediadedup wire the last r8 operators") {
    import spark.implicits._
    val ev = s"$sfDir/events.parquet"
    val se = tmp() + "/se"
    Cli.run(spark, "seasonal", Map("input" -> ev, "output" -> se,
      "group" -> "event_type"))
    val seGot = spark.read.parquet(se)
    assert(seGot.columns.toSet ===
      Set("event_type", "day", "dow", "c", "expected", "ratio", "is_anomaly"))
    assert(seGot.count() > 0)

    val pts = tmp() + "/pts"
    Seq((0.25, 0.25)).toDF("lon", "lat").write.parquet(pts)
    val fc = tmp() + "/fc"
    Cli.run(spark, "footprint", Map("input" -> pts, "output" -> fc,
      "res" -> "0.5", "r" -> "0.2"))
    val fcGot = spark.read.parquet(fc).collect()
    assert(fcGot.length === 1 && fcGot(0).getLong(2) === 12L)

    val emb = s"$sfDir/embeddings.parquet"
    val qs = tmp() + "/sqq"
    spark.read.parquet(emb).filter(col("vec_id") < 3).write.parquet(qs)
    val sq = tmp() + "/sq"
    Cli.run(spark, "sq8", Map("input" -> emb, "queries" -> qs,
      "output" -> sq, "k" -> "4"))
    val sqGot = spark.read.parquet(sq)
    assert(sqGot.columns.toSet === Set("qid", "rank", "vec_id", "idot", "cos_sim"))
    assert(sqGot.count() === 12)

    val edges = tmp() + "/lpedges"
    Seq((1L, 2L), (2L, 3L)).toDF("a", "b").write.parquet(edges)
    val lp = tmp() + "/lp"
    Cli.run(spark, "linkpredict", Map("input" -> edges, "output" -> lp))
    val lpGot = spark.read.parquet(lp).collect()
    assert(lpGot.length === 1 &&
      (lpGot(0).getLong(0), lpGot(0).getLong(1)) === ((1L, 3L)))

    val docs = s"$sfDir/documents.parquet"
    val md = tmp() + "/md"
    Cli.run(spark, "mediadedup", Map("input" -> docs, "output" -> md,
      "min-shared" -> "1"))
    assert(spark.read.parquet(md).columns.toSet ===
      Set("a", "b", "shared", "overlap"))

    val ld = tmp() + "/ld"
    Cli.run(spark, "ldiversity", Map("input" -> ev, "output" -> ld,
      "quasi" -> "event_type", "sensitive" -> "user_id", "l" -> "3"))
    val ldGot = spark.read.parquet(ld)
    assert(ldGot.columns.toSet ===
      Set("event_type", "n_rows", "n_sensitive", "suppressed"))

    val ivA = tmp() + "/iva"
    val ivB = tmp() + "/ivb"
    Seq((1L, 0L, 100L)).toDF("aid", "a_start", "a_end").write.parquet(ivA)
    Seq((2L, 50L, 150L)).toDF("bid", "b_start", "b_end").write.parquet(ivB)
    val ij = tmp() + "/ij"
    Cli.run(spark, "intervaljoin", Map("input" -> ivA, "right" -> ivB,
      "output" -> ij, "bin-us" -> "10"))
    val ijGot = spark.read.parquet(ij).collect()
    assert(ijGot.length === 1 && ijGot(0).getAs[Long]("overlap_us") === 50L)
  }

  test("cli sequence / graph / privacy batch-3 commands wire end-to-end") {
    import spark.implicits._
    val ev = s"$sfDir/events.parquet"

    val sm = tmp() + "/sm"
    Cli.run(spark, "seqmatch", Map("input" -> ev, "output" -> sm,
      "patterns" -> "m_vp=v.*p,m_ee=ee"))
    val smGot = spark.read.parquet(sm)
    assert(smGot.columns.toSet ===
      Set("user_id", "seq", "n_events", "m_vp", "m_ee"))
    assert(smGot.count() ===
      Tables.load(spark, sfDir, "events").select("user_id").distinct().count())

    val pa = tmp() + "/pa"
    Cli.run(spark, "paths", Map("input" -> ev, "output" -> pa, "n" -> "3"))
    val paGot = spark.read.parquet(pa)
    assert(paGot.columns.toSet === Set("path", "n_users") &&
      paGot.agg(max(length(col("path")))).head.getInt(0) <= 3)

    val bf = tmp() + "/bf"
    val edges = tmp() + "/edges"
    Seq((1L, 2L), (2L, 3L)).toDF("a", "b").write.parquet(edges)
    Cli.run(spark, "bfs", Map("input" -> edges, "output" -> bf,
      "seeds" -> "1", "rounds" -> "2"))
    assert(spark.read.parquet(bf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L))

    val tc = tmp() + "/tc"
    Cli.run(spark, "tcloseness", Map("input" -> ev, "output" -> tc,
      "quasi" -> "event_type", "cat" -> "user_id", "t" -> "0.1"))
    assert(spark.read.parquet(tc).columns.toSet ===
      Set("event_type", "n_rows", "emd", "violates"))
  }

  test("cli curation and spatial batch-3 commands wire end-to-end") {
    val docs = s"$sfDir/documents.parquet"

    val go = tmp() + "/go"
    Cli.run(spark, "gopher", Map("input" -> docs, "output" -> go))
    assert(spark.read.parquet(go).columns.contains("pass"))

    val cf = tmp() + "/cf"
    Cli.run(spark, "clf", Map("input" -> docs, "output" -> cf))
    assert(spark.read.parquet(cf).columns.toSet ===
      Set("doc_id", "margin", "keep"))

    val dw = tmp() + "/dw"
    Cli.run(spark, "dsir", Map("input" -> docs, "output" -> dw,
      "target" -> "lang = 'en'"))
    assert(spark.read.parquet(dw).columns.toSet ===
      Set("doc_id", "n_tok", "logw"))

    val pts = tmp() + "/pts"
    Tables.load(spark, sfDir, "events")
      .select(col("event_id").as("id"),
        ((col("event_id") * 7919L) % 1000000L).as("ix"),
        ((col("event_id") * 104729L + col("user_id")) % 1000000L).as("iy"))
      .write.parquet(pts)
    val rj = tmp() + "/rj"
    Cli.run(spark, "radiusjoin", Map("input" -> pts, "output" -> rj,
      "r" -> "30000"))
    assert(spark.read.parquet(rj).columns.toSet === Set("id_a", "id_b", "d2"))

    val hb = tmp() + "/hb"
    Cli.run(spark, "hexbin", Map("input" -> pts, "output" -> hb))
    val hbGot = spark.read.parquet(hb)
    assert(hbGot.columns.toSet === Set("hex_i", "hex_j", "n") &&
      hbGot.agg(sum(col("n"))).head.getLong(0) ===
        Tables.load(spark, sfDir, "events").count())

    val db = tmp() + "/db"
    Cli.run(spark, "dbscan", Map("input" -> pts, "output" -> db,
      "r" -> "30000", "min-pts" -> "4"))
    assert(spark.read.parquet(db).select("role").distinct().collect()
      .map(_.getString(0)).toSet.subsetOf(Set("core", "border", "noise")))
  }

  test("cli holt/bt/localcc/piidensity/entities/clfcal wire end-to-end (r9 parity)") {
    import spark.implicits._
    val ev = s"$sfDir/events.parquet"
    val docs = s"$sfDir/documents.parquet"

    val ho = tmp() + "/holt"
    Cli.run(spark, "holt", Map("input" -> ev, "output" -> ho))
    val hoGot = spark.read.parquet(ho)
    assert(hoGot.columns.contains("level") || hoGot.columns.length >= 2)

    val bt = tmp() + "/bt"
    Cli.run(spark, "bt", Map("input" -> ev, "output" -> bt))
    assert(spark.read.parquet(bt).count() > 0)

    val edges = tmp() + "/lccedges"
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
      .write.parquet(edges)
    val lc = tmp() + "/localcc"
    Cli.run(spark, "localcc", Map("input" -> edges, "output" -> lc))
    val lcRows = spark.read.parquet(lc).collect()
    val lcIdx = lcRows.head.fieldIndex("lcc")
    val lcGot = lcRows.map(r => r.getLong(0) ->
      (if (r.isNullAt(lcIdx)) None else Some(r.getDouble(lcIdx)))).toMap
    assert(lcGot(1L) === Some(1.0)) // 1-2-3 triangle closes node 1
    assert(lcGot(4L).forall(_ == 0.0)) // degree-1 node: 0 or undefined

    val pd = tmp() + "/pii"
    Cli.run(spark, "piidensity", Map("input" -> docs, "output" -> pd))
    assert(spark.read.parquet(pd).columns.contains("source"))

    val en = tmp() + "/ent"
    Cli.run(spark, "entities", Map("input" -> docs, "output" -> en))
    assert(spark.read.parquet(en).count() >= 0)

    val cc = tmp() + "/clfcal"
    Cli.run(spark, "clfcal", Map("input" -> docs, "output" -> cc))
    assert(spark.read.parquet(cc).count() > 0)
  }

  test("cli kappa/psi/auc/rbo/apriori/jsdrift/ohlc/twa/overlapjoin wire end-to-end (r10)") {
    import spark.implicits._
    val ev = s"$sfDir/events.parquet"
    val docs = s"$sfDir/documents.parquet"

    val rates = tmp() + "/rates"
    Seq((1L, 1L), (1L, 1L), (0L, 0L), (1L, 0L)).toDF("a", "b")
      .write.parquet(rates)
    val ka = tmp() + "/kappa"
    Cli.run(spark, "kappa", Map("input" -> rates, "output" -> ka,
      "a" -> "a", "b" -> "b"))
    val kaGot = spark.read.parquet(ka).collect()(0)
    assert(kaGot.getAs[Long]("n_rows") === 4L)

    val psin = tmp() + "/psiin"
    Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("grp"),
        floor(col("value") / 50.0).cast("long").as("bin"),
        (col("user_id") % 2).as("side"))
      .write.parquet(psin)
    val ps = tmp() + "/psi"
    Cli.run(spark, "psi", Map("input" -> psin, "output" -> ps))
    assert(spark.read.parquet(ps).columns.contains("psi"))

    val aucin = tmp() + "/aucin"
    Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("grp"),
        least(floor(col("value") / 10.0), lit(63.0)).cast("long").as("b"),
        when(col("user_id") % 5 === 0, 1L).otherwise(0L).as("y"))
      .write.parquet(aucin)
    val au = tmp() + "/auc"
    Cli.run(spark, "auc", Map("input" -> aucin, "output" -> au))
    val auGot = spark.read.parquet(au)
    assert(auGot.columns.contains("auc") && auGot.count() > 0)

    val rboin = tmp() + "/rboin"
    Tables.load(spark, sfDir, "events")
      .groupBy(col("user_id").as("id"))
      .agg(count(lit(1)).as("ma"), sum(floor(col("value")).cast("long")).as("mb"))
      .write.parquet(rboin)
    val rb = tmp() + "/rbo"
    Cli.run(spark, "rbo", Map("input" -> rboin, "output" -> rb))
    val rbGot = spark.read.parquet(rb).collect()(0)
    assert(rbGot.getAs[Double]("rbo") >= 0.0 && rbGot.getAs[Double]("rbo") <= 1.0)

    val bsk = tmp() + "/bsk"
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("bk"), (col("l_partkey") % 40).as("it"))
      .write.parquet(bsk)
    val ap = tmp() + "/apriori"
    Cli.run(spark, "apriori", Map("input" -> bsk, "output" -> ap,
      "min-co" -> "3", "k" -> "10"))
    val apGot = spark.read.parquet(ap)
    assert(apGot.columns.toSet ===
      Set("item_a", "item_b", "item_c", "n_co"))

    val js = tmp() + "/jsd"
    Cli.run(spark, "jsdrift", Map("input" -> docs, "output" -> js))
    val jsGot = spark.read.parquet(js)
    assert(jsGot.columns.contains("jsd_nats"))
    // JSD is bounded by ln 2
    assert(jsGot.agg(max(col("jsd_nats"))).head.getDouble(0) <= 0.6932)

    val oh = tmp() + "/ohlc"
    Cli.run(spark, "ohlc", Map("input" -> ev, "output" -> oh))
    val ohGot = spark.read.parquet(oh)
    assert(ohGot.columns.toSet ===
      Set("event_type", "bar", "n_rows", "open", "high", "low", "close"))
    assert(ohGot.filter(col("high") < col("low")).count() === 0)

    val tw = tmp() + "/twa"
    Cli.run(spark, "twa", Map("input" -> ev, "output" -> tw))
    assert(spark.read.parquet(tw).columns.contains("twa"))

    val ov = tmp() + "/ovj"
    Cli.run(spark, "overlapjoin", Map("input" -> docs, "output" -> ov))
    val ovGot = spark.read.parquet(ov)
    assert(ovGot.columns.toSet ===
      Set("a", "b", "n_inter", "na", "nb", "cmax"))
    assert(ovGot.filter(col("cmax") < 0.25).count() === 0)
  }

  test("cli srm/changepoint/louvain/brier/bloomfpr wire end-to-end (r10 batch 2)") {
    import spark.implicits._
    val ev = s"$sfDir/events.parquet"
    val docs = s"$sfDir/documents.parquet"

    val srmin = tmp() + "/srmin"
    Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("grp"), (col("user_id") % 2).as("arm"))
      .write.parquet(srmin)
    val sr = tmp() + "/srm"
    Cli.run(spark, "srm", Map("input" -> srmin, "output" -> sr))
    assert(spark.read.parquet(sr).columns.contains("srm_chi2"))

    val cp = tmp() + "/cp"
    Cli.run(spark, "changepoint", Map("input" -> ev, "output" -> cp))
    val cpGot = spark.read.parquet(cp)
    assert(cpGot.columns.contains("split_day") && cpGot.count() > 0)

    val edges = tmp() + "/ledges"
    // triangle 1-2-3 plus pendant 4: every triangle node's best move is
    // into a neighbor's community (gain 2m*1 - k*k'> 0 with m=4)
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b").write.parquet(edges)
    val lv = tmp() + "/louvain"
    Cli.run(spark, "louvain", Map("input" -> edges, "output" -> lv,
      "one-sweep" -> "true"))
    val lvGot = spark.read.parquet(lv).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lvGot(4L) === 3L) // pendant joins its only neighbor
    assert(lvGot.size === 4)
    // the DEFAULT is the full phase-1 fixpoint (r11: exact forms are CLI
    // defaults): on triangle+pendant the gated optimum is Q = 0
    // ({1,2}/{3,4} ties all-in-one), strictly above the singleton start
    val lvf = tmp() + "/louvainfix"
    Cli.run(spark, "louvain", Map("input" -> edges, "output" -> lvf))
    val lvFixDf = spark.read.parquet(lvf)
    assert(lvFixDf.count() === 4)
    val qFix = graft.operators.GraphOps.modularity(
        spark.read.parquet(edges),
        lvFixDf.select(col("node"), col("comm").as("label")))
      .collect()(0).getDouble(2)
    assert(qFix === 0.0, s"gated fixpoint must reach the Q=0 optimum, got $qFix")

    val br = tmp() + "/brier"
    Cli.run(spark, "brier", Map("input" -> docs, "output" -> br))
    val brGot = spark.read.parquet(br).collect()(0)
    // Murphy identity brier = rel - res + unc is exact for DISCRETE
    // forecasts; with continuous confidences binned to deciles the
    // within-bin variance of conf adds a small residual — assert the
    // identity to that binning tolerance
    val lhs = brGot.getAs[Double]("brier")
    val rhs = brGot.getAs[Double]("reliability") -
      brGot.getAs[Double]("resolution") + brGot.getAs[Double]("uncertainty")
    assert(math.abs(lhs - rhs) < 0.01, s"Murphy identity violated: $lhs vs $rhs")
    assert(brGot.getAs[Double]("uncertainty") <= 0.25 + 1e-9)

    val dim = tmp() + "/urgent"
    Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT").write.parquet(dim)
    val bfp = tmp() + "/bloomfpr"
    Cli.run(spark, "bloomfpr", Map("input" -> s"$sfDir/orders.parquet",
      "insert" -> dim, "output" -> bfp))
    val bfGot = spark.read.parquet(bfp).collect()(0)
    assert(bfGot.getAs[Boolean]("within_bound"))
    assert(bfGot.getAs[Long]("n_probed") > 0)
  }

  test("cli kcore/bfs/dbscan DEFAULT to the exact fixpoint forms (diameter > 4)") {
    import spark.implicits._
    // 14-node chain: diameter 13 >> the 4 fixed rounds, so the truncated
    // forms and the fixpoint forms disagree — the CLI default must match
    // the FIXPOINT result (VERDICT r9 task 4).
    val edges = tmp() + "/chain"
    (1L to 13L).map(i => (i, i + 1)).toDF("a", "b").write.parquet(edges)

    // bfs: default output = true hop distances to the chain's end
    val bf = tmp() + "/bf"
    Cli.run(spark, "bfs", Map("input" -> edges, "output" -> bf, "seeds" -> "1"))
    val hops = spark.read.parquet(bf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops === (1L to 14L).map(i => i -> (i - 1)).toMap)
    // opting back into --rounds truncates (the oracle-twin face)
    val bf4 = tmp() + "/bf4"
    Cli.run(spark, "bfs", Map("input" -> edges, "output" -> bf4,
      "seeds" -> "1", "rounds" -> "4"))
    assert(spark.read.parquet(bf4).count() === 5)

    // kcore: a chain has NO 2-core; the 4-round peel leaves a phantom one
    val kc = tmp() + "/kc"
    Cli.run(spark, "kcore", Map("input" -> edges, "output" -> kc, "k" -> "2"))
    assert(spark.read.parquet(kc).count() === 0)
    val kc4 = tmp() + "/kc4"
    Cli.run(spark, "kcore", Map("input" -> edges, "output" -> kc4,
      "k" -> "2", "rounds" -> "4"))
    assert(spark.read.parquet(kc4).count() > 0)

    // dbscan: collinear points spaced r apart form ONE cluster at exact
    // fixpoint; 4 label rounds under-merge it
    val pts = tmp() + "/chainpts"
    (1L to 14L).map(i => (i, i * 10L, 0L)).toDF("id", "ix", "iy")
      .write.parquet(pts)
    val db = tmp() + "/db"
    Cli.run(spark, "dbscan", Map("input" -> pts, "output" -> db,
      "r" -> "10", "min-pts" -> "2"))
    val labels = spark.read.parquet(db).filter(col("role") === "core")
      .select("cluster").distinct().count()
    assert(labels === 1)
  }

  test("cli command surface: every declared command dispatches; count spec-pinned (r11)") {
    // the count lives HERE, not in SURVEY prose (the r10 count silently
    // included two --algo sub-arms) — update both together
    assert(Cli.commands.size === 138)
    assert(Cli.commands.distinct.size === Cli.commands.size, "duplicate names")
    // every declared name must reach its builder: dispatching with empty
    // opts fails on a missing option, named with the command and the
    // --option, but NEVER with the unknown-command error; an undeclared
    // name must
    for (c <- Cli.commands) {
      val err = intercept[IllegalArgumentException] {
        Cli.run(spark, c, Map.empty)
      }
      assert(!String.valueOf(err.getMessage).contains("unknown command"),
        s"declared command '$c' did not dispatch")
      assert(err.getMessage.startsWith(s"$c: --") &&
        err.getMessage.endsWith(" is required"), s"$c: ${err.getMessage}")
    }
    val unknown = intercept[Exception] {
      Cli.run(spark, "no-such-command", Map.empty)
    }
    assert(String.valueOf(unknown.getMessage).contains("unknown command"))
  }

  test("cli: malformed option values name the command, the --option and the value") {
    def rejected(cmd: String, opts: (String, String)*): String =
      intercept[IllegalArgumentException](Cli.run(spark, cmd, Map(
        "input" -> s"$sfDir/documents.parquet", "output" -> (tmp() + "/out")) ++ opts))
        .getMessage
    assert(rejected("cluster", "id" -> "doc_id", "text" -> "text", "k" -> "x") ===
      "cluster: --k 'x' is not an integer")
    for (c <- Seq("pipeline", "subset")) {
      val msg = rejected(c, "x" -> "value", "y" -> "value", "bbox" -> "1,2,3")
      assert(msg.startsWith(s"$c: --bbox '1,2,3' is not"), msg)
    }
    val rates = rejected("sample", "id" -> "doc_id", "strata" -> "lang", "rates" -> "en")
    assert(rates.startsWith("sample: --rates 'en' is not"), rates)
    val vars = rejected("extract", "vars" -> "a")
    assert(vars.startsWith("extract: --vars 'a' is not"), vars)
  }

  test("cli presence flags: false is off like no flag, any other value is named") {
    import spark.implicits._
    def ran(cmd: String, input: String, opts: (String, String)*): (Seq[String], Seq[String]) = {
      val out = tmp() + "/out"
      Cli.run(spark, cmd, Map("input" -> input, "output" -> out) ++ opts)
      val df = spark.read.parquet(out)
      (df.columns.toSeq, df.collect().map(_.toString).sorted.toSeq)
    }
    val pts = tmp() + "/pts"
    Seq((1L, -73.5, 40.5), (2L, 7.85, 47.99)).toDF("id", "lon", "lat").write.parquet(pts)
    assert(ran("utm", pts, "inverse" -> "false") === ran("utm", pts))
    val edges = tmp() + "/edges"
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b").write.parquet(edges)
    assert(ran("louvain", edges, "one-sweep" -> "false") === ran("louvain", edges))
    val err = intercept[IllegalArgumentException](ran("utm", pts, "inverse" -> "yes"))
    assert(err.getMessage === "utm: --inverse 'yes' is not true or false")
  }

  test("cli ivf-index writes the cell-partitioned two-level layout (r16)") {
    val out = tmp() + "/ivfidx"
    Cli.run(spark, "ivf-index", Map(
      "input" -> s"$sfDir/embeddings.parquet", "output" -> out))
    val back = spark.read.parquet(out)
    assert(back.columns.toSet === Set("vec_id", "embedding", "cell"))
    val n = spark.read.parquet(s"$sfDir/embeddings.parquet").count()
    assert(back.count() === n)
    // layout is physically partitioned by cell (directory per cell)
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    assert(dirs.length === back.select("cell").distinct().count())
    // and the serving arm probes it end to end
    val probeOut = tmp() + "/ivfprobe"
    Cli.run(spark, "ivf-probe", Map("index" -> out,
      "input" -> s"$sfDir/embeddings.parquet", "output" -> probeOut,
      "k" -> "3"))
    val pr = spark.read.parquet(probeOut)
    assert(pr.columns.toSeq === Seq("qid", "rank", "vec_id", "cos_sim"))
    assert(pr.groupBy("qid").count().agg(max("count")).head.getLong(0) <= 3L)
    // every-query-answered holds only because every probed home cell has
    // a non-self member — pin that fixture property FIRST so a future
    // degenerate fixture (singleton cell) fails here, not on the
    // distinct-qid count below
    assert(back.groupBy("cell").count().agg(min("count")).head.getLong(0) >= 2L,
      "fixture must have no singleton cells for the distinct-qid assertion")
    assert(pr.select("qid").distinct().count() === n)
    // --train-iters wires through to the trained build: _meta records it
    // and the probe arm serves the trained layout end to end (r17)
    val outT = tmp() + "/ivfidx_trained"
    Cli.run(spark, "ivf-index", Map(
      "input" -> s"$sfDir/embeddings.parquet", "output" -> outT,
      "train-iters" -> "1"))
    val meta = spark.read.parquet(s"$outT/_meta").first()
    assert(meta.getAs[Int]("train_iters") === 1)
    val probeT = tmp() + "/ivfprobe_trained"
    Cli.run(spark, "ivf-probe", Map("index" -> outT,
      "input" -> s"$sfDir/embeddings.parquet", "output" -> probeT,
      "k" -> "3"))
    assert(spark.read.parquet(probeT).count() > 0)
    // ivf-append composes with the built index: the batch lands in the
    // cell partitions, _meta.n_rows tracks the union, and the probe arm
    // serves appended vectors without a rebuild (r18)
    val batch = tmp() + "/ivfbatch"
    spark.read.parquet(s"$sfDir/embeddings.parquet")
      .filter(col("vec_id") < 50)
      .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      .write.parquet(batch)
    Cli.run(spark, "ivf-append", Map("index" -> out, "input" -> batch))
    assert(spark.read.parquet(out).count() === n + 50)
    assert(spark.read.parquet(s"$out/_meta").first()
      .getAs[Long]("n_rows") === n + 50)
    val probeA = tmp() + "/ivfprobe_appended"
    Cli.run(spark, "ivf-probe", Map("index" -> out,
      "input" -> batch, "output" -> probeA, "k" -> "3"))
    val pa = spark.read.parquet(probeA)
    assert(pa.select("qid").distinct().count() === 50L,
      "appended vectors must be servable as queries against the index")
    assert(pa.filter(col("vec_id") >= 100000).count() > 0,
      "appended vectors must be retrievable from the probed cells")
    // ivf-compact rewrites the appended layout to one file per cell
    // out-of-place; the compacted dir serves the same probe (r18)
    val outC = tmp() + "/ivfidx_compacted"
    Cli.run(spark, "ivf-compact", Map("input" -> out, "output" -> outC))
    assert(spark.read.parquet(outC).count() === n + 50)
    val probeC = tmp() + "/ivfprobe_compacted"
    Cli.run(spark, "ivf-probe", Map("index" -> outC,
      "input" -> batch, "output" -> probeC, "k" -> "3"))
    def ranked(d: String) = spark.read.parquet(d)
      .orderBy("qid", "rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ranked(probeC) === ranked(probeA),
      "the compacted index must serve the uncompacted ranking")
  }

  test("cli kcore default survives a pendant CASCADE deeper than the fixed rounds (r11)") {
    import spark.implicits._
    // triangle core + a 12-node pendant tail: peeling at k = 2 removes
    // one tail node per round (each removal exposes the next), so the
    // 4-round truncated form leaves 8 phantom 2-core members; the exact
    // fixpoint must peel the WHOLE tail and keep only the triangle
    val edges = tmp() + "/caterpillar"
    val tail = (100L to 110L).map(i => (i, i + 1))
    (Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 100L)) ++ tail)
      .toDF("a", "b").write.parquet(edges)
    val kc = tmp() + "/kc_casc"
    Cli.run(spark, "kcore", Map("input" -> edges, "output" -> kc, "k" -> "2"))
    val core = spark.read.parquet(kc).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet === Set(1L, 2L, 3L), s"got ${core.keySet}")
    assert(core.values.toSet === Set(2L), "triangle members have residual degree 2")
    // the --rounds opt-in reproduces the truncated oracle face
    val kc4 = tmp() + "/kc_casc4"
    Cli.run(spark, "kcore", Map("input" -> edges, "output" -> kc4,
      "k" -> "2", "rounds" -> "4"))
    assert(spark.read.parquet(kc4).count() > 3)
  }

  test("cli benford / lorenz / markov / km wire end-to-end (r11)") {
    val ev = s"$sfDir/events.parquet"
    val docs = s"$sfDir/documents.parquet"

    val bf = tmp() + "/benford"
    Cli.run(spark, "benford", Map("input" -> ev, "output" -> bf))
    val bfGot = spark.read.parquet(bf)
    assert(bfGot.columns.toSet === Set("grp", "n_vals", "chi2", "d1_share"))
    assert(bfGot.count() > 0)

    val lz = tmp() + "/lorenz"
    Cli.run(spark, "lorenz", Map("input" -> docs, "output" -> lz))
    val lzGot = spark.read.parquet(lz)
    assert(lzGot.columns.toSet === Set("grp", "decile", "cum_items", "cum_share"))
    // the last decile of every group carries the full mass
    assert(lzGot.filter(col("decile") === 10 && col("cum_share") =!= 1.0)
      .count() === 0)

    val mk = tmp() + "/markov"
    Cli.run(spark, "markov", Map("input" -> ev, "output" -> mk))
    val mkGot = spark.read.parquet(mk).collect()
    assert(mkGot.nonEmpty)
    // a stationary distribution sums to 1 (round-6 tolerance)
    assert(math.abs(mkGot.map(_.getDouble(1)).sum - 1.0) < 1e-3)

    val km = tmp() + "/km"
    Cli.run(spark, "km", Map("input" -> ev, "output" -> km))
    val kmGot = spark.read.parquet(km).orderBy("t_min").collect()
    assert(kmGot.nonEmpty)
    // survival is monotone non-increasing from 1
    val surv = kmGot.map(_.getDouble(3))
    assert(surv.head <= 1.0 + 1e-9)
    assert(surv.zip(surv.tail).forall { case (a, b) => b <= a + 1e-9 })
  }

  test("cli modularity / ppr / theilsen / cdcchunk wire end-to-end") {
    import spark.implicits._
    val edges = tmp() + "/medges"
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (5L, 6L), (4L, 6L),
      (3L, 4L)).toDF("a", "b").write.parquet(edges)

    val mo = tmp() + "/mo"
    Cli.run(spark, "modularity", Map("input" -> edges, "output" -> mo))
    assert(spark.read.parquet(mo).columns.toSet ===
      Set("n_edges", "intra_edges", "modularity"))

    val pp = tmp() + "/pp"
    Seq((1L, 2L), (2L, 3L)).toDF("src", "dst").write.parquet(tmp() + "/de")
    Cli.run(spark, "ppr", Map("input" -> edges, "output" -> pp,
      "seeds" -> "1,4", "src" -> "a", "dst" -> "b"))
    val ppGot = spark.read.parquet(pp)
    assert(ppGot.columns.toSet === Set("node", "ppr") && ppGot.count() > 0)

    val ts = tmp() + "/ts"
    Cli.run(spark, "theilsen", Map("input" -> s"$sfDir/events.parquet",
      "output" -> ts, "group" -> "event_type"))
    assert(spark.read.parquet(ts).columns.toSet ===
      Set("event_type", "n_pairs", "slope_per_day"))

    val cc = tmp() + "/cc"
    Cli.run(spark, "cdcchunk", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> cc))
    assert(spark.read.parquet(cc).columns.toSet === Set("doc_id", "n_chunks",
      "distinct_chunks", "total_len", "max_chunk_len", "shared_chunks"))

    val rv = tmp() + "/rv"
    Cli.run(spark, "rendezvous", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> rv, "n" -> "8", "n-new" -> "9"))
    assert(spark.read.parquet(rv).columns.toSet ===
      Set("doc_id", "shard_old", "shard_new", "moved"))

    val dp = tmp() + "/dp"
    Cli.run(spark, "dpcounts", Map("input" -> s"$sfDir/events.parquet",
      "output" -> dp, "group" -> "event_type"))
    assert(spark.read.parquet(dp).columns.toSet === Set("event_type", "noisy_n"))

    val dc = tmp() + "/dc"
    Cli.run(spark, "decay", Map("input" -> s"$sfDir/events.parquet",
      "output" -> dc))
    assert(spark.read.parquet(dc).columns.toSet ===
      Set("event_type", "n_days", "decayed_count"))
  }

  test("cli hbos / ood / linkage wire end-to-end") {
    import spark.implicits._
    val hb = tmp() + "/hb"
    Cli.run(spark, "hbos", Map("input" -> s"$sfDir/events.parquet",
      "output" -> hb))
    assert(spark.read.parquet(hb).columns.toSet ===
      Set("event_id", "score", "is_outlier"))

    val oo = tmp() + "/oo"
    Cli.run(spark, "ood", Map("input" -> s"$sfDir/embeddings.parquet",
      "output" -> oo))
    assert(spark.read.parquet(oo).columns.toSet ===
      Set("vec_id", "label", "cos_centroid", "is_ood"))

    val prs = tmp() + "/prs"
    Seq((true, true), (false, false), (true, false))
      .toDF("fa", "fb").write.parquet(prs)
    val lk = tmp() + "/lk"
    Cli.run(spark, "linkage", Map("input" -> prs, "output" -> lk,
      "features" -> "fa,fb"))
    assert(spark.read.parquet(lk).columns.toSet ===
      Set("fa", "fb", "n_pairs", "match_weight", "is_match"))

    val sx = tmp() + "/sx"
    Cli.run(spark, "sax", Map("input" -> s"$sfDir/events.parquet",
      "output" -> sx))
    val sxGot = spark.read.parquet(sx)
    assert(sxGot.columns.toSet === Set("event_type", "n_segs", "sax_word"))
    assert(sxGot.collect().forall(r =>
      r.getString(2).length === r.getLong(1).toInt &&
        r.getString(2).forall("abcd".contains(_))))

    val bu = tmp() + "/bu"
    Cli.run(spark, "burstiness", Map("input" -> s"$sfDir/events.parquet",
      "output" -> bu))
    assert(spark.read.parquet(bu).columns.toSet ===
      Set("event_type", "n_days", "mean_daily", "fano", "is_bursty"))

    val rk = tmp() + "/rk"
    Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "vec_id", "rank")
      .write.parquet(rk)
    val nd = tmp() + "/nd"
    Cli.run(spark, "ndcg", Map("input" -> rk, "approx" -> rk,
      "output" -> nd, "k" -> "2"))
    val ndGot = spark.read.parquet(nd).collect()
    assert(ndGot.length === 1 && ndGot(0).getAs[Double]("ndcg") === 1.0)

    val lk2 = tmp() + "/lk2"
    Cli.run(spark, "leakage", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> lk2))
    assert(spark.read.parquet(lk2).columns.toSet ===
      Set("doc_id", "n_grams", "n_shared_grams", "leaked"))

    val cm = tmp() + "/cm"
    Cli.run(spark, "confusion", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> cm, "truth" -> "lang", "pred" -> "source"))
    assert(spark.read.parquet(cm).columns.toSet ===
      Set("truth", "predicted", "n", "recall_pct"))

    val ht = tmp() + "/ht"
    Cli.run(spark, "hilltail", Map("input" -> s"$sfDir/events.parquet",
      "output" -> ht, "k" -> "20"))
    assert(spark.read.parquet(ht).columns.toSet ===
      Set("event_type", "k", "x_ref", "xi", "alpha"))

    val ka = tmp() + "/ka"
    Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("qid", "vec_id", "rank")
      .write.parquet(ka)
    val ko = tmp() + "/ko"
    Cli.run(spark, "kendall", Map("input" -> ka, "right" -> ka,
      "output" -> ko))
    assert(spark.read.parquet(ko).collect()(0).getAs[Double]("tau") === 1.0)

    val nv = tmp() + "/nv"
    Cli.run(spark, "novelty", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> nv))
    assert(spark.read.parquet(nv).columns.toSet ===
      Set("doc_id", "n_grams", "n_unique", "novelty"))

    val wi = tmp() + "/wi"
    Cli.run(spark, "wilson", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> wi, "group" -> "source", "flag" -> "n_chars >= 250"))
    assert(spark.read.parquet(wi).columns.toSet ===
      Set("source", "n", "k", "rate", "ci_lo", "ci_hi"))

    val hp = tmp() + "/hp"
    Cli.run(spark, "heaps", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> hp))
    assert(spark.read.parquet(hp).columns.toSet ===
      Set("n_sources", "beta", "ln_k", "r2"))

    val si = tmp() + "/si"
    Cli.run(spark, "simpson", Map("input" -> s"$sfDir/documents.parquet",
      "output" -> si, "group" -> "source"))
    assert(spark.read.parquet(si).columns.toSet ===
      Set("n_categories", "n", "simpson", "n_effective"))
  }

  test("cli fleiss/mcnemar/distshift/bhfdr/avgprec wire end-to-end (r10 batch 3)") {
    import spark.implicits._

    val rat = tmp() + "/ratings"
    Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("it"), col("l_returnflag").as("cat"))
      .write.parquet(rat)
    val fk = tmp() + "/fleiss"
    Cli.run(spark, "fleiss", Map("input" -> rat, "output" -> fk))
    val fkGot = spark.read.parquet(fk).collect()(0)
    assert(fkGot.getAs[Long]("n_items") > 0L)
    assert(math.abs(fkGot.getAs[Double]("kappa")) <= 1.0)

    val gates = tmp() + "/gates"
    Seq((1L, 0L), (1L, 1L), (0L, 1L), (0L, 0L), (1L, 0L))
      .toDF("ga", "gb").write.parquet(gates)
    val mc = tmp() + "/mcnemar"
    Cli.run(spark, "mcnemar", Map("input" -> gates, "output" -> mc,
      "a" -> "ga", "b" -> "gb"))
    val mcGot = spark.read.parquet(mc).collect()(0)
    assert(mcGot.getAs[Long]("n10") === 2L && mcGot.getAs[Long]("n01") === 1L)

    val drift = tmp() + "/driftin"
    Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("grp"),
        floor(col("value") / 50.0).cast("long").as("bin"),
        (col("user_id") % 2).as("side"))
      .write.parquet(drift)
    val ds = tmp() + "/distshift"
    Cli.run(spark, "distshift", Map("input" -> drift, "output" -> ds))
    val dsGot = spark.read.parquet(ds)
    assert(dsGot.columns.toSet ===
      Set("grp", "n_ref", "n_cur", "hellinger", "tv"))
    assert(dsGot.collect().forall { r =>
      val h = r.getAs[Double]("hellinger"); h >= 0.0 && h <= 1.0 })

    val bh = tmp() + "/bhfdr"
    Cli.run(spark, "bhfdr", Map("input" -> drift, "output" -> bh))
    val bhGot = spark.read.parquet(bh)
    assert(bhGot.columns.contains("reject") && bhGot.count() > 0)

    val scored = tmp() + "/scored"
    Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("grp"),
        floor(col("value") / 50.0).cast("long").as("b"),
        (col("user_id") % 5 === 0).cast("long").as("y"))
      .write.parquet(scored)
    val ap = tmp() + "/avgprec"
    Cli.run(spark, "avgprec", Map("input" -> scored, "output" -> ap))
    val apGot = spark.read.parquet(ap)
    assert(apGot.columns.toSet === Set("grp", "n_pos", "n_rows", "avg_prec"))
    assert(apGot.collect().forall { r =>
      val v = r.getAs[Double]("avg_prec"); v >= 0.0 && v <= 1.0 })
  }

  test("cli jw/quantilenorm/cascade/tokenbudget wire end-to-end (r10 batch 4)") {
    import spark.implicits._

    val pairs = tmp() + "/jwpairs"
    Seq(("martha", "marhta"), ("crate", "trace")).toDF("na", "nb")
      .write.parquet(pairs)
    val jw = tmp() + "/jw"
    Cli.run(spark, "jw", Map("input" -> pairs, "output" -> jw))
    val jwGot = spark.read.parquet(jw).collect()
      .map(r => r.getAs[String]("na") -> r.getAs[Double]("jw")).toMap
    assert(jwGot("martha") === 0.961111 && jwGot("crate") === 0.733333)

    val binned = tmp() + "/qnin"
    Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("grp"),
        floor(col("value") / 50.0).cast("long").as("bin"))
      .write.parquet(binned)
    val qn = tmp() + "/qnorm"
    Cli.run(spark, "quantilenorm", Map("input" -> binned, "output" -> qn,
      "bins" -> "10"))
    val qnGot = spark.read.parquet(qn)
    assert(qnGot.columns.toSet ===
      Set("grp", "b", "n", "src_cdf_num", "norm_b"))
    assert(qnGot.count() > 0)

    val cy = tmp() + "/cascade"
    Cli.run(spark, "cascade", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> cy))
    assert(spark.read.parquet(cy).columns.contains("yield_both"))

    val tb = tmp() + "/tokenbudget"
    Cli.run(spark, "tokenbudget", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> tb,
      "budget" -> "100000"))
    val tbGot = spark.read.parquet(tb)
    assert(tbGot.columns.toSet ===
      Set("source", "have_tokens", "target_tokens", "rate", "deficit"))

    val sv = tmp() + "/survivors"
    Cli.run(spark, "survivors", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> sv))
    val svGot = spark.read.parquet(sv)
    assert(svGot.columns.contains("char_cut_ratio"))
    svGot.collect().foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("chars_kept") <= r.getAs[Long]("chars_total"))
    }

    val fdIn = tmp() + "/fdin"
    Tables.load(spark, sfDir, "documents")
      .select((col("doc_id") % 2).as("side"), col("text"))
      .write.parquet(fdIn)
    val fd = tmp() + "/freqdrift"
    Cli.run(spark, "freqdrift", Map("input" -> fdIn, "output" -> fd,
      "k" -> "10"))
    val fdGot = spark.read.parquet(fd)
    assert(fdGot.count() === 10)
    assert(fdGot.columns.contains("delta"))

    val wr = tmp() + "/winrate"
    Cli.run(spark, "winrate", Map("input" -> s"$sfDir/events.parquet",
      "output" -> wr))
    val wrGot = spark.read.parquet(wr)
    assert(wrGot.columns.contains("decided") && wrGot.count() > 0)

    val dn = tmp() + "/distinctn"
    Cli.run(spark, "distinctn", Map(
      "input" -> s"$sfDir/documents.parquet", "output" -> dn))
    val dnGot = spark.read.parquet(dn)
    assert(dnGot.columns.toSet === Set("source", "n_tokens", "n_uni",
      "n_bigrams", "n_bi", "distinct1", "distinct2"))

    val gPts = tmp() + "/geopts"
    Seq((1L, 0.0, 0.0), (2L, 0.0, 1.0), (3L, 180.0, 0.0))
      .toDF("id", "lon", "lat").write.parquet(gPts)
    val geo = tmp() + "/geodesic"
    Cli.run(spark, "geodesic", Map("input" -> gPts, "output" -> geo,
      "radius-m" -> "200000"))
    val geoGot = spark.read.parquet(geo).collect()
    assert(geoGot.length === 1)
    assert(math.abs(geoGot(0).getAs[Double]("d_m") - 111195.0797) < 0.01)

    val wavs = tmp() + "/wavs"
    val base = Array.tabulate(1300)(i =>
      (math.sin(i / 7.0) * 3000 + (i % 11) * 40).toShort)
    Seq(
      (1L, "audio/wav", graft.operators.AudioCodec.encodeWav(
        graft.operators.AudioCodec.RawAudio(16000, 1, base))),
      (2L, "audio/wav", graft.operators.AudioCodec.encodeWav(
        graft.operators.AudioCodec.RawAudio(16000, 1,
          base.map(s => (s / 2).toShort)))))
      .toDF("media_id", "kind", "content").write.parquet(wavs)
    val af = tmp() + "/audiofeat"
    Cli.run(spark, "audiofeat", Map("input" -> wavs, "output" -> af))
    assert(spark.read.parquet(af).count() === 2)
    val ad = tmp() + "/audiodedup"
    Cli.run(spark, "audiodedup", Map("input" -> wavs, "output" -> ad))
    assert(spark.read.parquet(ad).count() === 1) // the half-volume copy
  }
}

object CliSpec {
  /** `pipeline --aoi` of one 4-shot L2A fixture granule into `base/out`;
    * shots 0 and 1 fall inside the one AOI, `zone`. */
  def pipelineAoi(base: String): Unit = {
    val spark = SparkSpec.session
    val granules = java.nio.file.Paths.get(base, "granules")
    writeGranule(granules, "GEDI02_A_2019170155833_O02932_T02267_02_001_01.h5")
    Files.writeString(java.nio.file.Paths.get(base, "zone.geojson"),
      """{"type":"FeatureCollection","features":[{"type":"Feature","properties":{},
        | "geometry":{"type":"Polygon","coordinates":[[[20,10],[22,10],[22,12],[20,12],[20,10]]]}}
        |]}""".stripMargin)
    Cli.run(spark, "pipeline", Map(
      "input" -> granules.toString, "output" -> s"$base/out", "product" -> "L2A",
      "quality" -> "1", "aoi" -> s"$base/zone.geojson"))
  }

  /** One 4-shot L2A fixture granule `name` in `dir`: shot i of BEAM0101
    * at (20.5 + i, 10.5 + i), all quality checks passing. */
  def writeGranule(dir: java.nio.file.Path, name: String): Unit = {
    Files.createDirectories(dir)
    val n = 4
    def line(layer: String, v: Int => String) =
      s"BEAM0101 $layer ${(0 until n).map(v).mkString(" ")}"
    Files.writeString(dir.resolve(name),
      (Seq("# graft fixture granule v1",
        line("shot_number", i => s"${100 + i}"),
        line("lat_lowestmode", i => s"${10 + i}.5"),
        line("lon_lowestmode", i => s"${20 + i}.5"),
        line("elev_lowestmode", _ => "100.0"),
        line("digital_elevation_model", _ => "101.0"),
        line("degrade_flag", _ => "0"),
        line("quality_flag", _ => "1"),
        line("sensitivity", _ => "0.95"),
        line("num_detectedmodes", _ => "1"),
        line("rh", i => (0 until 101).map(b => s"${b * (i + 1)}.0").mkString(","))) :+ "")
        .mkString("\n"))
  }
}
