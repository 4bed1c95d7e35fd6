package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** SURVEY §2.4 — MemoryStream-driven specs ARE the streaming oracle (no
  * DuckDB entry is possible for incremental plans). */
class StreamingSpec extends SparkSpec {

  private def t(s: String) = Timestamp.valueOf(s)

  test("streaming over the real events parquet equals the batch aggregation") {
    // file-source streaming requires a directory table layout (the cluster
    // norm); testdata ships single files, so stage a directory copy
    val staged = java.nio.file.Files.createTempDirectory("graft_stream")
    java.nio.file.Files.createDirectory(staged.resolve("events.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      staged.resolve("events.parquet").resolve("part-00000.parquet"))
    val stream = Tables.loadStream(spark, staged.toString, "events")
    val q = EventStreams.bucketCounts(stream)
      .writeStream.format("memory").queryName("parity").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("parity").collect()
        .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val batch = Tables.load(spark, sfDir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("bucket_start"))
        .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
        .collect()
        .map(r => r.getTimestamp(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("decontamination filter is stateless: streaming flags equal the batch join") {
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_d")
    java.nio.file.Files.createDirectory(staged.resolve("documents.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet").resolve("part-00000.parquet"))
    val all = Tables.load(spark, sfDir, "documents")
    val bench = all.filter(col("doc_id") % 10 === 0)
    // compile the benchmark ONCE driver-side (the streaming deployment form)
    val grams = graft.operators.TextOps.benchmarkGrams(bench, "text", n = 3)
    assert(grams.nonEmpty)
    val stream = Tables.loadStream(spark, staged.toString, "documents")
      .filter(col("doc_id") % 10 =!= 0)
    val q = graft.operators.TextOps
      .decontaminateFilter(stream, "text", grams, n = 3)
      .select("doc_id", "n_shared_grams")
      .writeStream.format("memory").queryName("decon_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("decon_parity").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // parity 1: every doc appears, clean docs carry 0
      assert(streamed.size === all.filter(col("doc_id") % 10 =!= 0).count())
      // parity 2: nonzero counts equal the batch set-vs-set operator
      val batch = graft.operators.TextOps.decontaminate(
        all.filter(col("doc_id") % 10 =!= 0), bench, "doc_id", "text", n = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed.filter(_._2 > 0) === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("stratified sampling is stateless: streaming output equals the batch filter") {
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_s")
    java.nio.file.Files.createDirectory(staged.resolve("documents.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet").resolve("part-00000.parquet"))
    val pct = Map("en" -> 20, "de" -> 50)
    val stream = Tables.loadStream(spark, staged.toString, "documents")
    val q = graft.operators.Sampling.stratified(stream, "doc_id", "lang", pct, 100)
      .select("doc_id", "lang", "sample_bucket")
      .writeStream.format("memory").queryName("samp_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("samp_parity").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.operators.Sampling
        .stratified(Tables.load(spark, sfDir, "documents"), "doc_id", "lang", pct, 100)
        .select("doc_id", "lang", "sample_bucket")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("chunking is stateless: streaming chunks equal the batch chunks") {
    // chunkDocs is a pure narrow projection (sequence-explode + slice),
    // so the exact same plan runs at streaming ingest in append mode —
    // context-window prep without a second batch pass over the corpus
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_c")
    java.nio.file.Files.createDirectory(staged.resolve("documents.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet").resolve("part-00000.parquet"))
    val stream = Tables.loadStream(spark, staged.toString, "documents")
    val q = graft.operators.TextOps.chunkDocs(stream, "doc_id", "text", 16, 12)
      .writeStream.format("memory").queryName("chunk_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_parity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      val batch = graft.operators.TextOps
        .chunkDocs(Tables.load(spark, sfDir, "documents"), "doc_id", "text", 16, 12)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("quality/entropy scoring is stateless: streaming signals equal the batch pass") {
    // qualityScore + charEntropy are pure narrow column kernels, so the
    // ingest-time quality gate runs the exact batch plan in append mode
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_q")
    java.nio.file.Files.createDirectory(staged.resolve("documents.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet"),
      staged.resolve("documents.parquet").resolve("part-00000.parquet"))
    val stream = Tables.loadStream(spark, staged.toString, "documents")
    def signals(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.charEntropy(
          graft.operators.TextOps.qualityScore(df, "text"), "text")
        .select("doc_id", "quality_score", "entropy_bits")
    val q = signals(stream)
      .writeStream.format("memory").queryName("score_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("score_parity").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      val batch = signals(Tables.load(spark, sfDir, "documents"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming state and checkpoints resolve file: to graft's FileContext filesystem") {
    val fc = org.apache.hadoop.fs.FileContext
      .getLocalFSFileContext(spark.sparkContext.hadoopConfiguration)
    assert(fc.getDefaultFileSystem.getClass === classOf[graft.sources.NioLocalFs])
  }

  test("link status matches the stock raw filesystem's for files, directories and links") {
    import org.apache.hadoop.fs.{FileContext, FileStatus, Path, RawLocalFileSystem}
    val base = java.nio.file.Files.createTempDirectory("graft_links")
    val file = java.nio.file.Files.writeString(base.resolve("file"), "x")
    java.nio.file.Files.createDirectory(base.resolve("dir"))
    java.nio.file.Files.createSymbolicLink(base.resolve("link"), file)
    java.nio.file.Files.createSymbolicLink(base.resolve("dangling"), base.resolve("gone"))
    val conf = spark.sparkContext.hadoopConfiguration
    val stock = new RawLocalFileSystem
    val nio = new graft.sources.NioRawLocalFileSystem
    Seq(stock, nio).foreach(_.initialize(new java.net.URI("file:///"), conf))
    val stockConf = new org.apache.hadoop.conf.Configuration(conf)
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFc = FileContext.getLocalFSFileContext(stockConf)
    val nioFc = FileContext.getLocalFSFileContext(conf)
    assert(nioFc.getDefaultFileSystem.getClass === classOf[graft.sources.NioLocalFs])
    def shape(st: => FileStatus): Any =
      try {
        val s = st
        (s.getPath, s.isFile, s.isDirectory, s.isSymlink,
          if (s.isSymlink) Some(s.getSymlink) else None, s.getLen, s.getModificationTime,
          s.getPermission, s.getOwner, s.getGroup)
      } catch { case e: java.io.IOException => e.getClass }
    for (name <- Seq("file", "dir", "link", "dangling", "missing")) {
      val plain = new Path(base.resolve(name).toString)
      val qualified = new Path(base.resolve(name).toUri)
      for (p <- Seq(plain, qualified))
        assert(shape(nio.getFileLinkStatus(p)) === shape(stock.getFileLinkStatus(p)), p)
      assert(shape(nioFc.getFileLinkStatus(qualified)) === shape(stockFc.getFileLinkStatus(qualified)),
        qualified)
    }
    // a scheme-less path reads links, dangling ones included
    assert(nio.getFileLinkStatus(new Path(base.resolve("dangling").toString)).isSymlink)
    assert(nio.getFileLinkStatus(new Path(base.resolve("link").toString)).getSymlink ===
      new Path(file.toUri))
  }

  test("a 3-batch stateful stream's state files carry the stock permission bits") {
    import scala.jdk.CollectionConverters._
    // mode bits of every path a groupBy().count() stream leaves under its
    // checkpoint directory after 3 micro-batches (uuids in names dropped)
    def modes(session: org.apache.spark.sql.SparkSession,
              dir: java.nio.file.Path): Map[String, Int] = {
      import session.implicits._
      implicit val ctx: org.apache.spark.sql.SQLContext = session.sqlContext
      val input = MemoryStream[Int]
      val q = input.toDF().groupBy().count()
        .writeStream.format("memory").queryName(s"perm_${dir.getFileName}")
        .outputMode("complete").option("checkpointLocation", dir.toString).start()
      try (1 to 3).foreach { i => input.addData(i); q.processAllAvailable() }
      finally q.stop()
      val s = java.nio.file.Files.walk(dir)
      try s.iterator.asScala.map { p =>
        dir.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "uuid") ->
          (java.nio.file.Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
      }.toMap
      finally s.close()
    }
    val stock = spark.newSession()
    stock.conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val stockFc = org.apache.hadoop.fs.FileContext.getLocalFSFileContext(
      stock.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf())
    assert(stockFc.getDefaultFileSystem.getClass === classOf[org.apache.hadoop.fs.local.LocalFs])
    val base = java.nio.file.Files.createTempDirectory("graft_stream_perm")
    val graftModes = modes(spark, base.resolve("graft"))
    assert(graftModes.keys.count(_.startsWith("state/")) > 3)
    assert(graftModes === modes(stock, base.resolve("stock")))
  }

  test("bucketCounts emits a window only after the watermark passes it") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Timestamp, Double)]
    val q = EventStreams.bucketCounts(input.toDF().toDF("ts", "value"),
        windowDur = "1 hour", watermark = "30 minutes")
      .writeStream.format("memory").queryName("buckets").outputMode("append")
      .start()
    try {
      input.addData((t("2020-01-01 10:05:00"), 1.0), (t("2020-01-01 10:35:00"), 2.0))
      q.processAllAvailable()
      assert(spark.table("buckets").count() === 0, "window still open")

      // advance event time so watermark (max - 30m) passes 11:00, then one
      // more batch so the advanced watermark is applied
      input.addData((t("2020-01-01 12:00:00"), 5.0))
      q.processAllAvailable()
      input.addData((t("2020-01-01 12:30:00"), 7.0))
      q.processAllAvailable()

      val rows = spark.table("buckets").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(rows.contains((t("2020-01-01 10:00:00"), 2L, 3.0)),
        s"got: ${rows.mkString(", ")}")
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, Double)]
    val q = EventStreams.dedupStream(
        input.toDF().toDF("event_id", "ts", "value"), Seq("event_id"))
      .writeStream.format("memory").queryName("deduped").outputMode("append")
      .start()
    try {
      input.addData(
        (1L, t("2020-01-01 10:00:00"), 1.0),
        (1L, t("2020-01-01 10:01:00"), 2.0), // dup key, in-batch
        (2L, t("2020-01-01 10:02:00"), 3.0))
      q.processAllAvailable()
      input.addData((1L, t("2020-01-01 10:03:00"), 4.0)) // dup key, next batch
      q.processAllAvailable()
      val ids = spark.table("deduped").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq === Seq(1L, 2L))
    } finally q.stop()
  }

  test("canonical-URL dedup collapses variants across micro-batches, first arrival wins") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Timestamp, String)]
    val q = EventStreams.urlDedupStream(
        input.toDF().toDF("doc_id", "ts", "url"), "url")
      .writeStream.format("memory").queryName("url_dedup")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, t("2020-01-01 10:00:00"), "https://www.a.com/p?utm_source=x"),
        (2L, t("2020-01-01 10:01:00"), "HTTP://A.com/p"), // same page, in-batch
        (3L, t("2020-01-01 10:02:00"), "https://a.com/q"))
      q.processAllAvailable()
      input.addData( // same page again, next batch, yet another variant
        (4L, t("2020-01-01 10:03:00"), "https://a.com/p/#frag"))
      q.processAllAvailable()
      val kept = spark.table("url_dedup").collect()
        .map(r => r.getLong(0) -> r.getAs[String]("canonical_url")).toMap
      assert(kept === Map(1L -> "a.com/p", 3L -> "a.com/q"))
      // and the canonical column matches the batch operator on the same rows
      val batch = graft.operators.TextOps.urlCanonicalize(
        Seq("https://www.a.com/p?utm_source=x", "HTTP://A.com/p",
          "https://a.com/q", "https://a.com/p/#frag").toDF("url"), "url")
        .collect().map(_.getString(1))
      assert(batch.toSeq === Seq("a.com/p", "a.com/p", "a.com/q", "a.com/p"))
    } finally q.stop()
  }

  test("stream-stream join matches within the event-time bound only") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val joined = EventStreams.joinStreams(
      clicks.toDF().toDF("user_id", "ts", "value"),
      buys.toDF().toDF("user_id", "ts", "value"),
      key = "user_id", watermark = "10 minutes", maxDelay = "1 hour")
    val q = joined.select("user_id", "ts", "r_ts")
      .writeStream.format("memory").queryName("enriched").outputMode("append")
      .start()
    try {
      clicks.addData(
        (1L, t("2020-01-01 10:00:00"), 1.0),
        (2L, t("2020-01-01 10:00:00"), 1.0))
      buys.addData(
        (1L, t("2020-01-01 10:30:00"), 9.0),  // within 1h of click -> match
        (2L, t("2020-01-01 13:00:00"), 9.0))  // 3h later -> no match
      q.processAllAvailable()
      val got = spark.table("enriched").collect()
        .map(r => (r.getLong(0), r.getTimestamp(2))).toSet
      assert(got === Set((1L, t("2020-01-01 10:30:00"))))
    } finally q.stop()
  }

  test("left-outer stream join emits unmatched rows after both watermarks pass") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Double)]
    val buys = MemoryStream[(Long, Timestamp, Double)]
    val joined = EventStreams.joinStreams(
      clicks.toDF().toDF("user_id", "ts", "value"),
      buys.toDF().toDF("user_id", "ts", "value"),
      key = "user_id", watermark = "10 minutes", maxDelay = "1 hour",
      how = "left_outer")
    val q = joined.select("user_id", "ts", "r_ts")
      .writeStream.format("memory").queryName("attributed").outputMode("append")
      .start()
    try {
      clicks.addData(
        (1L, t("2020-01-01 10:00:00"), 1.0),  // will match
        (2L, t("2020-01-01 10:00:00"), 1.0))  // never matches -> MISS row
      buys.addData((1L, t("2020-01-01 10:30:00"), 9.0))
      q.processAllAvailable()
      // the engine can only emit user 2's null-extended row once both
      // watermarks prove no matching buy can still arrive — advance them
      // far past the click's match window with late dummy traffic
      clicks.addData((99L, t("2020-01-01 15:00:00"), 0.0))
      buys.addData((98L, t("2020-01-01 15:00:00"), 0.0))
      q.processAllAvailable()
      clicks.addData((97L, t("2020-01-01 18:00:00"), 0.0))
      buys.addData((96L, t("2020-01-01 18:00:00"), 0.0))
      q.processAllAvailable()
      val got = spark.table("attributed").collect()
        .map(r => (r.getLong(0), Option(r.getTimestamp(2)))).toSet
      assert(got.contains((1L, Some(t("2020-01-01 10:30:00")))), s"got $got")
      assert(got.contains((2L, None)),
        s"unmatched click must surface as a null-extended MISS row; got $got")
    } finally q.stop()
  }

  test("stateful streams run on the RocksDB state store (the cluster backend)") {
    // HDFS-backed state (the default) holds every key in executor heap;
    // RocksDB spills state to local disk — the backend a 100 TB
    // deployment actually runs. Same query semantics must hold on it.
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      val input = MemoryStream[Ev]
      q = EventStreams.sessionize(input.toDS(), gapMs = 10 * 60 * 1000L)
        .writeStream.format("memory").queryName("rocks_sessions")
        .outputMode("append").start()
      input.addData(
        Ev(1L, t("2020-01-01 10:00:00"), 1.0),
        Ev(1L, t("2020-01-01 10:05:00"), 2.0),
        Ev(1L, t("2020-01-01 11:00:00"), 3.0)) // > gap: closes session 1
      q.processAllAvailable()
      val sessions = spark.table("rocks_sessions").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3)))
      assert(sessions.toSeq === Seq((1L, t("2020-01-01 10:00:00"), 2L)))
      // evidence from the RUNNING query, not the conf we just set: the
      // RocksDB provider reports its own custom state metrics
      val metrics = q.lastProgress.stateOperators.head.customMetrics
      assert(metrics.keySet.toString.toLowerCase.contains("rocksdb"),
        s"expected rocksdb custom metrics, got: $metrics")
    } finally {
      if (q != null) q.stop()
      prev match {
        case Some(p) => spark.conf.set(confKey, p)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("mergeable sketches aggregate incrementally across micro-batches") {
    // the property that makes sketches the 100 TB distinct path: state
    // merges across batches without reprocessing history
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("user_id", "event_type")
      .groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), 0.01).as("approx_users"))
      .writeStream.format("memory").queryName("sketch_stream")
      .outputMode("complete").start()
    try {
      input.addData((1L to 50L).map(i => (i, "a")): _*)
      q.processAllAvailable()
      val afterB1 = spark.table("sketch_stream").head.getLong(1)
      assert(math.abs(afterB1 - 50L) <= 3, s"batch1 estimate $afterB1")
      // overlapping second batch: true distinct = 75, NOT 100 — the
      // sketch state must union, not add
      input.addData((26L to 75L).map(i => (i, "a")): _*)
      q.processAllAvailable()
      val afterB2 = spark.table("sketch_stream").head.getLong(1)
      assert(math.abs(afterB2 - 75L) <= 4, s"batch2 estimate $afterB2")
    } finally q.stop()
  }

  test("foreachBatch upsert maintains the latest-wins state across micro-batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    // (user_id, event_type, ts, event_id, value) — the q_incr_merge shape
    val input = MemoryStream[(Long, String, Timestamp, Long, Double)]
    val q = EventStreams.upsertParquet(
      input.toDF().toDF("user_id", "event_type", "ts", "event_id", "value"),
      s"$dir/state", s"$dir/ckpt",
      keys = Seq("user_id", "event_type"), version = Seq("ts", "event_id"))
    def state(): Map[(Long, String), (Long, Double)] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(3), r.getDouble(4)))
        .toMap
    try {
      input.addData(
        (1L, "view", t("2024-01-01 10:00:00"), 1L, 1.0),
        (1L, "view", t("2024-01-01 11:00:00"), 2L, 2.0),
        (2L, "buy", t("2024-01-01 10:30:00"), 3L, 5.0))
      q.processAllAvailable()
      assert(state() === Map((1L, "view") -> (2L, 2.0), (2L, "buy") -> (3L, 5.0)))
      // batch 2: one key updated forward, one key's LATE arrival must lose,
      // one new key
      input.addData(
        (1L, "view", t("2024-01-01 12:00:00"), 4L, 3.0),
        (2L, "buy", t("2024-01-01 09:00:00"), 5L, 9.0), // older than state — loses
        (3L, "view", t("2024-01-01 10:00:00"), 6L, 7.0))
      q.processAllAvailable()
      assert(state() === Map(
        (1L, "view") -> (4L, 3.0),
        (2L, "buy") -> (3L, 5.0),
        (3L, "view") -> (6L, 7.0)))
    } finally q.stop()
  }

  test("foreachBatch CDC maintains state with deletes and resurrection across batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cdc").toString
    // (k, ver, value, op) — the q_cdc_apply shape
    val input = MemoryStream[(Long, Long, Double, String)]
    val q = EventStreams.cdcParquet(
      input.toDF().toDF("k", "ver", "value", "op"),
      s"$dir/state", s"$dir/ckpt",
      keys = Seq("k"), version = Seq("ver"), opCol = "op")
    def state(): Map[Long, (Long, Double)] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    try {
      input.addData((1L, 1L, 10.0, "I"), (2L, 1L, 20.0, "I"))
      q.processAllAvailable()
      assert(state() === Map(1L -> (1L, 10.0), 2L -> (1L, 20.0)))
      // batch 2: update key 1, delete key 2, insert key 3
      input.addData((1L, 2L, 11.0, "U"), (2L, 2L, 0.0, "D"), (3L, 2L, 30.0, "I"))
      q.processAllAvailable()
      assert(state() === Map(1L -> (2L, 11.0), 3L -> (2L, 30.0)))
      // batch 3: resurrect key 2; stale delete for key 3 (older ver) loses
      input.addData((2L, 3L, 22.0, "I"), (3L, 1L, 0.0, "D"))
      q.processAllAvailable()
      assert(state() === Map(1L -> (2L, 11.0), 2L -> (3L, 22.0), 3L -> (2L, 30.0)))
    } finally q.stop()
  }

  test("foreachBatch HLL register state equals the batch registers over the union") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_hll").toString
    val input = MemoryStream[String]
    val q = EventStreams.hllStream(input.toDF().toDF("k"),
      "k", s"$dir/state", s"$dir/ckpt", p = 6)
    def state(): Map[Long, Int] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
    def batchRegs(keys: Seq[String]): Map[Long, Int] =
      graft.operators.StatsOps.hllRegisters(
          keys.map(Tuple1(_)).toDF("k"), "k", p = 6)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b1 = (1 to 200).map(i => s"u$i")
    val b2 = (150 to 400).map(i => s"u$i") // overlaps b1
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(state() === batchRegs(b1))
      // the fold must EQUAL the batch registers over b1 ++ b2 (per-bucket
      // max = the mergeable-sketch law), not merely grow
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(state() === batchRegs(b1 ++ b2))
      // state stays sketch-sized: at most 2^p rows
      assert(state().size <= 64)
      // the estimate read off the snapshot tracks the true distinct count
      val est = graft.operators.StatsOps.hllEstimate(
          EventStreams.readUpsertState(spark, s"$dir/state"), p = 6)
        .collect()(0).getDouble(3)
      val exact = (b1 ++ b2).distinct.size.toDouble
      assert(math.abs(est - exact) <= 3 * 0.13 * exact, s"est=$est exact=$exact")
    } finally q.stop()
  }

  test("foreachBatch KMV state equals the batch sketch over the union of batches (r8)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_kmv").toString
    val input = MemoryStream[(String, String)]
    val q = EventStreams.kmvStream(input.toDF().toDF("g", "k"),
      "g", "k", s"$dir/state", s"$dir/ckpt", k = 32)
    def state(): Set[(String, Long, Int)] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    def batchSketch(rows: Seq[(String, String)]): Set[(String, Long, Int)] =
      graft.operators.StatsOps.kmvSketch(rows.toDF("g", "k"), "g", "k", 32)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val b1 = (1 to 300).map(i => (if (i % 2 == 0) "a" else "b", s"u$i"))
    val b2 = (200 to 500).map(i => (if (i % 2 == 0) "a" else "b", s"u$i"))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(state() === batchSketch(b1))
      // fold == batch sketch over b1 ++ b2 (the KMV merge law), ranks included
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(state() === batchSketch(b1 ++ b2))
      // state stays sketch-sized: at most k rows per group
      assert(state().groupBy(_._1).values.forall(_.size <= 32))
      // estimate off the snapshot tracks truth per group
      val est = graft.operators.StatsOps.kmvEstimate(
          EventStreams.readUpsertState(spark, s"$dir/state"), "g", 32)
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      val all = b1 ++ b2
      Seq("a", "b").foreach { g =>
        val exact = all.filter(_._1 == g).map(_._2).distinct.size.toDouble
        // rsd(KMV, k=32) ~ 1/sqrt(30) ~ 18%; allow 3x
        assert(math.abs(est(g) - exact) <= 3 * 0.19 * exact,
          s"$g est=${est(g)} exact=$exact")
      }
    } finally q.stop()
  }

  test("foldBatch replay is exactly-once for ADDITIVE state (ADVICE r10)") {
    // Simulates the crash window foreachBatch exposes: the snapshot and
    // _LATEST marker for batch b landed but the stream checkpoint did
    // not, so b REPLAYS on restart. The fold base must be the newest
    // snapshot with id < b (snapshotBefore), never the snapshot b itself
    // produced — otherwise additive merges (cms sums here) double-count.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toString
    val state = s"$dir/state"
    val merge = (base: org.apache.spark.sql.DataFrame,
                 batch: org.apache.spark.sql.DataFrame, _: Long) => {
      val baseCells =
        if (Set("d", "bucket", "cnt").subsetOf(base.columns.toSet))
          base.select(col("d"), col("bucket"), col("cnt"))
        else graft.operators.StatsOps.countMinCells(base, "term", 64, 4)
      graft.operators.StatsOps.countMinCells(batch, "term", 64, 4)
        .unionByName(baseCells)
        .groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
    }
    def cells(): Map[(Long, Long), Long] =
      EventStreams.readUpsertState(spark, state).collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val b0 = Seq.fill(5)("alpha").toDF("term")
    val b1 = (Seq.fill(3)("alpha") ++ Seq.fill(2)("beta")).toDF("term")
    EventStreams.foldBatch(b0, 0L, state)(merge)
    EventStreams.foldBatch(b1, 1L, state)(merge)
    val once = cells()
    // the replay: same batch, same id, state dir already holds snap-1
    EventStreams.foldBatch(b1, 1L, state)(merge)
    assert(cells() === once, "replaying batch 1 must not double-count")
    // and snapshotBefore picks the strict predecessor, not snap-1 itself
    val base1 = EventStreams.snapshotBefore(spark, state, 1L)
    assert(base1.exists(_.getName.endsWith("0")), s"got $base1")
    assert(EventStreams.snapshotBefore(spark, state, 0L).isEmpty)
  }

  test("foreachBatch Brier state equals the batch counts over the union; decomposition reads off the snapshot") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ops = graft.operators.TextOps
    val dir = java.nio.file.Files.createTempDirectory("graft_brier").toString
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val (b1, b2) = docs.partition(_._1 % 2 == 0)
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.brierStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/state", s"$dir/ckpt")
    def state(): Map[Long, (Long, Long)] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    def batchCounts(rows: Seq[(Long, String)]): Map[Long, (Long, Long)] =
      ops.brierCounts(rows.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    try {
      input.addData(b1.toSeq: _*)
      q.processAllAvailable()
      assert(state() === batchCounts(b1.toSeq))
      // mergeable-state law: the fold equals the batch counts over b1++b2
      input.addData(b2.toSeq: _*)
      q.processAllAvailable()
      assert(state() === batchCounts(docs.toSeq))
      // the decomposition reads off the snapshot and agrees with the
      // declared per-doc form up to float fold order (both round at 6)
      val snap = EventStreams.brierState(spark, s"$dir/state").collect()(0)
      val batch = ops.brierDecomposition(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text").collect()(0)
      assert(snap.getLong(0) === batch.getLong(0))
      for (i <- 1 to 4)
        assert(math.abs(snap.getDouble(i) - batch.getDouble(i)) <= 2e-6,
          s"field $i: ${snap.getDouble(i)} vs ${batch.getDouble(i)}")
      // state is margin-domain-bounded, not doc-bounded
      assert(state().size <= docs.length)
    } finally q.stop()
  }

  test("foreachBatch CMS state equals the batch sketch over the union of batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_cms").toString
    val input = MemoryStream[String]
    val q = EventStreams.cmsStream(input.toDF().toDF("term"),
      "term", s"$dir/state", s"$dir/ckpt", width = 64, depth = 4)
    def cells(): Map[(Long, Long), Long] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    val b1 = Seq.fill(6)("alpha") ++ Seq.fill(3)("beta") ++ Seq("gamma")
    val b2 = Seq.fill(4)("alpha") ++ Seq.fill(2)("delta")
    def batchCells(terms: Seq[String]): Map[(Long, Long), Long] =
      graft.operators.StatsOps.countMinCells(
          terms.map(Tuple1(_)).toDF("term"), "term", width = 64, depth = 4)
        .collect().map(r => (r.getInt(0).toLong, r.getLong(1)) -> r.getLong(2)).toMap
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(cells() === batchCells(b1))
      // the fold must EQUAL the batch sketch over b1 ++ b2 (cell-wise
      // addition = the mergeable-sketch law), not merely grow
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(cells() === batchCells(b1 ++ b2))
      // state stays sketch-sized: at most depth x width rows
      assert(cells().size <= 4 * 64)
    } finally q.stop()
  }

  test("foreachBatch admission pairs each batch against the prior corpus only") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_admit").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.admitStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/pairs", s"$dir/state", s"$dir/ckpt")
    try {
      val b1 = Seq((1L, "alpha beta gamma delta eps zeta"),
        (2L, "totally unrelated other words here now"))
      input.addData(b1: _*)
      q.processAllAvailable()
      // first batch: empty corpus -> no pairs, but the index must hold b1
      val idx1 = EventStreams.readUpsertState(spark, s"$dir/state")
      assert(idx1.select("id").distinct().collect().map(_.getLong(0)).sorted
        === Array(1L, 2L))
      // batch 2: a near-copy of doc 1 + a fresh doc
      val b2 = Seq((10L, "alpha beta gamma delta eps zeta"),
        (11L, "completely fresh new content"))
      input.addData(b2: _*)
      q.processAllAvailable()
      // partition-value inference reads batch_id back as int — normalize
      val pairs = spark.read.parquet(s"$dir/pairs")
        .withColumn("batch_id", col("batch_id").cast("long")).collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
          r.getAs[Long]("batch_id")))
      assert(pairs.exists(p => p._1 === 10L && p._2 === 1L),
        "the identical-text admission must be flagged against the batch-1 corpus")
      assert(pairs.forall(_._1 >= 10L), "only batch-2 docs are new_ids")
      // streaming pairs == the batch-mode incremental candidates
      val want = graft.operators.Dedup.minhashIncrement(
          b1.toDF("doc_id", "text"), b2.toDF("doc_id", "text"),
          "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs.filter(_._3 > 0).map(p => (p._1, p._2)).toSet === want)
      // the index now carries all four docs (and equals the batch chain)
      val idx2 = EventStreams.readUpsertState(spark, s"$dir/state")
      assert(idx2.select("id").distinct().count() === 4L)
      val wantIdx = graft.operators.Dedup.signatureIndex(
          (b1 ++ b2).toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[Int]("band"),
          r.getAs[Long]("bkey"))).toSet
      val gotIdx = idx2.collect().map(r => (r.getAs[Long]("id"),
        r.getAs[Int]("band"), r.getAs[Long]("bkey"))).toSet
      assert(gotIdx === wantIdx)
    } finally q.stop()
  }

  test("foreachBatch BQ admission pairs each batch against the prior code index (r15)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_bqadmit").toString
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.bqAdmitStream(input.toDF().toDF("vec_id", "embedding"),
      s"$dir/pairs", s"$dir/state", s"$dir/ckpt", maxHamming = 3, dims = 8)
    val S = graft.operators.Similarity
    try {
      val v0 = Seq(1f, 1f, 1f, 1f, -1f, -1f, -1f, -1f)
      val v1 = Seq(-1f, -1f, -1f, -1f, 1f, 1f, 1f, 1f)
      val b1 = Seq((0L, v0), (1L, v1))
      input.addData(b1: _*)
      q.processAllAvailable()
      // first batch: empty index -> no pairs, but the code index holds b1
      val idx1 = EventStreams.readUpsertState(spark, s"$dir/state")
      assert(idx1.select("id").collect().map(_.getLong(0)).sorted === Array(0L, 1L))
      // batch 2: a one-bit re-encode of v0 + a hamming-4 vector (outside
      // the gate even though it shares band 0)
      val v0drift = Seq(1f, 1f, 1f, -1f, -1f, -1f, -1f, -1f)
      val far = Seq(1f, 1f, 1f, 1f, 1f, 1f, 1f, 1f)
      val b2 = Seq((10L, v0drift), (11L, far))
      input.addData(b2: _*)
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$dir/pairs")
        .withColumn("batch_id", col("batch_id").cast("long")).collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
          r.getAs[Long]("hamming"), r.getAs[Long]("batch_id")))
      assert(pairs.map(p => (p._1, p._2, p._3)).toSet === Set((10L, 0L, 1L)),
        s"exactly the one-bit drift is flagged, got ${pairs.mkString(",")}")
      // streaming pairs == the batch-mode incremental candidates
      val want = S.bqAdmitIndexed(
          S.bqCodes(b1.toDF("vec_id", "embedding"), dims = 8),
          b2.toDF("vec_id", "embedding"), maxHamming = 3, dims = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(pairs.filter(_._4 > 0).map(p => (p._1, p._2, p._3)).toSet === want)
      // the state index equals the batch chain over the union — and is
      // code-shaped (3 columns), never the floats
      val idx2 = EventStreams.readUpsertState(spark, s"$dir/state")
      assert(idx2.columns.sorted === Array("b0", "b1", "id"))
      val wantIdx = S.bqCodes((b1 ++ b2).toDF("vec_id", "embedding"), dims = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val gotIdx = idx2.select("id", "b0", "b1")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(gotIdx === wantIdx)
      // batch 3 (r16): id 0 RE-SUBMITTED with a changed embedding —
      // LATEST-WINS: the state deterministically carries the NEW codes
      // (the pre-r16 union over the stale index left which row survived
      // dropDuplicates nondeterministic)
      val v0new = Seq(-1f, 1f, 1f, 1f, -1f, -1f, -1f, 1f)
      input.addData((0L, v0new))
      q.processAllAvailable()
      val idx3 = EventStreams.readUpsertState(spark, s"$dir/state")
      assert(idx3.select("id").distinct().count() === 4L)
      val expect0 = S.bqCodes(Seq((0L, v0new)).toDF("vec_id", "embedding"),
          dims = 8)
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      val got0 = idx3.filter(col("id") === 0L).select("b0", "b1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got0 === Seq(expect0),
        "a re-submitted id must carry its NEW codes (latest-wins)")
    } finally q.stop()
  }

  test("foreachBatch IVF probe serves a query stream against the persisted " +
      "index: per-batch parity with the batch serving plan (r17)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = graft.operators.Similarity
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfstream").toString
    // deterministic 8-dim corpus with real cell structure: 40 vectors,
    // targetCell=8 -> derivedCentroids = 5 fine cells, coarse = 3
    def vec(i: Long): Seq[Float] =
      Seq.tabulate(8)(d => (((i * 31 + d * 17) % 13) - 6).toFloat)
    val corpus = (0L until 40L).map(i => (i, vec(i))).toDF("vec_id", "embedding")
    val nCells = S.writeIvfIndex(corpus, s"$dir/index", targetCell = 8L)
    assert(nCells === 5)
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.ivfProbeStream(input.toDF().toDF("vec_id", "embedding"),
      s"$dir/index", s"$dir/out", s"$dir/ckpt", k = 3, nprobe = 2)
    def rws(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "rank", "vec_id", "cos_sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    try {
      // batch 1: two in-corpus queries
      val b1 = Seq((3L, vec(3L)), (7L, vec(7L)))
      input.addData(b1: _*)
      q.processAllAvailable()
      val out1 = spark.read.parquet(s"$dir/out")
      assert(rws(out1) === rws(S.ivfProbeIndex(spark, s"$dir/index",
        b1.toDF("vec_id", "embedding"), k = 3, nprobe = 2)))
      // batch 2: an EXTERNAL query (id outside the corpus) — the stream
      // serves it with the same sidecar ranking; top-1 recovers the
      // original it was copied from
      val b2 = Seq((50000L + 9L, vec(9L)))
      input.addData(b2: _*)
      q.processAllAvailable()
      val out2 = spark.read.parquet(s"$dir/out")
        .filter(col("batch_id").cast("long") === 1L)
      assert(rws(out2) === rws(S.ivfProbeIndex(spark, s"$dir/index",
        b2.toDF("vec_id", "embedding"), k = 3, nprobe = 2)))
      val top1 = out2.filter(col("rank") === 1).select("vec_id")
        .collect().map(_.getLong(0)).toSeq
      assert(top1 === Seq(9L), "external query must recover its original")
      // batch 1's output is still there untouched (partitioned sink)
      assert(rws(spark.read.parquet(s"$dir/out")
        .filter(col("batch_id").cast("long") === 0L)) === rws(out1))
      // the index GROWS mid-stream (r18): append new vectors under the
      // frozen quantizer, and the NEXT micro-batch retrieves them — the
      // serving face reads the directory per batch, so appended cells
      // are visible without restarting the stream. The appended family
      // uses a DISTINCT generator (no cosine-1 twins in the corpus, which
      // repeats every 13 ids), so the appended vector wins rank 1 outright.
      def vec2(i: Long): Seq[Float] =
        Seq.tabulate(8)(d => (((i * 29 + d * 11) % 13) - 6).toFloat)
      val fresh = (0L until 5L).map(i => (1000L + i, vec2(i)))
      val (na, _) = S.appendToIvfIndex(spark, s"$dir/index",
        fresh.toDF("vec_id", "embedding"))
      assert(na === 5L)
      val b3 = Seq((60000L + 2L, vec2(2L)))
      input.addData(b3: _*)
      q.processAllAvailable()
      val out3 = spark.read.parquet(s"$dir/out")
        .filter(col("batch_id").cast("long") === 2L)
      assert(out3.filter(col("rank") === 1).select("vec_id")
        .collect().map(_.getLong(0)).toSeq === Seq(1002L),
        "a post-append micro-batch must retrieve the appended twin at rank 1")
      assert(rws(out3) === rws(S.ivfProbeIndex(spark, s"$dir/index",
        b3.toDF("vec_id", "embedding"), k = 3, nprobe = 2)),
        "parity with the batch plan must hold over the grown index")
    } finally q.stop()
  }

  test("foreachBatch winnow admission pairs each batch against the prior fp index (r15)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_winadmit").toString
    val input = MemoryStream[(Long, String)]
    val q = EventStreams.winnowAdmitStream(input.toDF().toDF("doc_id", "text"),
      "doc_id", "text", s"$dir/pairs", s"$dir/state", s"$dir/ckpt",
      w = 4, minShared = 2, maxDf = 64)
    val T = graft.operators.TextOps
    try {
      val b1 = Seq((1L, "zq xw vv uu tt ss rr qq aa bb"),
        (2L, "k1 k2 k3 k4 k5 k6 k7 k8 k9 k0"))
      input.addData(b1: _*)
      q.processAllAvailable()
      // first batch: empty index -> no pairs; the index holds b1's fps
      val idx1 = EventStreams.readUpsertState(spark, s"$dir/state")
      assert(idx1.select("doc_id").distinct().collect().map(_.getLong(0)).sorted
        === Array(1L, 2L))
      // batch 2: a doc sharing an 8-token run with doc 1 + a fresh doc
      val b2 = Seq((10L, "mm nn zq xw vv uu tt ss rr qq"),
        (11L, "f1 f2 f3 f4 f5 f6 f7 f8 f9 fa"))
      input.addData(b2: _*)
      q.processAllAvailable()
      val pairs = spark.read.parquet(s"$dir/pairs")
        .withColumn("batch_id", col("batch_id").cast("long")).collect()
        .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("dup_of"),
          r.getAs[Long]("n_shared"), r.getAs[Long]("batch_id")))
      assert(pairs.exists(p => p._1 === 10L && p._2 === 1L),
        s"the shared >= w+1-shingle run must be flagged, got ${pairs.mkString(",")}")
      assert(pairs.forall(_._1 >= 10L), "only batch-2 docs are new_ids")
      // streaming pairs == the batch-mode asymmetric probe over the
      // same fingerprint chains
      val ifp = T.winnowFingerprints(b1.toDF("doc_id", "text"), "doc_id", "text", 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val bfp = T.winnowFingerprints(b2.toDF("doc_id", "text"), "doc_id", "text", 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (a, fa) <- bfp.groupBy(_._1); (b, fb) <- ifp.groupBy(_._1)
        n = (fa.map(_._2) intersect fb.map(_._2)).size.toLong if n >= 2
      } yield (a, b, n)).toSet
      assert(pairs.filter(_._4 > 0).map(p => (p._1, p._2, p._3)).toSet === want)
      // the index equals the batch fingerprint chain over all four docs
      val wantIdx = T.winnowFingerprints((b1 ++ b2).toDF("doc_id", "text"),
          "doc_id", "text", 4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val gotIdx = EventStreams.readUpsertState(spark, s"$dir/state")
        .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("fp"))).toSet
      assert(gotIdx === wantIdx)
    } finally q.stop()
  }

  test("foreachBatch mini-batch k-means folds the lattice stats exactly (r15)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_kms").toString
    val seeds = Array(Array(0.0, 0.0), Array(10.0, 10.0))
    val input = MemoryStream[(Long, Seq[Float])]
    val q = EventStreams.kmeansStream(input.toDF().toDF("vec_id", "embedding"),
      seeds, s"$dir/state", s"$dir/ckpt")
    // driver replay of the mini-batch semantics: assign vs centroids
    // derived from the running lattice sums, then fold the batch in
    def floorQ(x: Float): Long = math.floor(x.toDouble * 1048576.0).toLong
    def model(batches: Seq[Seq[(Long, Seq[Float])]]): Map[(Long, Int), (Long, Long)] = {
      var st = Map.empty[(Long, Int), (Long, Long)]
      for (b <- batches) {
        val cents = seeds.zipWithIndex.map { case (sv, cid) =>
          Array.tabulate(sv.length) { d =>
            st.get((cid.toLong, d)) match {
              case Some((sq, n)) if n > 0 => sq.toDouble / (n.toDouble * 1048576.0)
              case _ => sv(d)
            }
          }
        }
        def fold(xs: Seq[Double]) = xs.foldLeft(0.0)(_ + _)
        for ((_, v) <- b) {
          val ds = cents.map { c =>
            fold(v.map(x => x.toDouble * x.toDouble)) -
              2.0 * fold(v.zip(c).map { case (x, y) => x.toDouble * y }) +
              fold(c.toSeq.map(x => x * x))
          }
          val cell = ds.indexWhere(_ == ds.min).toLong
          for (d <- v.indices) {
            val (sq, n) = st.getOrElse((cell, d), (0L, 0L))
            st += (cell, d) -> ((sq + floorQ(v(d)), n + 1))
          }
        }
      }
      st
    }
    def state(): Map[(Long, Int), (Long, Long)] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val b1 = Seq((1L, Seq(1f, 1f)), (2L, Seq(9f, 9f)), (3L, Seq(0f, 2f)))
    val b2 = Seq((4L, Seq(2f, 0f)), (5L, Seq(8f, 11f)))
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(state() === model(Seq(b1)))
      input.addData(b2: _*)
      q.processAllAvailable()
      // batch 2 must have assigned against the UPDATED centroids and the
      // fold must equal the sequential driver replay, cell-wise exact
      assert(state() === model(Seq(b1, b2)))
      // state is k x dims rows forever — never the vectors
      assert(state().size <= 2 * 2)
    } finally q.stop()
  }

  test("streaming parquet sink writes date-partitioned files") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val input = MemoryStream[(Timestamp, Double)]
    val q = EventStreams.toPartitionedParquet(
      input.toDF().toDF("ts", "value"), s"$dir/data", s"$dir/ckpt")
    try {
      input.addData((t("2020-01-01 10:00:00"), 1.0), (t("2020-01-02 11:00:00"), 2.0))
      q.processAllAvailable()
      val back = spark.read.parquet(s"$dir/data")
      assert(back.count() === 2)
      // partition-value inference reads the directory values back as DATE
      assert(back.select(org.apache.spark.sql.functions.col("date").cast("string"))
        .distinct().collect().map(_.getString(0)).sorted
        === Array("2020-01-01", "2020-01-02"))
    } finally q.stop()
  }

  test("sessionize splits on in-batch gaps and closes sessions via event-time timeout") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS(),
        gapMs = 30 * 60 * 1000L, watermark = "10 minutes")
      .writeStream.format("memory").queryName("sessions").outputMode("append")
      .start()
    try {
      // user 1: two close events then a >30min gap inside the same batch
      input.addData(
        Ev(1L, t("2020-01-01 10:00:00"), 1.0),
        Ev(1L, t("2020-01-01 10:10:00"), 2.0),
        Ev(1L, t("2020-01-01 12:00:00"), 3.0))
      q.processAllAvailable()
      val first = spark.table("sessions").as[EventStreams.Session].collect()
      assert(first.toSeq === Seq(EventStreams.Session(1L,
        t("2020-01-01 10:00:00"), t("2020-01-01 10:10:00"), 2L, 3.0)))

      // push the watermark past 12:00 + gap via another user, then one more
      // batch so the timeout fires for user 1's open session
      input.addData(Ev(2L, t("2020-01-01 15:00:00"), 1.0))
      q.processAllAvailable()
      input.addData(Ev(2L, t("2020-01-01 15:01:00"), 1.0))
      q.processAllAvailable()

      val all = spark.table("sessions").as[EventStreams.Session].collect()
      assert(all.contains(EventStreams.Session(1L,
        t("2020-01-01 12:00:00"), t("2020-01-01 12:00:00"), 1L, 3.0)),
        s"got: ${all.mkString(", ")}")
    } finally q.stop()
  }

  test("streaming rolling cadence equals the batch sliding frame across batches") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def micros(ts: Timestamp): Long =
      (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
    val events = Tables.load(spark, sfDir, "events")
    val rows = events.select("user_id", "event_id", "ts").collect()
      .map(r => EventStreams.CadEv(r.getLong(0), r.getLong(1), r.getTimestamp(2)))
      .sortBy(e => (micros(e.ts), e.event_id))
    val input = MemoryStream[EventStreams.CadEv]
    val q = EventStreams.rollingCadence(input.toDS(), frameRows = 4)
      .writeStream.format("memory").queryName("roll_parity")
      .outputMode("append").start()
    try {
      // two micro-batches: per-key order is preserved by the global
      // (ts, event_id) sort, so keyed state must carry frames across the
      // batch boundary
      val (b1, b2) = rows.splitAt(rows.length / 2)
      input.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      input.addData(b2.toIndexedSeq)
      q.processAllAvailable()
      val streamed = spark.table("roll_parity").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      val batch = graft.operators.Temporal
        .rollingGaps(events, "user_id", "ts", "event_id", frameRows = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSet
      assert(streamed === batch)
      assert(streamed.size === rows.length)
    } finally q.stop()
  }

  test("streaming drift monitor: per-batch KS equals the batch operator") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.load(spark, sfDir, "events")
    val reference = events.filter(col("event_type") === "view").select("value")
    val base = java.nio.file.Files.createTempDirectory("graft_drift")
    val outDir = s"$base/out"
    val input = MemoryStream[Double]
    val q = EventStreams.driftMonitor(input.toDF().toDF("value"),
      reference, "value", outDir, s"$base/ckpt")
    val b1 = Seq(1.0, 2.0, 3.0, 4.0)
    val b2 = Seq(100.0, 200.0, 100.0)
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      // batch_id is the sink's PARTITION column: read-back partition
      // inference types it int, so normalize to long before asserting
      val got = spark.read.parquet(outDir)
        .select(col("na"), col("nb"), col("d_num"), col("ks_stat"),
          col("batch_id").cast("long"))
        .collect()
        .map(r => r.getLong(4) ->
          ((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))))
        .toMap
      assert(got.size === 2)
      Seq(0L -> b1, 1L -> b2).foreach { case (id, vals) =>
        val tagged = vals.toDF("v").select(col("v"), lit("cur").as("_g"))
          .unionByName(reference.select(col("value").as("v"), lit("ref").as("_g")))
        val e = graft.operators.StatsOps
          .ksDistance(tagged, "v", "_g", "cur", "ref").head
        assert(got(id) ===
          ((e.getLong(0), e.getLong(1), e.getLong(2), e.getDouble(3))),
          s"batch $id")
      }
    } finally q.stop()
  }

  test("drift monitor batch write is idempotent under at-least-once replay") {
    import spark.implicits._
    val reference = Seq(1.0, 2.0, 3.0).toDF("v")
      .select(col("v"), lit("ref").as("_g"))
    val base = java.nio.file.Files.createTempDirectory("graft_drift_replay")
    val outDir = s"$base/out"
    val batch = Seq(10.0, 20.0).toDF("value")
    // foreachBatch is at-least-once: simulate a post-write crash replay by
    // landing the SAME batch id twice (and a second id once)
    EventStreams.writeDriftBatch(batch, reference, "value", 7L, outDir)
    EventStreams.writeDriftBatch(batch, reference, "value", 7L, outDir)
    EventStreams.writeDriftBatch(Seq(30.0).toDF("value"), reference, "value", 8L, outDir)
    val rows = spark.read.parquet(outDir)
      .select(col("batch_id").cast("long")).collect().map(_.getLong(0))
    assert(rows.sorted.toSeq === Seq(7L, 8L),
      "replayed batch id must overwrite its own partition, not append")
  }

  test("streaming retention over real events equals batch q_retention; replay idempotent (r8)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ret").toString
    val evs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts")).orderBy("ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1)))
    val input = MemoryStream[(Long, Timestamp)]
    val q = EventStreams.retentionStream(
      input.toDS().toDF("user_id", "ts"), s"$base/state", s"$base/ckpt")
    try {
      val (a, b) = evs.splitAt(evs.length / 2)
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      input.addData(b.toIndexedSeq); q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("cohort", "offset_days").collect().map(_.mkString("|")).toSeq
      val got = canon(EventStreams.retentionState(spark, s"$base/state"))
      val want = canon(SparkEntry.queries("q_retention")(spark, sfDir))
      assert(got === want)
      // replay idempotence: re-folding half the data changes nothing
      // (distinct-union of already-seen facts is a no-op)
      input.addData(a.toIndexedSeq); q.processAllAvailable()
      assert(canon(EventStreams.retentionState(spark, s"$base/state")) === want)
    } finally q.stop()
  }

  test("streaming funnel over real events equals the batch q_funnel counts (r8)") {
    import spark.implicits._
    import EventStreams.{FunEv, FunnelHit}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // real events in EVENT-TIME order, split into two micro-batches —
    // the parity contract: in-order replay reproduces the batch funnel
    val evs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[FunEv].collect()
    val input = MemoryStream[FunEv]
    // quiet window beyond the table's one-month span: parity with the
    // batch funnel holds when no frontier expires mid-replay (expiry
    // semantics get their own test below)
    val q = EventStreams.funnelStream(input.toDS(),
        quietMs = 90L * 24 * 3600 * 1000)
      .writeStream.format("memory").queryName("funnel_hits")
      .outputMode("append").start()
    try {
      val (first, second) = evs.splitAt(evs.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("funnel_hits").as[FunnelHit]
        .groupBy("stage").agg(countDistinct(col("user_id")).as("n_users"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = SparkEntry.queries("q_funnel")(spark, sfDir)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === want)
      // each (user, stage) advancement emitted exactly once
      val dup = spark.table("funnel_hits")
        .groupBy("user_id", "stage").count().filter(col("count") > 1).count()
      assert(dup === 0L, "a stage advanced twice for some user")
    } finally q.stop()
  }

  test("funnel state expires via event-time timeout; a returning user restarts") {
    import spark.implicits._
    import EventStreams.FunEv
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[FunEv]
    // tight quiet window (1 min) + tight watermark so the timeout fires
    val q = EventStreams.funnelStream(input.toDS(),
        quietMs = 60 * 1000L, watermark = "1 minute")
      .writeStream.format("memory").queryName("funnel_expiry")
      .outputMode("append").start()
    try {
      input.addData(FunEv(1L, t("2020-01-01 10:00:00"), "view"))
      q.processAllAvailable()
      // 2 hours later: watermark sails past the frontier's timeout, the
      // funnel expires; this user's NEW view re-opens stage 1
      input.addData(FunEv(2L, t("2020-01-01 12:00:00"), "view"))
      q.processAllAvailable()
      input.addData(FunEv(1L, t("2020-01-01 12:00:30"), "view"))
      q.processAllAvailable()
      val hits = spark.table("funnel_expiry")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(hits.count(_ == ((1L, "1_view"))) === 2,
        s"expired funnel must restart on return: $hits")
    } finally q.stop()
  }

  test("streaming hbos gate over real events equals the batch q_hbos scores (r8)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import EventStreams.HbosEv
    val ref = Tables.load(spark, sfDir, "events")
    val evs = ref.select(col("event_id"), col("ts"), col("value"))
      .as[HbosEv].collect()
    val input = MemoryStream[HbosEv]
    val q = EventStreams.hbosGate(input.toDF(), ref)
      .writeStream.format("memory").queryName("hbos_scores")
      .outputMode("append").start()
    try {
      input.addData(evs.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("hbos_scores")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      val want = SparkEntry.queries("q_hbos")(spark, sfDir)
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
      assert(got === want, "stream scores != batch scores on the same reference")
    } finally q.stop()
  }

  test("streaming seqmatch over real events equals the batch q_seq_match flags (r8)") {
    import spark.implicits._
    import EventStreams.{SeqEv, SeqHit}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val pats = Seq("m_funnel" -> "v.*c.*p", "m_err_pair" -> "ee")
    val evs = Tables.load(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_type"))
      .orderBy("ts", "event_id")
      .as[SeqEv].collect()
    val input = MemoryStream[SeqEv]
    val q = EventStreams.seqMatchStream(input.toDS(), pats,
        quietMs = 90L * 24 * 3600 * 1000)
      .writeStream.format("memory").queryName("seq_hits")
      .outputMode("append").start()
    try {
      val (first, second) = evs.splitAt(evs.length / 2)
      input.addData(first.toIndexedSeq)
      q.processAllAvailable()
      input.addData(second.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("seq_hits").as[SeqHit].collect()
        .map(h => (h.user_id, h.pattern)).toSet
      val want = SparkEntry.queries("q_seq_match")(spark, sfDir)
        .collect().flatMap { r =>
          Seq(r.getBoolean(3) -> "m_funnel", r.getBoolean(4) -> "m_err_pair")
            .collect { case (true, p) => (r.getLong(0), p) }
        }.toSet
      assert(got === want, "stream hits != batch true flags")
      // emit-once per user x pattern
      val dup = spark.table("seq_hits")
        .groupBy("user_id", "pattern").count().filter(col("count") > 1).count()
      assert(dup === 0L)
    } finally q.stop()
  }

  test("foreachBatch OHLC state equals the batch bars over the union (r10)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_ohlc").toString
    val input = MemoryStream[(String, Timestamp, Long, Double)]
    val q = EventStreams.ohlcStream(
      input.toDF().toDF("k", "ts", "tie", "v"),
      "k", "ts", "tie", "v", s"$dir/state", s"$dir/ckpt")
    def ts(s: String) = Timestamp.valueOf(s)
    // batch 2 contains an EARLIER row for g's 05:00 bar than batch 1
    // (late data) — the merge must re-elect the open across batches
    val b1 = Seq(("g", ts("2020-01-01 05:30:00"), 10L, 50.0),
      ("g", ts("2020-01-01 05:40:00"), 11L, 70.0),
      ("h", ts("2020-01-01 06:10:00"), 12L, 5.0))
    val b2 = Seq(("g", ts("2020-01-01 05:10:00"), 13L, 30.0),
      ("g", ts("2020-01-01 05:50:00"), 14L, 20.0))
    def stateBars(): Map[(String, Timestamp), (Long, Double, Double, Double, Double)] =
      EventStreams.readUpsertState(spark, s"$dir/state").collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Timestamp]("bar")) ->
          ((r.getAs[Long]("n_rows"), r.getAs[Double]("open"),
            r.getAs[Double]("high"), r.getAs[Double]("low"),
            r.getAs[Double]("close")))).toMap
    def batchBars(rows: Seq[(String, Timestamp, Long, Double)]) =
      graft.operators.Temporal.ohlcBars(
          rows.toDF("k", "ts", "tie", "v"), "k", "ts", "tie", "v")
        .collect()
        .map(r => (r.getAs[String]("k"), r.getAs[Timestamp]("bar")) ->
          ((r.getAs[Long]("n_rows"), r.getAs[Double]("open"),
            r.getAs[Double]("high"), r.getAs[Double]("low"),
            r.getAs[Double]("close")))).toMap
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(stateBars() === batchBars(b1))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(stateBars() === batchBars(b1 ++ b2))
      // the late 05:10 row must have taken over g's 05:00 open
      val g5 = stateBars()(("g", ts("2020-01-01 05:00:00")))
      assert(g5 === ((4L, 30.0, 70.0, 20.0, 20.0)))
    } finally q.stop()
  }

  test("foreachBatch AUC count state equals the batch metric over the union (r10)") {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_auc").toString
    val input = MemoryStream[(String, Long, Long)]
    val q = EventStreams.aucStream(
      input.toDF().toDF("grp", "b", "y"),
      "grp", "b", "y", s"$dir/state", s"$dir/ckpt")
    val b1 = Seq(("g", 1L, 0L), ("g", 8L, 1L), ("g", 2L, 0L))
    val b2 = Seq(("g", 9L, 1L), ("g", 3L, 0L), ("g", 2L, 1L))
    def stateAuc(): Double =
      graft.operators.StatsOps.aucFromCounts(
          EventStreams.readUpsertState(spark, s"$dir/state"), "grp")
        .collect()(0).getAs[Double]("auc")
    def batchAuc(rows: Seq[(String, Long, Long)]): Double =
      graft.operators.StatsOps.groupAuc(
          rows.toDF("grp", "b", "y"), "grp", "b", "y")
        .collect()(0).getAs[Double]("auc")
    // the SAME folded state also reads its average precision (one
    // mergeable state, two ranking metrics — apFromCounts)
    def stateAp(): Double =
      graft.operators.StatsOps.apFromCounts(
          EventStreams.readUpsertState(spark, s"$dir/state"), "grp")
        .collect()(0).getAs[Double]("avg_prec")
    def batchAp(rows: Seq[(String, Long, Long)]): Double =
      graft.operators.StatsOps.avgPrecision(
          rows.toDF("grp", "b", "y"), "grp", "b", "y")
        .collect()(0).getAs[Double]("avg_prec")
    try {
      input.addData(b1: _*)
      q.processAllAvailable()
      assert(stateAuc() === batchAuc(b1))
      assert(stateAp() === batchAp(b1))
      input.addData(b2: _*)
      q.processAllAvailable()
      assert(stateAuc() === batchAuc(b1 ++ b2))
      assert(stateAp() === batchAp(b1 ++ b2))
    } finally q.stop()
  }

  test("psiMonitor lands one idempotent PSI row set per micro-batch (r10)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_psi").toString
    val ref = Seq(("g", 0L, 0L), ("g", 1L, 0L), ("g", 2L, 0L))
      .toDF("grp", "bin", "side")
    val batch = Seq(("g", 0L), ("g", 2L), ("g", 2L)).toDF("grp", "bin")
    // drive the factored batch writer directly (the writeDriftBatch
    // convention): once, then a replay of the SAME batch id
    EventStreams.writePsiBatch(batch, ref, "grp", "bin", 4, 0L, s"$dir/out")
    EventStreams.writePsiBatch(batch, ref, "grp", "bin", 4, 0L, s"$dir/out")
    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() === 1) // replay replaced, never duplicated
    val row = got.collect()(0)
    assert(row.getAs[Long]("n_ref") === 3L && row.getAs[Long]("n_cur") === 3L)
    // batch PSI over the same tagged union must agree exactly
    val tagged = batch.select(col("grp"), col("bin"), lit(1L).as("side"))
      .unionByName(ref)
    val expect = graft.operators.StatsOps.psi(tagged, "grp", "bin", "side", 4)
      .collect()(0).getAs[Double]("psi")
    assert(row.getAs[Double]("psi") === expect)
  }

  test("bhFdrMonitor lands one idempotent FDR table per micro-batch (r10)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bh").toString
    // reference: feed 'shift' low bins, feed 'same' uniform; batch moves
    // 'shift' to the high bins and replays 'same' unchanged
    val ref = ((1 to 100).flatMap(i => Seq(("shift", (i % 4).toLong, 0L))) ++
      (1 to 100).flatMap(i => Seq(("same", (i % 16).toLong, 0L))))
      .toDF("grp", "bin", "side")
    val batch = ((1 to 100).map(i => ("shift", 12L + (i % 4))) ++
      (1 to 100).map(i => ("same", (i % 16).toLong))).toDF("grp", "bin")
    EventStreams.writeBhFdrBatch(batch, ref, "grp", "bin", 16, 0.10, 0L,
      s"$dir/out")
    EventStreams.writeBhFdrBatch(batch, ref, "grp", "bin", 16, 0.10, 0L,
      s"$dir/out")
    val got = spark.read.parquet(s"$dir/out")
    assert(got.count() === 2) // one row per feed, replay replaced
    val byGrp = got.collect().map(r => r.getAs[String]("grp") -> r).toMap
    assert(byGrp("shift").getAs[Boolean]("reject"))
    assert(!byGrp("same").getAs[Boolean]("reject"))
    // the batch-side bhFdr over the same tagged union must agree exactly
    val tagged = batch.select(col("grp"), col("bin"), lit(1L).as("side"))
      .unionByName(ref)
    val expect = graft.operators.StatsOps.bhFdr(tagged, "grp", "bin",
        "side", 16, 0.10)
      .collect().map(r => r.getAs[String]("grp") ->
        r.getAs[Double]("p_value")).toMap
    assert(byGrp("shift").getAs[Double]("p_value") === expect("shift"))
    assert(byGrp("same").getAs[Double]("p_value") === expect("same"))
  }

  test("CRS transforms are stateless streaming faces: Albers/stereo round-trips equal batch (r15)") {
    // the conic/azimuthal family is pure scan-stage arithmetic, so its
    // streaming face is the SAME Column tree over readStream — pin that
    // the kernels (incl. the r15 inverse-latitude iterations) run
    // unchanged inside a micro-batch plan
    import graft.functions.GeoFunctions
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_crs")
    java.nio.file.Files.createDirectory(staged.resolve("events.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      staged.resolve("events.parquet").resolve("part-00000.parquet"))
    def shots(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_id").as("shot"),
      ((col("event_id") % 360) - 180.0 + col("value") / 1000.0).as("lon"),
      ((col("event_id") * 7) % 180 - 90.0 + col("value") / 2000.0).as("lat"))
    def proj(sh: org.apache.spark.sql.DataFrame) = {
      val (ax, ay) = GeoFunctions.albersForward(col("lon"), col("lat"),
        23.0, 29.5, 45.5, -96.0)
      val (px, py) = GeoFunctions.polarStereoForward(col("lon"), col("lat"),
        -45.0, 0.994)
      val s1 = sh.filter(col("lat").between(10.0, 84.0))
        .select(col("shot"), ax.as("ax"), ay.as("ay"), px.as("px"), py.as("py"))
      val (alon, alat) = GeoFunctions.albersInverse(col("ax"), col("ay"),
        23.0, 29.5, 45.5, -96.0)
      val (slon, slat) = GeoFunctions.polarStereoInverse(col("px"), col("py"),
        -45.0, 0.994)
      s1.select(col("shot"),
        round(col("ax"), 0).cast("long").as("aea_x_m"),
        round(col("py"), 0).cast("long").as("ps_y_m"),
        round(alon * 1000000.0, 0).cast("long").as("alon_udeg"),
        round(alat * 1000000.0, 0).cast("long").as("alat_udeg"),
        round(slon * 1000000.0, 0).cast("long").as("slon_udeg"),
        round(slat * 1000000.0, 0).cast("long").as("slat_udeg"))
    }
    val stream = Tables.loadStream(spark, staged.toString, "events")
    val q = proj(shots(stream))
      .writeStream.format("memory").queryName("crs_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("crs_parity").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = proj(shots(Tables.load(spark, sfDir, "events"))).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }

  test("LCC inverse is a stateless streaming face: round-trip equals batch (r16)") {
    // completes the r15 inverse-CRS family: Albers/stereo got their
    // readStream parity spec in r15, the LCC inverse (the same
    // fixed-iteration conformal-latitude kernel) gets its own here
    import graft.functions.GeoFunctions
    val staged = java.nio.file.Files.createTempDirectory("graft_stream_lcc")
    java.nio.file.Files.createDirectory(staged.resolve("events.parquet"))
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      staged.resolve("events.parquet").resolve("part-00000.parquet"))
    def shots(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_id").as("shot"),
      ((col("event_id") % 360) - 180.0 + col("value") / 1000.0).as("lon"),
      ((col("event_id") * 7) % 180 - 90.0 + col("value") / 2000.0).as("lat"))
    def proj(sh: org.apache.spark.sql.DataFrame) = {
      val (lx, ly) = GeoFunctions.lccForward(col("lon"), col("lat"),
        23.0, 33.0, 45.0, -96.0)
      val s1 = sh.filter(col("lat").between(10.0, 84.0))
        .select(col("shot"), lx.as("lx"), ly.as("ly"))
      val (llon, llat) = GeoFunctions.lccInverse(col("lx"), col("ly"),
        23.0, 33.0, 45.0, -96.0)
      s1.select(col("shot"),
        round(col("lx"), 0).cast("long").as("lcc_x_m"),
        round(col("ly"), 0).cast("long").as("lcc_y_m"),
        round(llon * 1000000.0, 0).cast("long").as("llon_udeg"),
        round(llat * 1000000.0, 0).cast("long").as("llat_udeg"))
    }
    val stream = Tables.loadStream(spark, staged.toString, "events")
    val q = proj(shots(stream))
      .writeStream.format("memory").queryName("lcc_parity").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("lcc_parity").collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      val batch = proj(shots(Tables.load(spark, sfDir, "events"))).collect()
        .map(r => r.getLong(0) -> r.toSeq.tail).toMap
      assert(streamed.nonEmpty)
      assert(streamed === batch)
    } finally q.stop()
  }
}
