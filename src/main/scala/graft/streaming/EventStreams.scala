package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

import graft.Tables

/** SURVEY §2.4 — Structured Streaming transforms over the events stream.
  * Batch analogues are q_events_bucket (windowed counts) and gedixr's
  * per-granule run loop; here the same semantics run incrementally with
  * bounded state: the watermark expires window state, and sessions expire
  * via event-time timeout. Specs drive these with MemoryStream — the
  * ScalaTest IS the oracle (no DuckDB entry for streams).
  */
object EventStreams {

  /** Windowed event counts + watermark (stream_bucket). State per window
    * is dropped once the watermark passes window end — memory is bounded
    * by (watermark / window) live windows per key-space, not by stream
    * length. */
  def bucketCounts(events: DataFrame, windowDur: String = "1 hour",
                   watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("cnt"), col("sum_value"))

  /** Streaming exact dedup: drop events whose key was already seen within
    * the watermark horizon (the incremental form of Dedup.exactDedup —
    * state is bounded by the watermark, so memory doesn't grow with the
    * stream). Keys should include the event id / content hash. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermark: String = "30 minutes"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming canonical-URL dedup — the crawl-frontier filter: pages
    * arrive as scheme/www/tracking-param variants across micro-batches;
    * canonicalization is the stateless batch regexp chain
    * (TextOps.urlCanonicalize — identical semantics on readStream
    * frames), then first-arrival-wins within the watermark horizon.
    * State is one entry per DISTINCT canonical key inside the horizon —
    * bounded by watermark × frontier rate, not crawl history. */
  def urlDedupStream(pages: DataFrame, urlCol: String,
                     watermark: String = "30 minutes"): DataFrame =
    dedupStream(graft.operators.TextOps.urlCanonicalize(pages, urlCol),
      Seq("canonical_url"), watermark)

  /** Stream-stream join: enrich an event stream with a second stream
    * (e.g. impressions ⋈ purchases) keyed by `key`, with both sides
    * watermarked and the match bounded to `maxDelay` of event time —
    * the time bound is what lets Spark discard state, keeping the join's
    * memory proportional to the delay window, not the stream history.
    *
    * `how = "left_outer"` adds attribution's MISS rows: an impression
    * with no purchase inside the bound emits null-extended — but only
    * once BOTH watermarks have passed its match window (the engine must
    * be sure no matching right row can still arrive), so outer results
    * trail the inner ones by up to watermark + maxDelay of event time.
    * Same state bound as the inner join. */
  def joinStreams(left: DataFrame, right: DataFrame, key: String,
                  watermark: String = "30 minutes",
                  maxDelay: String = "1 hour",
                  how: String = "inner"): DataFrame = {
    val l = left.withWatermark("ts", watermark)
    val r = right.select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("value").as("r_value"))
      .withWatermark("r_ts", watermark)
    l.join(r,
      col(key) === col("r_key") &&
        col("r_ts") >= col("ts") &&
        col("r_ts") <= col("ts") + expr(s"INTERVAL $maxDelay"),
      how)
  }

  /** Durable sink: stream a frame to date-partitioned parquet (the
    * lakehouse ingest layout — each day's directory is one partition for
    * downstream pruning). Returns the started query; caller awaits. */
  def toPartitionedParquet(df: DataFrame, outDir: String,
                           checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.withColumn("date", date_format(col("ts"), "yyyy-MM-dd"))
      .writeStream
      .partitionBy("date")
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .outputMode("append")
      .start(outDir)

  private val LatestMarker = "_LATEST"
  private val SnapPrefix = "snap-"

  private def fsFor(spark: org.apache.spark.sql.SparkSession,
                    p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Resolve the current state snapshot under a [[upsertParquet]]
    * `stateDir`: the `_LATEST` marker's target if it names a complete
    * (`_SUCCESS`-bearing) snapshot, else the newest complete snapshot on
    * disk (the crash-recovery path — a failure inside the marker swap
    * leaves the marker stale or absent, never the data), else None. */
  def latestSnapshot(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): Option[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) return None
    def complete(p: org.apache.hadoop.fs.Path): Boolean =
      fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
    val marker = new org.apache.hadoop.fs.Path(root, LatestMarker)
    val fromMarker =
      if (!fs.exists(marker)) None
      else {
        val in = fs.open(marker)
        val name =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Option(new org.apache.hadoop.fs.Path(root, name)).filter(complete)
      }
    fromMarker.orElse {
      fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith(SnapPrefix) && complete(p))
        .sortBy(_.getName).lastOption
    }
  }

  /** Read the current upsert state (see [[upsertParquet]]'s layout). */
  def readUpsertState(spark: org.apache.spark.sql.SparkSession,
                      stateDir: String): DataFrame =
    latestSnapshot(spark, stateDir) match {
      case Some(p) => Tables.readParquet(spark, p.toString)
      case None => throw new IllegalStateException(
        s"no complete upsert state snapshot under $stateDir")
    }

  /** Streaming latest-wins upsert: fold each micro-batch into a parquet
    * state snapshot via [[graft.operators.MergeOps.latestWinsMerge]] —
    * the streaming form of q_incr_merge (a continuously maintained
    * current-state table). foreachBatch may REPLAY a batch after a
    * failure; latest-wins is idempotent under replay (re-merging the
    * same rows yields the same state), which is what makes this sink
    * exactly-once in effect without a transactional store.
    *
    * Durability (ADVICE r5): a plain `mode("overwrite")` of one state
    * directory is delete-then-write — a crash inside the window loses the
    * ONLY copy of the state, and the restart would silently re-seed from
    * the replayed batch alone. So each batch writes a FRESH snapshot
    * directory `snap-<batchId>` and then swaps the `_LATEST` marker
    * (tmp-file + rename); the previous snapshot stays on disk until the
    * swap lands. Every crash point is covered: before the snapshot
    * completes → marker still names the old snapshot and the batch
    * replays onto it; inside the marker swap → [[latestSnapshot]] falls
    * back to the newest `_SUCCESS`-complete snapshot, and the replayed
    * merge is idempotent on it. A lakehouse table format's ACID commit is
    * the cluster-grade version of exactly this snapshot-then-swap. Read
    * the state via [[readUpsertState]]. Snapshots older than the previous
    * one are pruned after the swap. */
  def upsertParquet(df: DataFrame, stateDir: String, checkpointDir: String,
                    keys: Seq[String], version: Seq[String]): org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(df, stateDir, checkpointDir) { (base, batch, _) =>
      graft.operators.MergeOps.latestWinsMerge(base, batch, keys, version)
    }

  /** Streaming CDC apply: [[upsertParquet]] with DELETE semantics — each
    * micro-batch is an I/U/D change log folded into the snapshot via
    * [[graft.operators.MergeOps.cdcApply]] (the streaming form of
    * q_cdc_apply: a continuously maintained table under a Debezium-style
    * feed). Replay-idempotent for the same reason latest-wins is: after a
    * batch lands, the state already reflects its newest per-key ops, and
    * re-applying them (including deletes of now-absent keys — the window
    * sees only the log rows again, D still wins) reproduces the same
    * state. Same snapshot-then-swap durability as upsertParquet.
    *
    * The base snapshot carries no op column; cdcApply stamps it 'I' and
    * tie-sorts it after log rows, so the log's ops always take
    * precedence at equal version. */
  def cdcParquet(df: DataFrame, stateDir: String, checkpointDir: String,
                 keys: Seq[String], version: Seq[String],
                 opCol: String): org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(df, stateDir, checkpointDir) { (base, batch, _) =>
      // the snapshot lacks the op column (cdcApply drops it): fold with
      // the base AS state and the batch AS log
      graft.operators.MergeOps.cdcApply(
        base.drop(opCol), batch, keys, version, opCol)
    }

  /** Streaming cohort retention (stream_retention): the engagement STATE
    * is the distinct (user_id, day) activity fact, folded per
    * micro-batch through the shared crash-safe snapshot chain —
    * replay-idempotent by construction (distinct-union of a replayed
    * batch is a no-op), no watermark needed because the fact is
    * append-only and day-granular. The retention MATRIX derives from
    * the snapshot via [[graft.operators.Temporal.retentionMatrix]] —
    * the SAME plan the batch query (q_retention) runs, so there is one
    * definition of retention in the engine; read it with
    * [[retentionState]]. State is O(users × active days) — exactly the
    * frame the batch query shuffles, so the streaming form holds
    * nothing the batch recomputation wouldn't. */
  def retentionStream(events: DataFrame, stateDir: String, checkpointDir: String,
                      userCol: String = "user_id", tsCol: String = "ts")
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(events, stateDir, checkpointDir) { (base, batch, _) =>
      def fact(df: DataFrame): DataFrame =
        if (df.columns.toSet == Set("user_id", "day"))
          df.select("user_id", "day")
        else df.select(col(userCol).cast("long").as("user_id"),
          to_date(col(tsCol)).as("day"))
      fact(batch).unionByName(fact(base)).distinct()
    }

  /** Current retention matrix from a [[retentionStream]] state dir. */
  def retentionState(spark: org.apache.spark.sql.SparkSession,
                     stateDir: String): DataFrame =
    graft.operators.Temporal.retentionMatrix(readUpsertState(spark, stateDir))

  /** Newest complete snapshot whose ENCODED BATCH ID is strictly below
    * `batchId` — the replay-safe fold base. After a crash between the
    * snapshot/marker write and the stream's checkpoint commit,
    * foreachBatch REPLAYS the batch while `_LATEST` already names
    * `snap-<batchId>` (a state that contains it); folding onto that
    * snapshot double-counts permanently for ADDITIVE merges (cms cell
    * sums, ohlc/auc counts) even though idempotent folds (hll max, kmv
    * dedup, latest-wins) mask it. Snapshot names embed the batch id and
    * the pruning policy keeps the predecessor on disk exactly for this,
    * so the pre-batch state is always recoverable by name. */
  private[graft] def snapshotBefore(spark: org.apache.spark.sql.SparkSession,
                                        stateDir: String, batchId: Long)
      : Option[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = fsFor(spark, root)
    if (!fs.exists(root)) return None
    fs.listStatus(root).map(_.getPath)
      .filter { p =>
        p.getName.startsWith(SnapPrefix) &&
          p.getName.stripPrefix(SnapPrefix).toLong < batchId &&
          fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS"))
      }
      .sortBy(_.getName).lastOption
  }

  /** One micro-batch of a [[snapshotFold]] stream: fold `batch` onto the
    * replay-safe base state ([[snapshotBefore]] — never the snapshot the
    * batch itself may have already produced) and land the result as a
    * fresh `snap-<batchId>` directory + atomic `_LATEST` marker swap.
    * Applying the same (batch, batchId) twice lands an identical state
    * (spec-proven for the additive cms fold), which is what makes every
    * snapshotFold stream exactly-once in effect under foreachBatch's
    * at-least-once replay. */
  private[graft] def foldBatch(batch: DataFrame, batchId: Long,
                                   stateDir: String)
                                  (merge: (DataFrame, DataFrame, Long) => DataFrame): Unit = PB.scoped {
    // all paths through the Hadoop FS layer, not java.nio: a URI-style
    // ("file:/...") or non-local stateDir is a path spark.read
    // understands but Paths.get does not
    val spark = batch.sparkSession
    val root = new org.apache.hadoop.fs.Path(stateDir)
    val fs = fsFor(spark, root)
    // the getOrElse arm is a SCHEMA PROBE only (batchId = -1): merge
    // implementations with side effects (admitStream's pairs write)
    // must guard them on batchId >= 0
    val base = snapshotBefore(spark, stateDir, batchId)
      .map(p => Tables.readParquet(spark, p.toString))
      .getOrElse(merge(batch.limit(0), batch, -1L).limit(0))
    // materialized (localCheckpoint) before writing: on a replay the
    // merge plan may read the very snapshot directory it overwrites
    val merged = merge(base, batch, batchId)
      .transform(PB.localCheckpoint)
    val snapName = f"$SnapPrefix$batchId%020d"
    merged.write.mode("overwrite")
      .parquet(new org.apache.hadoop.fs.Path(root, snapName).toString)
    val marker = new org.apache.hadoop.fs.Path(root, LatestMarker)
    val tmp = new org.apache.hadoop.fs.Path(root, LatestMarker + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(snapName.getBytes("UTF-8")) finally out.close()
    fs.delete(marker, false)
    fs.rename(tmp, marker)
    // keep this snapshot and its predecessor (the replay fold base and
    // crash fallback); prune everything older
    fs.listStatus(root).map(_.getPath)
      .filter(p => p.getName.startsWith(SnapPrefix) && p.getName < snapName)
      .sortBy(_.getName).dropRight(1)
      .foreach(p => fs.delete(p, true))
  }

  /** Shared crash-safe snapshot fold: [[foldBatch]] per micro-batch (see
    * [[upsertParquet]]'s durability scaladoc — every crash point leaves a
    * complete, discoverable snapshot, and the replay-safe base makes the
    * fold exactly-once even for additive merges). */
  private def snapshotFold(df: DataFrame, stateDir: String, checkpointDir: String)
                          (merge: (DataFrame, DataFrame, Long) => DataFrame): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        foldBatch(batch.toDF(), batchId, stateDir)(merge)
      }
      .start()

  /** Streaming count-min sketch (stream_cms): each micro-batch's terms
    * collapse to their (d, bucket, cnt) cells
    * ([[graft.operators.StatsOps.countMinCells]] — the SAME geometry as
    * the batch estimator) and ADD into the persisted cell state. This is
    * the mergeable-sketch property doing the streaming work: cell-wise
    * addition is associative and commutative, so the folded state equals
    * the batch sketch over the union of all batches (spec-proven), and
    * state size stays depth×width rows forever — the fixed-memory
    * frequency monitor over an unbounded stream. Durability is the shared
    * [[upsertParquet]] snapshot-then-swap fold (crash-safe, replay-safe). */
  def cmsStream(terms: DataFrame, termCol: String, stateDir: String,
                checkpointDir: String, width: Int = 256,
                depth: Int = 4): org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(terms, stateDir, checkpointDir) { (base, batch, _) =>
      // snapshotFold's first-batch convention hands an empty BATCH-schema
      // frame as base — fold it through the cell builder (empty terms →
      // empty cells) instead of assuming the state schema
      val baseCells =
        if (Set("d", "bucket", "cnt").subsetOf(base.columns.toSet))
          base.select(col("d"), col("bucket"), col("cnt"))
        else graft.operators.StatsOps.countMinCells(base, termCol, width, depth)
      graft.operators.StatsOps.countMinCells(batch, termCol, width, depth)
        .unionByName(baseCells)
        .groupBy("d", "bucket").agg(sum("cnt").as("cnt"))
    }

  /** Streaming HyperLogLog (stream_hll): each micro-batch's keys collapse
    * to their (bucket, r) registers ([[graft.operators.StatsOps
    * .hllRegisters]] — the SAME geometry as the batch sketch) and MAX into
    * the persisted register state. Per-bucket max is associative and
    * commutative, so the folded state equals the batch registers over the
    * union of all batches (spec-proven) and the estimate can be read off
    * the snapshot at any time with [[graft.operators.StatsOps
    * .hllEstimate]]. State is at most 2^p rows forever — the fixed-memory
    * distinct-count monitor over an unbounded stream, the streaming
    * sibling of q_hll_registers. Durability is the shared snapshot-then-
    * swap fold (crash-safe, replay-safe). */
  def hllStream(keys: DataFrame, keyCol: String, stateDir: String,
                checkpointDir: String,
                p: Int = 9): org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(keys, stateDir, checkpointDir) { (base, batch, _) =>
      val baseRegs =
        if (Set("bucket", "r").subsetOf(base.columns.toSet))
          base.select(col("bucket"), col("r"))
        else graft.operators.StatsOps.hllRegisters(base, keyCol, p)
      graft.operators.StatsOps.hllRegisters(batch, keyCol, p)
        .unionByName(baseRegs)
        .groupBy("bucket").agg(max("r").as("r"))
    }

  /** Streaming KMV sketch (stream_kmv): each micro-batch's keys collapse
    * to their per-group bottom-k hashes ([[graft.operators.StatsOps
    * .kmvSketch]] — the SAME geometry as the batch sketch) and re-bottom-k
    * against the persisted state. Dedup-then-bottom-k is idempotent and
    * order-free, so the folded state equals the batch sketch over the
    * union of all batches (spec-proven, like the HLL/CMS folds); state is
    * at most k rows per group forever, and the estimate reads off any
    * snapshot with [[graft.operators.StatsOps.kmvEstimate]]. The fully
    * hash-portable streaming distinct monitor (per group), next to
    * [[hllStream]]'s global xxhash64 one. */
  def kmvStream(keyed: DataFrame, groupCol: String, keyCol: String,
                stateDir: String, checkpointDir: String,
                k: Int = 64): org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(keyed, stateDir, checkpointDir) { (base, batch, _) =>
      val baseSk =
        if (Set(groupCol, "hv").subsetOf(base.columns.toSet))
          base.select(col(groupCol), col("hv"))
        else graft.operators.StatsOps.kmvSketch(base, groupCol, keyCol, k)
          .select(col(groupCol), col("hv"))
      val merged = graft.operators.StatsOps.kmvSketch(batch, groupCol, keyCol, k)
        .select(col(groupCol), col("hv"))
        .unionByName(baseSk)
        .groupBy(col(groupCol), col("hv")).agg(count(lit(1)))
        .select(col(groupCol), col("hv"))
      graft.operators.TopK.perGroupTopK(merged, Seq(col(groupCol)),
        Seq(col("hv")), k, salt = col("hv"))
    }

  final case class Ev(user_id: Long, ts: Timestamp, value: Double)
  final case class Session(user_id: Long, session_start: Timestamp,
                           session_end: Timestamp, n_events: Long, sum_value: Double)
  final case class SessState(start: Long, last: Long, n: Long, sum: Double)

  /** Sessionization via flatMapGroupsWithState (stream_session): sessions
    * close after `gapMs` of event-time silence, enforced two ways — a
    * micro-batch may contain the gap itself (emit immediately), or the gap
    * spans batches (event-time timeout fires once the watermark passes
    * last + gap). Keyed by user_id, so state shards across executors. */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000L,
                 watermark: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(uid, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum))
          } else {
            val out = Seq.newBuilder[Session]
            var cur = state.getOption
            for (e <- evs.toSeq.sortBy(_.ts.getTime)) {
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.last <= gapMs =>
                  cur = Some(SessState(s.start, math.max(s.last, t), s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += Session(uid, new Timestamp(s.start), new Timestamp(s.last), s.n, s.sum)
                  cur = Some(SessState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMs)
            }
            out.result().iterator
          }
      }
  }

  final case class FunEv(user_id: Long, ts: Timestamp, event_type: String)
  final case class FunnelHit(user_id: Long, stage: String, us: Long)
  /** Stage frontier in epoch micros; -1 = stage not reached. `lastUs`
    * tracks the newest event seen, for the expiry timeout. */
  final case class FunState(vUs: Long, cUs: Long, pUs: Long, lastUs: Long)

  /** Streaming funnel (stream_funnel): ordered view → click → purchase
    * conversion via flatMapGroupsWithState — the incremental sibling of
    * q_funnel (TemporalQueries). Each user's state is the 3-long stage
    * frontier; an event advances the funnel iff its stage's predecessor
    * is filled and the event is STRICTLY later (the batch query's
    * `us > prev_us` semantics), and each advancement emits exactly one
    * (user, stage, us) row — so `groupBy(stage).count()` over the
    * emitted hits equals the batch funnel's per-stage user counts when
    * the stream replays in event-time order (the parity spec's
    * contract; late data older than an already-admitted frontier is
    * evaluated against the frontier as-of arrival, the standard
    * streaming-funnel admission semantics).
    *
    * State is O(users) x 4 longs — the same frontier cardinality the
    * batch query shuffles — sharded by the groupByKey hash; the
    * event-time timeout expires funnels `quietMs` past their last
    * event once the watermark passes (a returning user restarts, the
    * session-window analogue), so state never outlives activity. */
  def funnelStream(events: Dataset[FunEv], quietMs: Long = 24 * 3600 * 1000L,
                   watermark: String = "30 minutes"): Dataset[FunnelHit] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunState, FunnelHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[FunEv], state: GroupState[FunState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = Seq.newBuilder[FunnelHit]
            var s = state.getOption.getOrElse(FunState(-1L, -1L, -1L, -1L))
            // exact MICROS (getTime truncates to ms and would misorder
            // sub-ms-separated events — the TemporalSpec lesson)
            def micros(ts: Timestamp): Long =
              (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
            for (e <- evs.toSeq.sortBy(ev => micros(ev.ts))) {
              val t = micros(e.ts)
              e.event_type match {
                case "view" if s.vUs < 0 =>
                  s = s.copy(vUs = t); out += FunnelHit(uid, "1_view", t)
                case "click" if s.vUs >= 0 && s.cUs < 0 && t > s.vUs =>
                  s = s.copy(cUs = t); out += FunnelHit(uid, "2_click", t)
                case "purchase" if s.cUs >= 0 && s.pUs < 0 && t > s.cUs =>
                  s = s.copy(pUs = t); out += FunnelHit(uid, "3_purchase", t)
                case _ => ()
              }
              s = s.copy(lastUs = math.max(s.lastUs, t))
            }
            state.update(s)
            state.setTimeoutTimestamp(s.lastUs / 1000L + quietMs)
            out.result().iterator
          }
      }
  }

  final case class HbosEv(event_id: Long, ts: Timestamp, value: Double)
  final case class SeqEv(user_id: Long, ts: Timestamp, event_type: String)
  final case class SeqHit(user_id: Long, pattern: String, us: Long)
  /** Accumulated code string + newest event micros + bitmask of patterns
    * already matched (emit-once). */
  final case class SeqState(seq: String, lastUs: Long, matched: Long)

  /** Streaming sequence matcher (stream_seqmatch): the incremental
    * sibling of q_seq_match — each user's ordered 1-char code string
    * accumulates in state, and the moment a behavioral regex FIRST
    * matches, one (user, pattern, us) row emits (the matched bitmask
    * makes emission exactly-once per user×pattern). In-order replay
    * reproduces exactly the batch operator's true flags (the parity
    * spec's contract).
    *
    * State is the per-user code string — the SAME per-user-bounded
    * cardinality the batch collect holds (the sessionize bound); the
    * event-time timeout expires quiet users once the watermark passes,
    * so state never outlives activity. Patterns must stay in the same
    * RE2 ∩ java.regex subset as the batch operator. */
  def seqMatchStream(events: Dataset[SeqEv],
                     patterns: Seq[(String, String)],
                     quietMs: Long = 24 * 3600 * 1000L,
                     watermark: String = "30 minutes"): Dataset[SeqHit] = {
    import events.sparkSession.implicits._
    require(patterns.nonEmpty && patterns.size <= 62,
      "seqMatchStream: 1..62 patterns (bitmask emit-once state)")
    val pats = patterns.toIndexedSeq
    events.withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SeqState, SeqHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[SeqEv], state: GroupState[SeqState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = Seq.newBuilder[SeqHit]
            var s = state.getOption.getOrElse(SeqState("", -1L, 0L))
            def micros(ts: Timestamp): Long =
              (ts.getTime / 1000L) * 1000000L + ts.getNanos / 1000L
            val sb = new StringBuilder(s.seq)
            var matched = s.matched
            val compiled = pats.map(p => java.util.regex.Pattern.compile(p._2))
            for (e <- evs.toSeq.sortBy(ev => micros(ev.ts))) {
              val t = micros(e.ts)
              sb += e.event_type.charAt(0)
              var i = 0
              while (i < pats.length) {
                if ((matched & (1L << i)) == 0L &&
                  compiled(i).matcher(sb).find()) {
                  matched |= 1L << i
                  out += SeqHit(uid, pats(i)._1, t)
                }
                i += 1
              }
              s = s.copy(lastUs = math.max(s.lastUs, t))
            }
            s = s.copy(seq = sb.toString, matched = matched)
            state.update(s)
            state.setTimeoutTimestamp(s.lastUs / 1000L + quietMs)
            out.result().iterator
          }
      }
  }

  /** Streaming HBOS scoring gate (stream_hbos): every incoming event
    * scored against FIXED reference histograms (built once from the
    * training-time frame — the density model the thresholds were tuned
    * on) via the SAME [[graft.operators.StatsOps.hbosScore]] definition
    * the batch query uses, so there is exactly one definition of the
    * outlier score in the engine (the driftMonitor convention). Pure
    * stream-static broadcast joins — no state, no shuffle on the
    * stream; buckets unseen in the reference clamp to maximum surprise.
    * Scored in-flight: the gate is a filterable column on the ingest
    * path, not a post-hoc audit. */
  def hbosGate(stream: DataFrame, reference: DataFrame,
               idCol: String = "event_id", tsCol: String = "ts",
               valueCol: String = "value",
               threshold: Double = 18.0): DataFrame =
    graft.operators.StatsOps.hbosScore(stream,
      graft.operators.StatsOps.hbosHistograms(reference, tsCol, valueCol),
      idCol, tsCol, valueCol, threshold)

  /** Streaming drift monitor (stream_drift): per micro-batch, the exact
    * two-sample KS distance of the batch's `valueCol` distribution
    * against a fixed REFERENCE frame (e.g. the distribution the quality
    * thresholds were tuned on), appended as a (batch_id, na, nb, d_num,
    * ks_stat) time series — the alarm feed for "this source changed
    * under us". Pure composition: each micro-batch runs the SAME
    * StatsOps.ksDistance plan the batch query runs (the parity spec
    * holds them equal), so there is exactly one definition of drift in
    * the engine. State is the reference frame only — nothing accumulates
    * across batches.
    *
    * The sink is IDEMPOTENT per batch: foreachBatch is at-least-once (a
    * crash between the write and the checkpoint commit replays the
    * batch), so a plain append would duplicate that batch's row on
    * restart. The time series is partitioned by batch_id and each batch
    * dynamically overwrites ONLY its own partition — replays converge to
    * exactly one row per batch_id. */
  def driftMonitor(stream: DataFrame, reference: DataFrame, valueCol: String,
                   outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = reference.select(col(valueCol).as("v"), lit("ref").as("_g"))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeDriftBatch(batch, ref, valueCol, id, outDir)
      }
      .start()
  }

  /** One drift-monitor micro-batch: KS distance vs the tagged reference,
    * landed as the batch_id partition via dynamic partition overwrite
    * (so re-running a batch id replaces, never duplicates). Factored out
    * of the foreachBatch closure so the replay idempotence is spec-
    * testable without a crash harness. */
  private[graft] def writeDriftBatch(batch: Dataset[org.apache.spark.sql.Row],
                                         taggedRef: DataFrame, valueCol: String,
                                         id: Long, outDir: String): Unit = {
    val tagged = batch.select(col(valueCol).as("v"), lit("cur").as("_g"))
      .unionByName(taggedRef)
    graft.operators.StatsOps.ksDistance(tagged, "v", "_g", "cur", "ref")
      .withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Streaming near-dup admission (stream_admit): each micro-batch of new
    * docs bands with the SAME chain as the batch path
    * ([[graft.operators.Dedup.signatureIndex]]) and joins against the
    * persisted corpus signature index; candidate pairs land as the
    * batch_id partition via dynamic partition overwrite (replayed batch
    * REPLACES, never duplicates — the drift-monitor fix's pattern), then
    * the batch's own signatures append into the index snapshot so later
    * batches collide with earlier admissions. Corpus text is never
    * rescanned: state IS the index (bands×keys per doc, forever).
    *
    * Replay idempotence beyond the pairs partition: the index side
    * anti-joins the batch's own ids before pairing, so a batch replayed
    * AFTER its index append still pairs against exactly the pre-batch
    * corpus (ids must be unique across batches — the usual CDC key
    * contract). The pairs write is a side effect of the state merge; the
    * crash analysis is the snapshot fold's (either the old marker stands
    * and the replay recomputes identical pairs, or the new one stands
    * and dynamic overwrite replaces them).
    *
    * Output pairs: (new_id, dup_of, batch_id) CANDIDATES — verify with
    * [[graft.operators.Dedup.ngramJaccard]] downstream where texts live. */
  def admitStream(docs: DataFrame, idCol: String, textCol: String,
                  pairsDir: String, stateDir: String, checkpointDir: String,
                  k: Int = 16, bands: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(docs, stateDir, checkpointDir) { (base, batch, batchId) =>
      val D = graft.operators.Dedup
      // first-batch convention: base arrives in the BATCH schema — band
      // it (empty docs -> empty index) instead of assuming state columns
      val stateCols = Set("id", "keys", "band", "bkey")
      val idx =
        if (stateCols.subsetOf(base.columns.toSet)) base
        else D.signatureIndex(base, idCol, textCol, k, bands)
      val priorIdx = idx.join(
        broadcast(batch.select(col(idCol).as("_bid")).distinct()),
        idx("id") === col("_bid"), "left_anti")
      // batchId < 0 marks snapshotFold's schema probe — no side effects
      if (batchId >= 0)
        D.minhashIncrementIndexed(priorIdx, batch, idCol, textCol, k, bands)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsDir)
      // LATEST-WINS on re-submitted ids: fold the batch over priorIdx
      // (the batch's ids already anti-joined out), not idx — a union over
      // idx would leave which signature survives dropDuplicates
      // nondeterministic when a batch re-submits an id with new text.
      priorIdx.unionByName(D.signatureIndex(batch, idCol, textCol, k, bands))
        .dropDuplicates("id", "band")
    }

  /** Streaming BQ admission (stream_bq): the embedding-side sibling of
    * [[admitStream]] — each micro-batch of new vectors packs to sign
    * codes with the SAME chain as the batch path
    * ([[graft.operators.Similarity.bqCodes]]) and probes the persisted
    * packed-code index by the 4-band pigeonhole
    * ([[graft.operators.Similarity.bqAdmitIndexed]] — EXACT recall for
    * hamming ≤ 3, no missed-pair probability); candidate pairs land as
    * the batch_id partition via dynamic partition overwrite (replayed
    * batch REPLACES, never duplicates), then the batch's own codes
    * append into the index snapshot. Replay idempotence: the index side
    * anti-joins the batch's own ids before pairing, so a batch replayed
    * after its append still pairs against exactly the pre-batch corpus.
    *
    * State is 24 B per admitted vector (two longs + id) — NEVER the
    * floats — the index a billion-vector admission gate actually fits
    * in (~24 GB where the raw embeddings are ~256 GB). */
  def bqAdmitStream(vecs: DataFrame, pairsDir: String, stateDir: String,
                    checkpointDir: String, maxHamming: Int = 3,
                    dims: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(vecs, stateDir, checkpointDir) { (base, batch, batchId) =>
      val S = graft.operators.Similarity
      val stateCols = Set("id", "b0", "b1")
      val idx =
        if (stateCols.subsetOf(base.columns.toSet)) base
        else S.bqCodes(base, dims)
      val priorIdx = idx.join(
        broadcast(batch.select(col("vec_id").as("_bid")).distinct()),
        idx("id") === col("_bid"), "left_anti")
      if (batchId >= 0)
        S.bqAdmitIndexed(priorIdx, batch, maxHamming, dims)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsDir)
      // LATEST-WINS on re-submitted ids (see admitStream): union over
      // priorIdx, so a batch re-submitting an existing id with a changed
      // embedding deterministically replaces its codes instead of racing
      // dropDuplicates against the stale index row.
      priorIdx.unionByName(S.bqCodes(batch, dims)).dropDuplicates("id")
    }

  /** Streaming IVF serving (stream_ivf_probe): a continuous QUERY stream
    * served against a persisted
    * [[graft.operators.Similarity.writeIvfIndex]] layout — the stream
    * face of the r16 serving arc and the retrieval sibling of
    * stream_bq/stream_admit. Unlike those, it is STATELESS: retrieval
    * mutates nothing, so there is no snapshot fold — the index
    * directory and its sidecar quantizer ARE the state, owned by the
    * batch build path (`ivf-index`, re-run to retrain/compact; r18:
    * `ivf-append` GROWS it under the frozen quantizer, and because each
    * micro-batch re-reads the directory, appended cells are served from
    * the next batch on without restarting the stream). Each
    * micro-batch runs the EXACT batch serving plan
    * ([[graft.operators.Similarity.ivfProbeIndex]]: sidecar cell
    * ranking, partition-pruned index scan, oversized-batch shuffle
    * fallback, salted top-k) and lands its ranking as the batch_id
    * partition via dynamic overwrite — a replayed batch REPLACES its own
    * output, so the sink is idempotent under at-least-once delivery. */
  def ivfProbeStream(queries: DataFrame, indexDir: String, outDir: String,
                     checkpointDir: String, k: Int = 5, nprobe: Int = 4)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries.writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.operators.Similarity
          .ivfProbeIndex(batch.sparkSession, indexDir, batch.toDF(), k, nprobe)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** Streaming winnow admission (stream_winnow): the MOSS gate run
    * continuously — each micro-batch of new docs winnows with the SAME
    * selection chain as the batch path
    * ([[graft.operators.TextOps.winnowFingerprints]]) and joins against
    * the persisted fingerprint index; pairs sharing ≥ `minShared`
    * selected fingerprints land as the batch_id partition via dynamic
    * overwrite, then the batch's fingerprints append into the index.
    * The over-common-fingerprint rule is enforced on the INDEX side at
    * probe time (fingerprints whose accumulated df exceeds `maxDf` are
    * skipped), so boilerplate that becomes common over the stream's
    * lifetime stops generating pairs — the same economics as the batch
    * df cap, applied to the running corpus.
    *
    * State is the fingerprint index (doc_id, fp) — ~2/(w+1) of the
    * shingle count per doc, never the text; replay idempotence follows
    * admitStream's analysis (anti-join of the batch's own ids + dynamic
    * partition overwrite). */
  def winnowAdmitStream(docs: DataFrame, idCol: String, textCol: String,
                        pairsDir: String, stateDir: String,
                        checkpointDir: String, w: Int = 4,
                        minShared: Int = 2, maxDf: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(docs, stateDir, checkpointDir) { (base, batch, batchId) =>
      val T = graft.operators.TextOps
      val stateCols = Set("doc_id", "fp")
      val idx =
        if (stateCols.subsetOf(base.columns.toSet)) base
        else T.winnowFingerprints(base, idCol, textCol, w)
      val priorIdx = idx.join(
        broadcast(batch.select(col(idCol).as("_bid")).distinct()),
        idx("doc_id") === col("_bid"), "left_anti")
      if (batchId >= 0) {
        val live = priorIdx.join(
          priorIdx.groupBy("fp").agg(count(lit(1)).as("_df"))
            .filter(col("_df") <= maxDf).select("fp"),
          Seq("fp"))
        val bfp = T.winnowFingerprints(batch, idCol, textCol, w)
        live.select(col("doc_id").as("dup_of"), col("fp"))
          .join(bfp.select(col("doc_id").as("new_id"), col("fp")), Seq("fp"))
          .groupBy(col("new_id"), col("dup_of"))
          .agg(count(lit(1)).as("n_shared"))
          .filter(col("n_shared") >= minShared)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(pairsDir)
      }
      // LATEST-WINS on re-submitted ids (see admitStream): union over
      // priorIdx — via idx, a doc re-submitted with changed text would
      // keep its STALE fingerprints alongside the new ones forever.
      priorIdx.unionByName(T.winnowFingerprints(batch, idCol, textCol, w))
        .dropDuplicates("doc_id", "fp")
    }

  /** Streaming mini-batch k-means (stream_kmeans; Sculley 2010's
    * web-scale k-means on the snapshot-fold chassis): state is the
    * k×dims integer-lattice sufficient-statistics frame
    * (cell, dim, sq, n) — [[graft.operators.Similarity.latticeSums]],
    * the SAME frame the batch trainer collects — and each micro-batch
    * (1) derives current centroids from state (sq/(n·2²⁰); seed
    * components for still-empty cells), (2) assigns its vectors with the
    * SAME plan-constant kernel as the batch path
    * ([[graft.operators.Similarity.assignCells]]), and (3) folds its own
    * lattice sums in by cell-wise integer addition — the mergeable-
    * sketch law, so replayed batches re-merge onto the pre-batch
    * snapshot exactly (the CMS fold's idempotence analysis).
    *
    * State is k×dims rows FOREVER (never the vectors): a k=1024, d=64
    * gate holds 64 K rows while continuously maintaining centroids over
    * an unbounded stream. Mini-batch assignment depends on the evolving
    * centroids, so replay parity is against the same batch SEQUENCE (the
    * spec's driver model), not against any order-free batch equivalent —
    * the documented semantics of every mini-batch trainer. */
  def kmeansStream(vecs: DataFrame, seeds: Array[Array[Double]],
                   stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(vecs, stateDir, checkpointDir) { (base, batch, _) =>
      val S = graft.operators.Similarity
      val stateCols = Set("cell", "dim", "sq", "n")
      val st =
        if (stateCols.subsetOf(base.columns.toSet))
          base.select(col("cell"), col("dim"), col("sq"), col("n"))
        else
          S.latticeSums(S.assignCells(batch.limit(0), seeds))
      val sums = st.collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getLong(3))))
        .toMap
      val cents = S.latticeCentroids(sums, seeds)
      st.unionByName(S.latticeSums(S.assignCells(batch, cents)))
        .groupBy(col("cell"), col("dim"))
        .agg(sum(col("sq")).as("sq"), sum(col("n")).as("n"))
    }

  final case class CadEv(user_id: Long, event_id: Long, ts: Timestamp)
  final case class RollState(lastUs: Long, gaps: List[Long])
  final case class RollOut(user_id: Long, event_id: Long, gap_us: Long,
      roll_n: Long, roll_sum_us: Long, roll_avg_us: Long)

  /** Streaming rolling cadence (stream_rolling): the incremental form of
    * Temporal.rollingGaps — one output row per event carrying the gap to
    * the previous event and the rolling sum/count/floor-div average over
    * the last `frameRows` gaps, exactly as the batch window computes
    * them (the parity spec holds them equal row for row, across batch
    * boundaries). Keyed state is CONSTANT size per key — the last event
    * time plus at most `frameRows` gaps — so monitoring cadence over an
    * unbounded stream needs O(keys) memory, not O(history). Exact integer
    * micros end to end, same as the batch operator.
    *
    * ORDERING CONTRACT: events must arrive in non-decreasing (ts,
    * event_id) order PER KEY across micro-batches (within a batch the
    * operator sorts). A late event would emit a negative gap and poison
    * the next frameRows frames — batch parity holds only under the
    * contract. For sources that can deliver late data, resequence
    * upstream (watermark + Temporal.rollingGaps over the settled table is
    * the replay path). */
  def rollingCadence(events: Dataset[CadEv],
                     frameRows: Int = 4): Dataset[RollOut] = {
    import events.sparkSession.implicits._
    def micros(t: Timestamp): Long =
      (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RollState, RollOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[CadEv], state: GroupState[RollState]) =>
          val out = Seq.newBuilder[RollOut]
          var last: Option[Long] = state.getOption.map(_.lastUs)
          var gaps: List[Long] = state.getOption.map(_.gaps).getOrElse(Nil)
          for (e <- evs.toSeq.sortBy(ev => (micros(ev.ts), ev.event_id))) {
            val us = micros(e.ts)
            last match {
              case None =>
                out += RollOut(uid, e.event_id, -1L, 0L, -1L, -1L)
              case Some(prev) =>
                val g = us - prev
                gaps = (gaps :+ g).takeRight(frameRows)
                val n = gaps.size.toLong
                val s = gaps.sum
                out += RollOut(uid, e.event_id, g, n, s, s / n)
            }
            last = Some(us)
          }
          last.foreach(us => state.update(RollState(us, gaps)))
          out.result().iterator
      }
  }

  /** Streaming PSI monitor (stream_psi): per micro-batch, the exact
    * population stability index of the batch's bin distribution against
    * a fixed REFERENCE frame, appended as a (grp, n_ref, n_cur, psi,
    * batch_id) time series — the model-monitoring sibling of
    * [[driftMonitor]] (KS asks "different anywhere"; PSI is the banded
    * industry drift number with its 0.1/0.25 conventions). Pure
    * composition: each micro-batch runs the SAME
    * [[graft.operators.StatsOps.psi]] plan as the batch query (one
    * definition of drift). Idempotent per batch via dynamic partition
    * overwrite on batch_id (the driftMonitor fix's pattern). */
  def psiMonitor(stream: DataFrame, reference: DataFrame, groupCol: String,
                 binCol: String, outDir: String, checkpointDir: String,
                 bins: Int = 10)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = reference.select(col(groupCol).as("grp"),
      col(binCol).cast("long").as("bin"), lit(0L).as("side"))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writePsiBatch(batch, ref, groupCol, binCol, bins, id, outDir)
      }
      .start()
  }

  /** One PSI-monitor micro-batch — factored out so replay idempotence is
    * spec-testable without a crash harness (the writeDriftBatch twin). */
  private[graft] def writePsiBatch(batch: Dataset[org.apache.spark.sql.Row],
                                   taggedRef: DataFrame, groupCol: String,
                                   binCol: String, bins: Int, id: Long,
                                   outDir: String): Unit = {
    val tagged = batch.select(col(groupCol).as("grp"),
        col(binCol).cast("long").as("bin"), lit(1L).as("side"))
      .unionByName(taggedRef)
    graft.operators.StatsOps.psi(tagged, "grp", "bin", "side", bins)
      .withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Streaming BH-FDR drift monitor (stream_bhfdr): per micro-batch,
    * the full [[graft.operators.StatsOps.bhFdr]] table — per-feed
    * binned-KS statistic, Kolmogorov p, and the Benjamini–Hochberg
    * step-up rejection — of the batch against a fixed reference frame,
    * appended as a batch_id-partitioned time series. THIS is the alarm
    * feed an ops team actually pages on: with m feeds tested per batch,
    * raw-α thresholding floods pages; the step-up keeps the expected
    * false-discovery rate at α per batch. Pure composition (one
    * definition of the test, shared with the declared query);
    * idempotent per batch via dynamic partition overwrite. */
  def bhFdrMonitor(stream: DataFrame, reference: DataFrame,
                   groupCol: String, binCol: String, outDir: String,
                   checkpointDir: String, bins: Int = 64,
                   alpha: Double = 0.10)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ref = reference.select(col(groupCol).as("grp"),
      col(binCol).cast("long").as("bin"), lit(0L).as("side"))
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeBhFdrBatch(batch, ref, groupCol, binCol, bins, alpha, id, outDir)
      }
      .start()
  }

  /** One BH-FDR-monitor micro-batch (writePsiBatch twin — factored so
    * replay idempotence is spec-testable without a crash harness). */
  private[graft] def writeBhFdrBatch(batch: Dataset[org.apache.spark.sql.Row],
                                     taggedRef: DataFrame, groupCol: String,
                                     binCol: String, bins: Int, alpha: Double,
                                     id: Long, outDir: String): Unit = {
    val tagged = batch.select(col(groupCol).as("grp"),
        col(binCol).cast("long").as("bin"), lit(1L).as("side"))
      .unionByName(taggedRef)
    graft.operators.StatsOps.bhFdr(tagged, "grp", "bin", "side", bins, alpha)
      .withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(outDir)
  }

  /** Streaming Brier monitor (stream_brier): each micro-batch's docs run
    * the classifier-vs-rules gate pair and collapse to their per-margin
    * label counts ([[graft.operators.TextOps.brierCounts]] — the SAME
    * mergeable state the batch metric folds), ADDED into the persisted
    * count state; the full Murphy decomposition (brier, reliability,
    * resolution, uncertainty) reads off any snapshot with
    * [[brierState]]. Margins are exact integer token-code sums, so the
    * cell-wise addition is exact and the folded state equals the batch
    * counts over the union of all batches (spec-proven); state is one
    * row per distinct margin — domain-bounded, not stream-bounded. The
    * live model-quality monitor next to stream_auc (which the AP reader
    * shares state with); one definition per metric preserved. */
  def brierStream(docs: DataFrame, idCol: String, textCol: String,
                  stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(docs, stateDir, checkpointDir) { (base, batch, _) =>
      val baseCounts =
        if (Set("margin", "n", "n_pos").subsetOf(base.columns.toSet))
          base.select(col("margin"), col("n"), col("n_pos"))
        else graft.operators.TextOps.brierCounts(base, idCol, textCol)
      graft.operators.TextOps.brierCounts(batch, idCol, textCol)
        .unionByName(baseCounts)
        .groupBy("margin")
        .agg(sum(col("n")).as("n"), sum(col("n_pos")).as("n_pos"))
    }

  /** Current Murphy decomposition from a [[brierStream]] state dir. */
  def brierState(spark: org.apache.spark.sql.SparkSession,
                 stateDir: String): DataFrame =
    graft.operators.TextOps.brierFromCounts(readUpsertState(spark, stateDir))

  /** Streaming OHLC bars (stream_ohlc): each micro-batch collapses to
    * its per-(key, bar) [[graft.operators.Temporal.ohlcState]] rows —
    * the bar summary PLUS open/close election keys — and merges into
    * the persisted bar state via [[graft.operators.Temporal.ohlcMerge]]
    * (counts add, high/low fold, open/close re-elect on the carried
    * exact keys). OHLC is a MERGEABLE aggregate, so the folded state
    * equals the batch bars over the union of all batches (spec-proven)
    * and state stays bar-count-bounded forever — the live price/metric
    * bar feed. Durability is the shared snapshot-then-swap fold. */
  def ohlcStream(events: DataFrame, keyCol: String, tsCol: String,
                 tieCol: String, valueCol: String, stateDir: String,
                 checkpointDir: String, unit: String = "hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(events, stateDir, checkpointDir) { (base, batch, _) =>
      val stateCols = Set("k", "bar", "n_rows", "o_us", "o_tie", "open",
        "high", "low", "c_us", "c_tie", "close")
      val baseState =
        if (stateCols.subsetOf(base.columns.toSet))
          base.select(stateCols.toSeq.sorted.map(col): _*)
        else graft.operators.Temporal.ohlcState(base, keyCol, tsCol,
          tieCol, valueCol, unit)
            .select(stateCols.toSeq.sorted.map(col): _*)
      graft.operators.Temporal.ohlcMerge(
        graft.operators.Temporal.ohlcState(batch, keyCol, tsCol, tieCol,
          valueCol, unit)
          .select(stateCols.toSeq.sorted.map(col): _*)
          .unionByName(baseState))
    }

  /** Streaming grouped AUC (stream_auc): each micro-batch collapses to
    * its (grp, b, np, nn) label counts ([[graft.operators.StatsOps
    * .aucCounts]] — the SAME geometry as the batch metric) and ADDS into
    * the persisted count state; the exact mid-rank AUC reads off the
    * snapshot at any time with [[graft.operators.StatsOps
    * .aucFromCounts]]. Cell-wise addition is associative/commutative, so
    * the folded state equals the batch counts over the union of all
    * batches (spec-proven) and state stays (groups x buckets)-bounded —
    * the live model-quality monitor next to stream_psi's drift feed. */
  def aucStream(scored: DataFrame, groupCol: String, bucketCol: String,
                labelCol: String, stateDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    snapshotFold(scored, stateDir, checkpointDir) { (base, batch, _) =>
      val baseCounts =
        if (Set("grp", "b", "np", "nn").subsetOf(base.columns.toSet))
          base.select(col("grp"), col("b"), col("np"), col("nn"))
        else graft.operators.StatsOps.aucCounts(base, groupCol, bucketCol, labelCol)
      graft.operators.StatsOps.aucCounts(batch, groupCol, bucketCol, labelCol)
        .unionByName(baseCounts)
        .groupBy("grp", "b")
        .agg(sum(col("np")).as("np"), sum(col("nn")).as("nn"))
    }
}
