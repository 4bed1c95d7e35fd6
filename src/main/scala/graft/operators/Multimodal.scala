package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{PlanBridge => PB}

/** Multimodal column plumbing (SURVEY §2.3): image/audio/video payloads are
  * opaque `binary` columns with typed metadata, processed per-partition so
  * a real codec would amortize its init cost across a partition's records.
  *
  * Since round 9 the image path is REAL: [[ImageCodec]] parses binary PPM
  * and 24-bit BMP containers and [[dHashFingerprints]] computes the
  * standard 64-bit difference hash per decoded frame — the `kind`
  * dispatch in [[extractFeatures]] routes image payloads through the real
  * decoder and everything else through `decodeStub` (deterministic fake
  * features standing in for the audio/JPEG/H.264 codecs this container
  * cannot host). The typed schema, Dataset encoders, mapPartitions batch
  * shape and partition-level codec lifecycle are shared by both paths.
  */
object Multimodal {

  /** One media payload: opaque bytes + typed metadata. */
  final case class MediaRecord(media_id: Long, kind: String, content: Array[Byte])

  /** Extracted features (stub: width/height are deterministic fakes). */
  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 checksum: Long, width: Long, height: Long)

  private val P = graft.functions.TextFunctions.P

  /** STUB decoder — stands in for image decode / audio resample. The
    * checksum is the same polynomial byte fold as TextFunctions.charHash,
    * so ASCII payloads are oracle-checkable; width/height are fakes. */
  def decodeStub(r: MediaRecord): MediaFeatures = {
    var acc = 0L
    var i = 0
    while (i < r.content.length) {
      acc = (acc * 31L + (r.content(i) & 0xffL)) % P
      i += 1
    }
    MediaFeatures(r.media_id, r.kind, r.content.length.toLong, acc,
      width = acc % 640L, height = acc % 480L)
  }

  /** Media frame from the documents table: text bytes as the opaque
    * payload (the stand-in for real image/audio columns). */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"), lit("text").as("kind"),
        encode(col("text"), "UTF-8").as("content"))
      .as[MediaRecord]
  }

  /** Real decode for the containers [[ImageCodec]] understands, keyed on
    * the `kind` column: PPM/BMP payloads parse for true dimensions (the
    * checksum stays the content byte fold — it identifies BYTES, not
    * pixels); any other kind falls back to [[decodeStub]]. */
  def decodeMedia(r: MediaRecord): MediaFeatures = {
    val img = r.kind match {
      case "image/ppm" | "video/ppm-frames" => ImageCodec.decodePpm(r.content)
      case "image/bmp" => ImageCodec.decodeBmp(r.content)
      case "image/jpeg" | "image/png" | "image/gif" =>
        ImageIoCodec.decode(r.content) // JDK ImageIO (see its oracle note)
      case _ => None
    }
    img match {
      case Some(im) => decodeStub(r).copy(
        width = im.width.toLong, height = im.height.toLong)
      case None => decodeStub(r)
    }
  }

  /** Per-partition feature extraction. A real pipeline initializes the
    * codec once per partition (the `it =>` scope) and streams records
    * through it — the shape that keeps GPU/native codec init off the
    * per-record path at 100 TB. */
  def extractFeatures(media: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      // codec init would happen here, once per partition
      it.map(decodeMedia)
    }
  }

  /** STUB resize — stands in for image downscale: a real implementation
    * decodes, scales to `maxBytes`-bounded dimensions and re-encodes; the
    * stub truncates the payload deterministically. Shape (binary in,
    * binary out, per-partition) is the real contract. */
  def resizeStub(media: Dataset[MediaRecord], maxBytes: Int): Dataset[MediaRecord] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map(r => r.copy(content = r.content.take(maxBytes)))
    }
  }

  /** Per-frame fingerprint: the polynomial byte fold over the frame
    * payload (same P as the text hash — oracle-checkable for ASCII
    * payloads). The real-codec analogue is a perceptual hash (pHash) per
    * decoded frame; the fold slots into the same typed seam. */
  def frameFingerprints(frames: Dataset[MediaFrame]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.mapPartitions { it =>
      it.map { f =>
        var acc = 0L
        var i = 0
        while (i < f.frame.length) {
          acc = (acc * 31L + (f.frame(i) & 0xffL)) % P
          i += 1
        }
        (f.media_id, f.frame_idx, acc)
      }
    }.toDF("media_id", "frame_idx", "fh")
  }

  /** Media near-duplicate pairs by shared frame fingerprints — the
    * video-dedup shape (two clips sharing ≥ `minShared` sampled-frame
    * signatures are the same footage): [[frameSample]] →
    * [[frameFingerprints]] → distinct (media, fh) → fingerprint-keyed
    * self-join → per-pair shared count + overlap = shared/min(|A|,|B|).
    * This is the end-to-end multimodal pipeline: typed Dataset seam in,
    * relational dedup out.
    *
    * Scale shape: media never compares all-pairs — only records sharing
    * a frame hash meet, via one 8-byte-key join (the substr_dedup
    * shingle shape). A frame shared by K media costs K² pair rows: cap
    * hot fingerprints first at web scale (the q_minhash_pairs maxBucket
    * convention — boilerplate intros/black frames are the celebrity
    * keys here). */
  def mediaNearDup(media: Dataset[MediaRecord], frameBytes: Int,
                   stride: Int, minShared: Long): DataFrame =
    sharedFingerprintPairs(
      frameFingerprints(frameSample(media, frameBytes, stride)), minShared)

  /** DuckDB oracle for [[mediaNearDup]] over [[mediaFromDocuments]]
    * payloads (ASCII text bytes ≡ chars, like the q_media_features
    * oracle): identical frame slicing, byte fold, and pair tree. */
  def mediaNearDupSql(docsTable: String, frameBytes: Int, stride: Int,
                      minShared: Long): String = {
    val hash = graft.functions.TextFunctions.charHashSql(
      s"substr(text, CAST(fi * $frameBytes + 1 AS BIGINT), $frameBytes)")
    s"WITH m AS (SELECT doc_id AS media_id, text FROM $docsTable), " +
      s"fr AS (SELECT media_id, unnest(range(0, " +
      s"(length(text) + ${frameBytes - 1}) // $frameBytes, $stride)) AS fi, " +
      "text FROM m), " +
      s"fh AS (SELECT DISTINCT media_id, $hash AS h FROM fr), " +
      "cnt AS (SELECT media_id, CAST(count(*) AS BIGINT) AS nf FROM fh GROUP BY media_id), " +
      "p AS (SELECT x.media_id AS a, y.media_id AS b, " +
      "CAST(count(*) AS BIGINT) AS shared FROM fh x " +
      "JOIN fh y ON x.h = y.h AND x.media_id < y.media_id GROUP BY a, b) " +
      "SELECT a, b, shared, round(CAST(shared AS DOUBLE) / " +
      "CAST(least(ca.nf, cb.nf) AS DOUBLE), 6) AS overlap " +
      "FROM p JOIN cnt ca ON p.a = ca.media_id " +
      "JOIN cnt cb ON p.b = cb.media_id " +
      s"WHERE shared >= $minShared"
  }

  /** Rendered-frame geometry for [[mediaFromDocumentsAsVideo]]: 9×8 gray
    * P6 frames (the dHash target size, so the downscale is the identity
    * and the oracle can mirror the hash bit-for-bit), 72 pixels per
    * frame, 11-byte header + 216 raster bytes = 227 bytes per frame. */
  val FrameW = 9
  val FrameH = 8
  val FramePixels: Int = FrameW * FrameH
  val FrameBytes: Int = 11 + FramePixels * 3
  private val FramePad = 46 // '.' — the fill byte past the text's end

  /** Deterministic synthetic VIDEO per document: the text renders into a
    * sequence of 9×8 grayscale P6 frames (char c at global position p
    * becomes gray pixel value c in frame p/72), packed back-to-back into
    * one binary payload — ⌈len/72⌉ frames, 227 bytes each. This is the
    * stand-in for a real demuxed clip that keeps the pipeline
    * oracle-checkable: every byte passes through the REAL P6 encoder
    * here and the REAL decoder in [[dHashFingerprints]], and gray pixels
    * make the ITU luma the identity, so DuckDB can recompute the hash
    * bits from the text directly. */
  def mediaFromDocumentsAsVideo(docs: DataFrame): Dataset[MediaRecord] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)].map {
      case (id, text) =>
        val nFrames = (text.length + FramePixels - 1) / FramePixels
        val out = new Array[Byte](nFrames * FrameBytes)
        var f = 0
        while (f < nFrames) {
          val rgb = new Array[Byte](FramePixels * 3)
          var j = 0
          while (j < FramePixels) {
            val p = f * FramePixels + j
            val c = if (p < text.length) (text.charAt(p) & 0xff) else FramePad
            rgb(j * 3) = c.toByte; rgb(j * 3 + 1) = c.toByte
            rgb(j * 3 + 2) = c.toByte
            j += 1
          }
          val enc = ImageCodec.encodePpm(
            ImageCodec.RawImage(FrameW, FrameH, rgb))
          System.arraycopy(enc, 0, out, f * FrameBytes, FrameBytes)
          f += 1
        }
        MediaRecord(id, "video/ppm-frames", out)
    }
  }

  /** Per-frame PERCEPTUAL fingerprint: each frame payload passes the
    * real P6 decoder and hashes to its 64-bit dHash — the brightness-
    * shift-robust replacement for the byte fold (which two re-encodes of
    * the same footage would never collide under). */
  def dHashFingerprints(frames: Dataset[MediaFrame]): DataFrame = {
    val spark = frames.sparkSession
    import spark.implicits._
    frames.mapPartitions { it =>
      it.map { f =>
        val img = ImageCodec.decodePpm(f.frame).getOrElse(
          throw new IllegalArgumentException(
            s"frame ${f.media_id}/${f.frame_idx} is not a P6 payload"))
        (f.media_id, f.frame_idx, ImageCodec.dHash64(img))
      }
    }.toDF("media_id", "frame_idx", "fh")
  }

  /** Shared-fingerprint pair join (the tail both dedup variants share):
    * distinct (media, fh) → fh-keyed self-join → per-pair shared count ≥
    * `minShared` + overlap = shared/min(|A|,|B|). */
  private def sharedFingerprintPairs(fh0: DataFrame, minShared: Long): DataFrame = PB.scoped {
    val fh = fh0.select(col("media_id"), col("fh")).distinct()
      .transform(PB.localCheckpoint)
    val cnt = fh.groupBy(col("media_id")).agg(count(lit(1)).as("nf"))
    val pairs = fh.as("x")
      .join(fh.as("y"), col("x.fh") === col("y.fh") &&
        col("x.media_id") < col("y.media_id"))
      .groupBy(col("x.media_id").as("a"), col("y.media_id").as("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
    pairs
      .join(cnt.withColumnRenamed("media_id", "a").withColumnRenamed("nf", "nfa"), Seq("a"))
      .join(cnt.withColumnRenamed("media_id", "b").withColumnRenamed("nf", "nfb"), Seq("b"))
      .select(col("a"), col("b"), col("shared"),
        round(col("shared").cast("double") /
          least(col("nfa"), col("nfb")).cast("double"), 6).as("overlap"))
  }

  /** Media near-duplicate pairs by shared per-frame dHash — the
    * [[mediaNearDup]] pipeline with the REAL codec in the loop: demux
    * ([[frameSample]] on the 227-byte frame boundary) → P6 decode →
    * dHash64 → fingerprint-keyed join. Same scale shape (only media
    * sharing a hash ever meet; cap hot fingerprints at web scale — black
    * frames are the celebrity keys). */
  def mediaDHashDup(media: Dataset[MediaRecord], stride: Int,
                    minShared: Long): DataFrame =
    sharedFingerprintPairs(
      dHashFingerprints(frameSample(media, FrameBytes, stride)), minShared)

  /** DuckDB oracle for [[mediaDHashDup]] over [[mediaFromDocumentsAsVideo]]
    * payloads: the render is gray (luma = char code exactly) and the
    * frame is already 9×8 (downscale = identity), so the 64 dHash
    * comparison bits recompute STRAIGHT from the text — each frame's
    * fingerprint is the 64-char bit string, an injective image of the
    * engine's 64-bit long, inducing the identical equality relation for
    * the join. */
  def mediaDHashDupSql(docsTable: String, stride: Int,
                       minShared: Long): String = {
    val px = FramePixels
    // 1-based gray list index of dHash cell (k/8 row, k%8 col) and its
    // right neighbor, k in 0..63
    val i1 = s"(k // 8) * $FrameW + (k % 8) + 1"
    val i2 = s"(k // 8) * $FrameW + (k % 8) + 2"
    s"WITH m AS (SELECT doc_id AS media_id, text FROM $docsTable), " +
      s"fr AS (SELECT media_id, unnest(range(0, " +
      s"(length(text) + ${px - 1}) // $px, $stride)) AS fi, text FROM m), " +
      s"g AS (SELECT media_id, fi, list_transform(range(0, $px), j -> " +
      s"CASE WHEN fi * $px + j < length(text) " +
      s"THEN ascii(substr(text, CAST(fi * $px + j + 1 AS BIGINT), 1)) " +
      s"ELSE $FramePad END) AS gp FROM fr), " +
      "fh AS (SELECT DISTINCT media_id, array_to_string(" +
      s"list_transform(range(0, 64), k -> CASE WHEN gp[$i1] > gp[$i2] " +
      "THEN '1' ELSE '0' END), '') AS h FROM g), " +
      "cnt AS (SELECT media_id, CAST(count(*) AS BIGINT) AS nf FROM fh GROUP BY media_id), " +
      "p AS (SELECT x.media_id AS a, y.media_id AS b, " +
      "CAST(count(*) AS BIGINT) AS shared FROM fh x " +
      "JOIN fh y ON x.h = y.h AND x.media_id < y.media_id GROUP BY a, b) " +
      "SELECT a, b, shared, round(CAST(shared AS DOUBLE) / " +
      "CAST(least(ca.nf, cb.nf) AS DOUBLE), 6) AS overlap " +
      "FROM p JOIN cnt ca ON p.a = ca.media_id " +
      "JOIN cnt cb ON p.b = cb.media_id " +
      s"WHERE shared >= $minShared"
  }

  /** Typed audio features off the REAL [[AudioCodec]] WAV decode — the
    * audio half of the seam, upgraded from the byte-fold stub the same
    * way images were in round 9: container parse (RIFF walk, fmt/bounds
    * validation), integer stats, and the volume-invariant 64-bit
    * energy-contour fingerprint. `fingerprint` is null for clips too
    * short to carry a contour (< 65 frames). */
  final case class AudioFeatures(media_id: Long, sample_rate: Long,
                                 channels: Long, n_frames: Long,
                                 duration_us: Long, zero_cross: Long,
                                 mean_abs_milli: Long,
                                 fingerprint: Option[Long])

  /** Decode every `audio/wav` record to its typed feature row —
    * per-partition map (codec init amortized, the extractFeatures
    * shape). Records that fail the container parse DROP here; callers
    * wanting the corrupt bill anti-join the output against the input
    * (the ingest corrupt-granule convention). */
  def audioFeatures(media: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.filter(_.kind == "audio/wav").flatMap { r =>
        AudioCodec.decodeWav(r.content).map { a =>
          val st = AudioCodec.stats(a)
          AudioFeatures(r.media_id, a.sampleRate.toLong, a.channels.toLong,
            st.nFrames, st.durationUs, st.zeroCross, st.meanAbsMilli,
            AudioCodec.energyFingerprint(a))
        }
      }
    }
  }

  /** Audio near-duplicate pairs by energy-contour fingerprint within
    * Hamming `maxHamming`: 4 x 16-bit bands key the candidate join (a
    * pair within Hamming <= 3 MUST agree exactly on >= 1 band —
    * pigeonhole, the simhashHamming stance), bit_count verifies
    * exactly. Volume-scaled re-encodes collide at Hamming 0 by
    * construction of the fingerprint. */
  def audioHammingDup(feats: Dataset[AudioFeatures],
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 16,
      "4x16 banding is lossless only for maxHamming <= 3; <= 16 allowed " +
        "with recall caveat documented by the caller")
    val spark = feats.sparkSession
    import spark.implicits._
    val fp = feats.filter(_.fingerprint.isDefined)
      .map(f => (f.media_id, f.fingerprint.get)).toDF("media_id", "fp")
    val banded = fp.select(col("media_id"), col("fp"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band"),
            // in-place 16-bit band mask (shift precomputed in Scala —
            // 0xFFFF << 48 wraps to the high-band bit pattern, which is
            // exactly the mask we want; a lit multiply would overflow)
            col("fp").bitwiseAND(lit(0xFFFFL << (16 * b)))
              .as("bkey"))): _*)).as("bb"))
      .select(col("media_id"), col("fp"), col("bb.band"), col("bb.bkey"))
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.media_id") < col("y.media_id"))
      .select(col("x.media_id").as("a"), col("y.media_id").as("b"),
        bit_count(col("x.fp").bitwiseXOR(col("y.fp"))).cast("long")
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** One sampled frame (offset + payload slice) from a media record. */
  final case class MediaFrame(media_id: Long, frame_idx: Long, offset: Long,
                              frame: Array[Byte])

  /** STUB frame sampling — stands in for video frame extraction: emits
    * every record's payload cut into `frameBytes` slices, keeping one
    * slice per `stride`. One input record explodes to many typed frame
    * rows — the 1:N batch shape a real demuxer produces. */
  def frameSample(media: Dataset[MediaRecord], frameBytes: Int,
                  stride: Int): Dataset[MediaFrame] = {
    require(frameBytes > 0 && stride > 0)
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        val nFrames = (r.content.length + frameBytes - 1) / frameBytes
        (0 until nFrames by stride).iterator.map { i =>
          val off = i * frameBytes
          MediaFrame(r.media_id, i.toLong, off.toLong,
            r.content.slice(off, math.min(off + frameBytes, r.content.length)))
        }
      }
    }
  }
}
