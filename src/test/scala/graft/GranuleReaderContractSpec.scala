package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{BinaryGranuleReader, BinaryGranuleWriter, FixtureGranuleReader, Ingest}

/** The [[Ingest.GranuleReader]] CONFORMANCE CONTRACT, extracted from the
  * fixture reader's implicit behavior into trait-level obligations any
  * real reader (e.g. a jHDF-backed HDF5 one, once a jar is available)
  * must satisfy before swapping in. The obligations mirror the
  * reference's granule-open semantics:
  *
  *  - beam SELECTION: return exactly the requested beams present in the
  *    file; beams absent from the file are silently skipped (ref
  *    extract.py:272-275 logs and continues); beams present but not
  *    requested are not returned.
  *  - layer TYPING: values land in the map that [[Ingest.layerKind]]
  *    assigns (shot_number, *_flag, num_detectedmodes → longs, `rh` →
  *    per-shot vectors, all else → doubles), every array exactly `n`
  *    long — [[Ingest.BeamLayers]] enforces the lengths, the reader must
  *    honor the kinds.
  *  - missing LAYER: an error (throw), never a silent hole — a granule
  *    without a requested dataset is malformed input (ref
  *    extract.py:148-160 error path counts it).
  *  - corrupt FILE: throw, so `ingestPaths` can count + skip it
  *    (ancillary.py:121-141's error_tracker semantics).
  *  - VALUE fidelity: longs and doubles round-trip exactly; '/'-bearing
  *    layer paths (L2B `geolocation/...`) are legal layer names.
  *  - bin PROJECTION: a vector layer read with a bin selection equals the
  *    full read sliced to those bins; a shot lacking a selected bin is an
  *    error naming path, beam, layer and shot.
  *
  * Parameterized: subclasses provide the reader plus a way to
  * materialize well-formed and corrupt granules in the reader's own
  * on-disk format. [[FixtureReaderContract]] instantiates it for the
  * shipped fixture reader; an HDF5 reader gets conformance by adding one
  * subclass that writes .h5 files. */
abstract class GranuleReaderContractSpec extends AnyFunSuite {

  /** Display name for test labels. */
  def readerName: String
  def newReader(): Ingest.GranuleReader

  /** Neutral granule content model: beam -> (layer -> per-shot values);
    * vector layers ([[Ingest.layerKind]] == VectorKind) carry one
    * Seq[Double] per shot, scalar layers one Double per shot (integral
    * kinds must land as exact longs). */
  final case class BeamContent(beam: String,
                               scalars: Map[String, Seq[Double]],
                               vectors: Map[String, Seq[Seq[Double]]])

  /** Write a well-formed granule holding `beams` at `path` in the
    * reader's on-disk format. */
  def writeGranule(path: Path, beams: Seq[BeamContent]): Unit

  /** Write a file the reader must REJECT (structurally corrupt for the
    * format — truncated, wrong magic, bad record). */
  def writeCorrupt(path: Path): Unit

  private def tmp(name: String): Path = {
    val d = Files.createTempDirectory("graft_reader_contract")
    d.resolve(name)
  }

  private val twoBeams = Seq(
    BeamContent("BEAM0101",
      scalars = Map(
        "shot_number" -> Seq(1001.0, 1002.0, 1003.0),
        "lat_lowestmode" -> Seq(10.5, 11.5, 12.5),
        "quality_flag" -> Seq(1.0, 0.0, 1.0)),
      vectors = Map("rh" -> Seq(Seq(0.1, 0.2), Seq(0.3, 0.4), Seq(0.5, 0.6)))),
    BeamContent("BEAM1011",
      scalars = Map(
        "shot_number" -> Seq(2001.0),
        "lat_lowestmode" -> Seq(20.5),
        "quality_flag" -> Seq(1.0)),
      vectors = Map("rh" -> Seq(Seq(0.7, 0.8)))))
  private val allLayers = Seq("shot_number", "lat_lowestmode", "quality_flag", "rh")

  test(s"$readerName: returns exactly the requested beams present in the file") {
    val p = tmp("g1.h5"); writeGranule(p, twoBeams)
    val r = newReader()
    // request one present + one absent: the present one comes back, the
    // absent one is silently skipped, the unrequested one is not returned
    val got = r.read(p.toString, Seq("BEAM0101", "BEAM0110"), allLayers)
    assert(got.map(_.beam) === Seq("BEAM0101"))
    val both = r.read(p.toString, Seq("BEAM0101", "BEAM1011"), allLayers)
    assert(both.map(_.beam).toSet === Set("BEAM0101", "BEAM1011"))
  }

  test(s"$readerName: layer values land typed per Ingest.layerKind, arrays length n") {
    val p = tmp("g2.h5"); writeGranule(p, twoBeams)
    val bl = newReader().read(p.toString, Seq("BEAM0101"), allLayers).head
    assert(bl.n === 3)
    // integral kind -> longs map, exact
    assert(bl.longs("shot_number").toSeq === Seq(1001L, 1002L, 1003L))
    assert(bl.longs("quality_flag").toSeq === Seq(1L, 0L, 1L))
    // floating kind -> doubles map, exact round-trip
    assert(bl.doubles("lat_lowestmode").toSeq === Seq(10.5, 11.5, 12.5))
    // vector kind -> vectors map, one profile per shot
    assert(bl.vectors("rh").map(_.toSeq).toSeq ===
      Seq(Seq(0.1, 0.2), Seq(0.3, 0.4), Seq(0.5, 0.6)))
    // nothing leaks into the wrong map
    assert(!bl.doubles.contains("shot_number") && !bl.longs.contains("lat_lowestmode"))
  }

  test(s"$readerName: '/'-bearing layer paths (L2B geolocation/...) are legal") {
    val p = tmp("g3.h5")
    writeGranule(p, Seq(BeamContent("BEAM0101",
      scalars = Map(
        "shot_number" -> Seq(1.0),
        "geolocation/lat_lowestmode" -> Seq(42.5)),
      vectors = Map.empty)))
    val bl = newReader()
      .read(p.toString, Seq("BEAM0101"), Seq("shot_number", "geolocation/lat_lowestmode"))
      .head
    assert(bl.doubles("geolocation/lat_lowestmode").toSeq === Seq(42.5))
  }

  test(s"$readerName: a requested layer missing from the granule is an error") {
    val p = tmp("g4.h5"); writeGranule(p, twoBeams)
    intercept[Throwable] {
      newReader().read(p.toString, Seq("BEAM0101"), allLayers :+ "sensitivity")
    }
  }

  test(s"$readerName: a corrupt file throws (so ingest can count and skip it)") {
    val p = tmp("g5.h5"); writeCorrupt(p)
    intercept[Throwable] {
      newReader().read(p.toString, Seq("BEAM0101"), allLayers)
    }
  }

  private val profiles = Seq(BeamContent("BEAM0101",
    scalars = Map("shot_number" -> Seq(1.0, 2.0, 3.0)),
    vectors = Map("rh" -> Seq(
      Seq(0.0, 1.25, 2.5, 3.75, 5.0),
      Seq(-1.5, 0.5, 2.5, 4.5, 6.5),
      Seq(10.0, 20.0, 30.0, 40.0, 50.0)))))

  test(s"$readerName: a bin-projected read equals the full read, sliced") {
    val p = tmp("g7.h5"); writeGranule(p, profiles)
    val layers = Seq("shot_number", "rh")
    val full = newReader().read(p.toString, Seq("BEAM0101"), layers).head
    for (pick <- Seq(Seq(3), Seq(0, 4), Seq(1, 2, 3), Seq(0, 1, 2, 3, 4))) {
      val got = newReader().read(p.toString, Seq("BEAM0101"), layers,
        Map("rh" -> pick)).head
      assert(got.n === full.n)
      assert(got.longs("shot_number").toSeq === full.longs("shot_number").toSeq)
      assert(got.vectors("rh").map(_.toSeq).toSeq ===
        full.vectors("rh").map(v => pick.map(v(_))).toSeq, s"bins $pick")
    }
  }

  test(s"$readerName: a shot missing a requested bin is a named error") {
    val p = tmp("g8.h5")
    writeGranule(p, Seq(BeamContent("BEAM0101",
      scalars = Map("shot_number" -> Seq(1.0, 2.0)),
      vectors = Map("rh" -> Seq(Seq(0.5, 1.5, 2.5), Seq(0.5, 1.5))))))
    val e = intercept[IllegalArgumentException] {
      newReader().read(p.toString, Seq("BEAM0101"), Seq("shot_number", "rh"),
        Map("rh" -> Seq(0, 2)))
    }
    Seq(p.toString, "BEAM0101", "rh", "shot 1", "bin 2").foreach { part =>
      assert(e.getMessage.contains(part), e.getMessage)
    }
    // the bins every shot has still read fine
    val ok = newReader().read(p.toString, Seq("BEAM0101"), Seq("shot_number", "rh"),
      Map("rh" -> Seq(1))).head
    assert(ok.vectors("rh").map(_.toSeq).toSeq === Seq(Seq(1.5), Seq(1.5)))
  }

  test(s"$readerName: the reader is serializable (ships inside executor tasks)") {
    val out = new java.io.ObjectOutputStream(new java.io.ByteArrayOutputStream())
    out.writeObject(newReader()) // throws NotSerializableException on violation
    out.close()
  }
}

/** The shipped fixture reader passes its own contract. */
class FixtureReaderContract extends GranuleReaderContractSpec {
  override def readerName: String = "FixtureGranuleReader"
  override def newReader(): Ingest.GranuleReader = new FixtureGranuleReader

  override def writeGranule(path: Path, beams: Seq[BeamContent]): Unit = {
    val sb = new StringBuilder("# graft fixture granule v1\n")
    beams.foreach { bc =>
      bc.scalars.foreach { case (layer, vals) =>
        val toks = Ingest.layerKind(layer) match {
          case Ingest.LongKind => vals.map(_.toLong.toString)
          case _ => vals.map(_.toString)
        }
        sb.append(bc.beam).append(' ').append(layer).append(' ')
          .append(toks.mkString(" ")).append('\n')
      }
      bc.vectors.foreach { case (layer, rows) =>
        sb.append(bc.beam).append(' ').append(layer).append(' ')
          .append(rows.map(_.mkString(",")).mkString(" ")).append('\n')
      }
    }
    Files.writeString(path, sb.toString)
  }

  override def writeCorrupt(path: Path): Unit =
    // a bare beam token with no layer name violates the fixture grammar
    Files.writeString(path, "# graft fixture granule v1\nBEAM0101\n")

  private def granule(lines: String*): Path = {
    val p = Files.createTempDirectory("graft_reader_contract").resolve("t.h5")
    Files.writeString(p, lines.mkString("# graft fixture granule v1\n", "\n", "\n"))
    p
  }

  test("FixtureGranuleReader: a malformed token in an unrequested bin still throws") {
    val p = granule("BEAM0101 shot_number 1 2", "BEAM0101 rh 0.5,1.5,2.5 0.5,3.x,2.5")
    intercept[NumberFormatException] {
      newReader().read(p.toString, Seq("BEAM0101"), Seq("shot_number", "rh"),
        Map("rh" -> Seq(0, 2)))
    }
    // ...and an empty inner bin, as split(",") + toDouble rejects it
    val q = granule("BEAM0101 shot_number 1", "BEAM0101 rh 0.5,,2.5")
    intercept[NumberFormatException] {
      newReader().read(q.toString, Seq("BEAM0101"), Seq("shot_number", "rh"),
        Map("rh" -> Seq(0)))
    }
  }

  test("FixtureGranuleReader: exponent, NaN and trailing-comma bins parse as toDouble does") {
    val p = granule("BEAM0101 shot_number 1 2",
      "BEAM0101 rh 1.0E-4,NaN,-0.5,+2 7.,.25,-Infinity,3,,")
    val want = Seq("1.0E-4,NaN,-0.5,+2", "7.,.25,-Infinity,3,,")
      .map(_.split(",").map(_.toDouble).toSeq)
    val full = newReader().read(p.toString, Seq("BEAM0101"), Seq("shot_number", "rh")).head
    assert(full.vectors("rh").map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)).toSeq ===
      want.map(_.map(java.lang.Double.doubleToRawLongBits)))
    val picked = newReader().read(p.toString, Seq("BEAM0101"), Seq("shot_number", "rh"),
      Map("rh" -> Seq(0, 1))).head
    assert(picked.vectors("rh")(0)(0) === 1.0e-4 && picked.vectors("rh")(0)(1).isNaN)
    assert(picked.vectors("rh")(1).toSeq === Seq(7.0, 0.25))
  }

  test("FixtureGranuleReader: scalar and bin values are bit-identical to toLong / toDouble") {
    val rng = new scala.util.Random(7)
    def digits(n: Int) = (1 to n).map(_ => ('0' + rng.nextInt(10)).toChar).mkString
    val doubles = (0 until 4000).map { _ =>
      val sign = Seq("", "-", "+")(rng.nextInt(3))
      val int = digits(1 + rng.nextInt(10))
      val frac = rng.nextInt(12)
      sign + int + (if (frac > 0) "." + digits(frac) else "")
    } ++ Seq("0", "-0", "-0.0", "9007199254740993", "123456789012345678.5",
      "0.1", "0.30000000000000004", "1.7976931348623157", "4.9E-324", "1e22",
      "1234567890123456789", "12345678901234567890", "5.", ".5", "-.5")
    val longs = (0 until 1000).map(_ => (if (rng.nextBoolean()) "-" else "") +
      digits(1 + rng.nextInt(18))) ++
      Seq("9223372036854775807", "-9223372036854775808", "+12", "007")
    val n = doubles.size
    val p = granule(
      s"BEAM0101 shot_number ${longs.padTo(n, "1").mkString(" ")}",
      s"BEAM0101 lat_lowestmode ${doubles.mkString(" ")}",
      s"BEAM0101 rh ${doubles.map(d => s"$d,$d").mkString(" ")}")
    val bl = newReader().read(p.toString, Seq("BEAM0101"),
      Seq("shot_number", "lat_lowestmode", "rh"), Map("rh" -> Seq(1))).head
    val bits = doubles.map(d => java.lang.Double.doubleToRawLongBits(d.toDouble))
    assert(bl.longs("shot_number").toSeq === longs.padTo(n, "1").map(_.toLong))
    assert(bl.doubles("lat_lowestmode").map(java.lang.Double.doubleToRawLongBits).toSeq === bits)
    assert(bl.vectors("rh").map(v => java.lang.Double.doubleToRawLongBits(v(0))).toSeq === bits)
  }
}

/** Round-9 (VERDICT r8 #5): a SECOND, structurally different reader —
  * binary length-prefixed beam groups (the HDF5 physical shape) vs the
  * fixture's line-oriented text — satisfies the identical contract,
  * proving the seam itself carries everything a real HDF5 reader needs. */
class BinaryReaderContract extends GranuleReaderContractSpec {
  override def readerName: String = "BinaryGranuleReader"
  override def newReader(): Ingest.GranuleReader = new BinaryGranuleReader

  override def writeGranule(path: Path, beams: Seq[BeamContent]): Unit =
    BinaryGranuleWriter.write(path, beams.map { bc =>
      var longs = Map.empty[String, Array[Long]]
      var doubles = Map.empty[String, Array[Double]]
      bc.scalars.foreach { case (layer, vals) =>
        Ingest.layerKind(layer) match {
          case Ingest.LongKind => longs += layer -> vals.map(_.toLong).toArray
          case _ => doubles += layer -> vals.toArray
        }
      }
      val vectors = bc.vectors.map { case (layer, rows) =>
        layer -> rows.map(_.toArray).toArray
      }
      (bc.beam, longs, doubles, vectors)
    })

  override def writeCorrupt(path: Path): Unit =
    // right length for a header, wrong magic
    Files.write(path, "NOPE   ".getBytes("US-ASCII"))

  test("BinaryGranuleReader: an implausible shot count throws, not OOMs (ADVICE r9)") {
    // Valid GRFB header + beam record whose nShots field claims 2^30 shots:
    // Array.fill(n) would pre-allocate gigabytes from one corrupt 4-byte
    // field; the plausibility cap must turn it into the catchable
    // IllegalArgumentException that ingestPaths' corrupt counter expects.
    val d = Files.createTempDirectory("graft_reader_contract")
    val p = d.resolve("big.h5")
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeBytes("GRFB"); out.writeInt(1)     // magic + version
    out.writeInt(1)                              // nBeams
    out.writeUTF("BEAM0101")
    out.writeInt(1 << 30)                        // implausible nShots
    out.writeInt(1)                              // nLayers
    out.writeUTF("shot_number"); out.writeByte(0)
    out.flush()
    Files.write(p, bos.toByteArray)
    val e = intercept[IllegalArgumentException] {
      new BinaryGranuleReader().read(p.toString, Seq("BEAM0101"), Seq("shot_number"))
    }
    assert(e.getMessage.contains("implausible shot count"))
  }
}

/** Truncation inside skipped bytes is still a truncated granule. */
class BinaryReaderSkipSpec extends AnyFunSuite {
  test("BinaryGranuleReader: a granule truncated inside skipped bins or layers throws") {
    val d = Files.createTempDirectory("graft_reader_contract")
    val p = d.resolve("t.h5")
    BinaryGranuleWriter.write(p, Seq(("BEAM0101",
      Map("shot_number" -> Array(1L, 2L)), Map("elev_lowestmode" -> Array(1.5, 2.5)),
      Map("rh" -> Array(Array(0.0, 1.0, 2.0, 3.0), Array(0.5, 1.5, 2.5, 3.5))))))
    val bytes = Files.readAllBytes(p)
    // cut the last 8 bytes, shot 1's rh bin 3: a bin the pick (0) skips
    // when rh is requested, and part of a skipped layer when it is not
    Files.write(p, bytes.dropRight(8))
    for (layers <- Seq(Seq("shot_number", "rh"), Seq("shot_number"))) {
      val e = intercept[IllegalArgumentException] {
        new BinaryGranuleReader().read(p.toString, Seq("BEAM0101"), layers, Map("rh" -> Seq(0)))
      }
      assert(e.getMessage.contains("truncated"), e.getMessage)
    }
  }
}

/** The seam-equivalence proof: the SAME logical granule written in both
  * formats lands the IDENTICAL shots frame through `ingestPaths` — the
  * reader swap point changes bytes on disk and nothing else. */
class ReaderEquivalenceSpec extends SparkSpec {

  test("fixture and binary readers land identical shot frames (r9)") {
    val dir = Files.createTempDirectory("graft_reader_equiv")
    // the granule id carries a parseable date (acq_time stamping)
    val gid = "GEDI02_A_2020152030000_O08000_01_T00000_02_003_01_V002"
    val textPath = dir.resolve(s"$gid.txt")
    val binPath = dir.resolve(s"$gid.bin")
    Files.writeString(textPath,
      "# graft fixture granule v1\n" +
        "BEAM0101 shot_number 81010000300000001 81010000300000002\n" +
        "BEAM0101 lat_lowestmode 10.5 11.5\n" +
        "BEAM0101 lon_lowestmode 30.25 31.25\n" +
        "BEAM0101 rh 0.0,1.5,2.5 0.5,1.0,4.0\n" +
        "BEAM1011 shot_number 81110000300000009\n" +
        "BEAM1011 lat_lowestmode 20.5\n" +
        "BEAM1011 lon_lowestmode 40.125\n" +
        "BEAM1011 rh 7.0,8.0,9.0\n")
    BinaryGranuleWriter.write(binPath, Seq(
      ("BEAM0101",
        Map("shot_number" -> Array(81010000300000001L, 81010000300000002L)),
        Map("lat_lowestmode" -> Array(10.5, 11.5),
          "lon_lowestmode" -> Array(30.25, 31.25)),
        Map("rh" -> Array(Array(0.0, 1.5, 2.5), Array(0.5, 1.0, 4.0)))),
      ("BEAM1011",
        Map("shot_number" -> Array(81110000300000009L)),
        Map("lat_lowestmode" -> Array(20.5), "lon_lowestmode" -> Array(40.125)),
        Map("rh" -> Array(Array(7.0, 8.0, 9.0))))))
    val beams = Seq("BEAM0101", "BEAM1011")
    val vars = Seq(
      "shot" -> "shot_number", "lat" -> "lat_lowestmode",
      "lon" -> "lon_lowestmode", "rh98" -> "rh2")
    def land(path: Path, reader: Ingest.GranuleReader) = {
      val (df, errs) = Ingest.ingestPaths(spark, Seq(path.toString -> Files.size(path)),
        "L2A", beams, vars, reader)
      val rows = df.orderBy("beam", "shot").collect().toSeq
      assert(errs.value == 0L, s"unexpected ingest errors via $reader")
      rows
    }
    val viaText = land(textPath, new FixtureGranuleReader)
    val viaBin = land(binPath, new BinaryGranuleReader)
    assert(viaText.nonEmpty, "equivalence test landed no shots")
    assert(viaText == viaBin,
      s"readers disagree:\n text: $viaText\n bin:  $viaBin")
  }
}
