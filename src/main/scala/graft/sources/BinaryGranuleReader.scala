package graft.sources

import java.io.{BufferedInputStream, DataInputStream, EOFException}

/** Second [[Ingest.GranuleReader]] implementation: a self-defined BINARY
  * beam-group container ("GRFB" v1) that mirrors HDF5's physical shape —
  * a magic-tagged file of named groups, each holding named, typed,
  * length-prefixed datasets — where the fixture reader is line-oriented
  * text. Two structurally different formats satisfying one contract is
  * the honest offline maximum for the HDF5 seam (ref extract.py:239-339
  * walks h5py beam groups × layer maps): it proves the `GranuleReader`
  * interface carries everything a real reader needs, and that NOTHING
  * downstream of the seam depends on the container format.
  *
  * Layout (big-endian, java.io.Data{Input,Output}Stream):
  * {{{
  * magic "GRFB" (4 bytes) | version int = 1 | nBeams int
  * per beam:  beamName UTF | nShots int | nLayers int
  *   per layer: layerName UTF | kind byte (0 long, 1 double, 2 vector)
  *     long:   nShots longs
  *     double: nShots doubles
  *     vector: per shot — nBins int, then nBins doubles
  * }}}
  *
  * Layer kinds in the file must agree with [[Ingest.layerKind]] (as a
  * real HDF5 reader's dataset dtypes do); a mismatch, bad magic, short
  * read or missing requested layer all throw, which is exactly what
  * `ingestPaths`' corrupt-granule counter needs.
  *
  * Only requested layers of requested beams are decoded; every other
  * dataset, and every unrequested bin of a projected vector layer, is
  * stepped over with `skipBytes`. Skipping keeps the checks that apply
  * to skipped bytes: the beam, shot, layer and bin-count plausibility
  * bounds, the kind byte, and truncation (a short skip throws like a
  * short read). */
final class BinaryGranuleReader extends Ingest.GranuleReader {

  private def localPath(path: String): java.nio.file.Path =
    if (path.startsWith("file:"))
      java.nio.file.Paths.get(new java.net.URI(path).getPath)
    else java.nio.file.Paths.get(path)

  /** Step over `n` bytes; a skip that falls short of `n` is a truncated
    * file (DataInputStream.skipBytes itself never throws at EOF). */
  private def skip(in: DataInputStream, n: Long): Unit = {
    var left = n
    while (left > 0) {
      val k = in.skipBytes(math.min(left, Int.MaxValue).toInt)
      if (k <= 0) throw new EOFException
      left -= k
    }
  }

  override def read(path: String, beams: Seq[String], layers: Seq[String],
                    bins: Map[String, Seq[Int]]): Seq[Ingest.BeamLayers] = {
    val wanted = layers.toSet
    val sel = Ingest.checkedBins(bins)
    val in = new DataInputStream(new BufferedInputStream(
      java.nio.file.Files.newInputStream(localPath(path))))
    try {
      val magic = new Array[Byte](4)
      in.readFully(magic)
      require(new String(magic, "US-ASCII") == "GRFB",
        s"$path: not a GRFB granule")
      val version = in.readInt()
      require(version == 1, s"$path: unsupported GRFB version $version")
      val nBeams = in.readInt()
      require(nBeams >= 0 && nBeams < 1024, s"$path: implausible beam count")
      val out = Seq.newBuilder[Ingest.BeamLayers]
      var b = 0
      while (b < nBeams) {
        val beam = in.readUTF()
        val n = in.readInt()
        val nLayers = in.readInt()
        // Plausibility bound on the shot count (ADVICE r9): like the beam
        // (1024) and vector-bin (65536) caps, this turns one corrupt 4-byte
        // field into a catchable IllegalArgumentException instead of a
        // 16 GB Array.fill pre-allocation that OOMs past ingestPaths'
        // corrupt-granule counter. Real GEDI granules carry <10^6 shots
        // per beam; 1<<26 leaves two orders of headroom.
        require(n >= 0 && n <= (1 << 26), s"$path $beam: implausible shot count $n")
        require(nLayers >= 0 && nLayers <= 4096, s"$path $beam: implausible layer count $nLayers")
        var longs = Map.empty[String, Array[Long]]
        var doubles = Map.empty[String, Array[Double]]
        var vectors = Map.empty[String, Array[Array[Double]]]
        val keepBeam = beams.contains(beam)
        var present = Set.empty[String]
        var l = 0
        while (l < nLayers) {
          val layer = in.readUTF()
          val kind = in.readByte()
          val keep = keepBeam && wanted(layer)
          kind match {
            case 0 | 1 if !keep => skip(in, 8L * n)
            case 0 => longs += layer -> Array.fill(n)(in.readLong())
            case 1 => doubles += layer -> Array.fill(n)(in.readDouble())
            case 2 =>
              val pick = if (keep) sel.getOrElse(layer, null) else null
              val rows = new Array[Array[Double]](if (keep) n else 0)
              var shot = 0
              while (shot < n) {
                val nBins = in.readInt()
                require(nBins >= 0 && nBins < 65536, s"$path $beam/$layer: bad bins")
                if (!keep) skip(in, 8L * nBins)
                else if (pick == null) rows(shot) = Array.fill(nBins)(in.readDouble())
                else {
                  pick.find(_ >= nBins).foreach { bin =>
                    throw Ingest.missingBin(path, beam, layer, shot, nBins, bin)
                  }
                  var at = 0
                  rows(shot) = pick.map { bin =>
                    skip(in, 8L * (bin - at)); at = bin + 1; in.readDouble()
                  }
                  skip(in, 8L * (nBins - at))
                }
                shot += 1
              }
              if (keep) vectors += layer -> rows
            case k => throw new IllegalArgumentException(
              s"$path $beam/$layer: unknown kind byte $k")
          }
          if (keep) present += layer
          l += 1
        }
        if (keepBeam) {
          val missing = wanted -- present
          require(missing.isEmpty, s"$path $beam: missing layers $missing")
          out += Ingest.BeamLayers(beam, n, longs, doubles, vectors)
        }
        b += 1
      }
      out.result()
    } catch {
      case _: EOFException =>
        throw new IllegalArgumentException(s"$path: truncated GRFB granule")
    } finally in.close()
  }
}

/** Writer for the GRFB v1 container (spec fixtures + offline granule
  * preparation). Layer kinds follow [[Ingest.layerKind]]. */
object BinaryGranuleWriter {
  def write(path: java.nio.file.Path,
            beams: Seq[(String, Map[String, Array[Long]],
              Map[String, Array[Double]], Map[String, Array[Array[Double]]])]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(path)))
    try {
      out.write("GRFB".getBytes("US-ASCII"))
      out.writeInt(1)
      out.writeInt(beams.size)
      beams.foreach { case (beam, longs, doubles, vectors) =>
        val n = (longs.values.map(_.length) ++ doubles.values.map(_.length) ++
          vectors.values.map(_.length)).headOption.getOrElse(0)
        out.writeUTF(beam)
        out.writeInt(n)
        out.writeInt(longs.size + doubles.size + vectors.size)
        longs.foreach { case (layer, vs) =>
          out.writeUTF(layer); out.writeByte(0); vs.foreach(out.writeLong)
        }
        doubles.foreach { case (layer, vs) =>
          out.writeUTF(layer); out.writeByte(1); vs.foreach(out.writeDouble)
        }
        vectors.foreach { case (layer, rows) =>
          out.writeUTF(layer); out.writeByte(2)
          rows.foreach { r => out.writeInt(r.length); r.foreach(out.writeDouble) }
        }
      }
    } finally out.close()
  }
}
