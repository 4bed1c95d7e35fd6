package graft

import java.io.IOException
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{ChecksumException, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sources.{NioLocalFileSystem, NioRawLocalFileSystem}

/** graft's `file:` filesystem writes what Hadoop's stock local filesystem
  * writes — names, permission bits, `.crc` sidecars — without its `chmod`
  * process per created file and directory. */
class LocalFileSystemSpec extends SparkSpec {

  private def tmp(): JPath = Files.createTempDirectory("graft_lfs")

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Every path under `root` (itself included) with its mode bits; the
    * per-write uuid in part-file names is dropped. */
  private def modes(root: JPath): Map[String, Int] = {
    val s = Files.walk(root)
    try s.iterator.asScala.map { p =>
      root.relativize(p).toString.replaceAll("part-(\\d+)-[0-9a-f-]{36}", "part-$1") -> mode(p)
    }.toMap
    finally s.close()
  }

  /** A `partitionBy` parquet write through a fresh instance of `fs`,
    * under the given Hadoop umask. */
  private def written(dir: JPath, fs: Class[_ <: FileSystem], umask: String): Map[String, Int] = {
    import spark.implicits._
    (1 to 300).map(i => (i.toLong, s"a${i % 3}", i * 0.5)).toDF("id", "aoi", "v")
      .write
      .option("fs.file.impl", fs.getName)
      .option("fs.file.impl.disable.cache", "true")
      .option("fs.permissions.umask-mode", umask)
      .partitionBy("aoi").parquet(dir.toString)
    modes(dir)
  }

  test("the shared session resolves file: to graft's filesystem") {
    val fs = FileSystem.get(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass === classOf[NioLocalFileSystem])
    assert(FileSystem.getLocal(spark.sparkContext.hadoopConfiguration).getClass ===
      classOf[NioLocalFileSystem])
  }

  test("a partitionBy write leaves the stock permission bits on every file and directory") {
    for (umask <- Seq("022", "027")) {
      val base = tmp()
      val stock = written(base.resolve("stock"), classOf[LocalFileSystem], umask)
      val nio = written(base.resolve("nio"), classOf[NioLocalFileSystem], umask)
      assert(nio === stock, s"umask $umask")
      assert(stock.keys.count(_.endsWith(".crc")) > 3)
      // the mode was set, not left to the process umask
      val (file, dir) = if (umask == "022") (0x1a4, 0x1ed) else (0x1a0, 0x1e8) // 644/755, 640/750
      assert(nio("aoi=a1") === dir && nio("_SUCCESS") === file, s"umask $umask")
    }
  }

  test("inside a setgid directory new subdirectories keep setgid, as with chmod") {
    val base = tmp()
    assert(new ProcessBuilder("chmod", "2775", base.toString).start().waitFor() === 0)
    assert(mode(base) === 0x5fd) // 2775
    val stock = written(base.resolve("stock"), classOf[LocalFileSystem], "022")
    val nio = written(base.resolve("nio"), classOf[NioLocalFileSystem], "022")
    assert(nio === stock)
    val dirs = nio.filter { case (k, _) => Files.isDirectory(base.resolve("nio").resolve(k)) }
    assert(dirs.size === 4 && dirs.values.forall(_ === 0x5ed), dirs) // 2755
  }

  test(".crc sidecars are written and a flipped byte fails the read") {
    import spark.implicits._
    val out = tmp().resolve("out")
    (1 to 1000).map(i => (i.toLong, i * 0.5)).toDF("id", "v").coalesce(1)
      .write.parquet(out.toString)
    val part = Files.list(out).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    assert(Files.exists(out.resolve(s".${part.getFileName}.crc")))
    assert(spark.read.parquet(out.toString).count() === 1000)
    val bytes = Files.readAllBytes(part)
    bytes(4) = (bytes(4) ^ 0xff).toByte
    Files.write(part, bytes)
    val err = intercept[Exception](spark.read.parquet(out.toString).collect())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(_.isInstanceOf[ChecksumException]), err)
  }

  test("setPermission: a missing path is a named IOException; special bits take chmod") {
    val raw = new NioRawLocalFileSystem
    raw.initialize(new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val missing = tmp().resolve("missing").toString
    val err = intercept[IOException](raw.setPermission(new Path(missing), new FsPermission(0x1a4.toShort)))
    assert(err.getMessage.contains(missing), err)
    val dir = tmp()
    raw.setPermission(new Path(dir.toString), new FsPermission(0x3ff.toShort)) // 1777
    assert(mode(dir) === 0x3ff)
    raw.setPermission(new Path(dir.toString), new FsPermission(0x1c0.toShort)) // 0700
    assert(mode(dir) === 0x1c0)
  }
}
