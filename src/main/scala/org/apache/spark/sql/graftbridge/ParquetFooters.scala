package org.apache.spark.sql
package graftbridge

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader,
  ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The data schema `spark.read.parquet(path)` infers, read from one footer
  * on the driver. Spark's own non-merging inference (`ParquetUtils.inferSchema`)
  * reads the same single footer, but inside a Spark job
  * (`mergeSchemasInParallel`); passing this schema to `spark.read.schema`
  * skips that job. Lives under org.apache.spark.sql to reach Spark's footer
  * reader, schema converter and hidden-file rule. */
object ParquetFooters {

  /** None when `path` matches nothing or holds no footer to read; the
    * caller then lets Spark raise its own error for the path. */
  def dataSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val hadoopConf = state.newHadoopConf()
    val pattern = new Path(path)
    val fs = pattern.getFileSystem(hadoopConf)
    // a plain path globs to itself; a missing one to nothing
    val roots = Option(fs.globStatus(pattern)).toSeq.flatten
    schemaFile(roots.flatMap(r => leaves(fs, r.getPath, Nil))).map { f =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(state.conf))
    }
  }

  /** The file `ParquetUtils.inferSchema` reads from Spark's file listing:
    * `_common_metadata`, else `_metadata`, else the first data file in path
    * order. Spark lists files below a root only when partition discovery
    * finds a `k=v` directory; otherwise just the root's own files. */
  private def schemaFile(found: Seq[(FileStatus, Seq[String])]): Option[FileStatus] = {
    val partitioned = found.exists(_._2.exists(_.contains("=")))
    val files = found.collect { case (f, dirs) if partitioned || dirs.isEmpty => f }
      .sortBy(_.getPath.toString)
    val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
  }

  /** Leaf files Spark lists under `p`, each with the directory names
    * between the root and the file. Hidden names are skipped by Spark's
    * listing rule, so `_SUCCESS`, `.crc` files and `_x` directories drop
    * out but `_x=1` stays. `listStatus` of a file is the file itself. */
  private def leaves(fs: FileSystem, p: Path, dirs: Seq[String]): Seq[(FileStatus, Seq[String])] =
    fs.listStatus(p).toSeq
      .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
      .flatMap { c =>
        if (c.isDirectory) leaves(fs, c.getPath, dirs :+ c.getPath.getName) else Seq(c -> dirs)
      }
}
