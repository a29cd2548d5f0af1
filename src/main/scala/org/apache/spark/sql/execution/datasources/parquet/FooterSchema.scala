package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge into Spark's `private[parquet]` footer reader.
  * `spark.read.parquet(p)` infers the schema inside a Spark job, one per
  * call.  Reading the one footer that Spark's non-merging inference
  * picks, here on the driver, gives the same schema with no job.
  */
object FooterSchema extends Logging {
  /** The schema of the parquet file or directory at `path`.  The footer
    * read is the one `ParquetUtils.inferSchema` reads when schemas are
    * not merged: of the leaf files in path order, the first
    * `_common_metadata`, else the first `_metadata`, else the first data
    * file.  The session's conf decides the type mapping, as it does for
    * `spark.read` (`nanosAsLong`, `binaryAsString`, `int96AsTimestamp`).
    */
  def of(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = HadoopFSUtils.listFiles(new Path(path), conf, _ => true)
      .flatMap(_._2).sortBy(_.getPath.toString)
    def named(n: String): Option[FileStatus] = files.find(_.getPath.getName == n)
    val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
      ParquetFileWriter.PARQUET_METADATA_FILE)
    val pick = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(files.find(f => !summaries(f.getPath.getName)))
    val footers = pick.flatMap(footer(conf, _, spark.sessionState.conf.ignoreCorruptFiles))
    ParquetFileFormat.readSchema(footers.toSeq, spark).getOrElse(
      throw new IllegalArgumentException(
        s"Unable to infer schema for Parquet at $path: no readable footer"))
  }

  /** One file's footer, read on the calling thread the way
    * `ParquetFileFormat.readParquetFootersInParallel` reads each of its
    * files (row groups skipped; a corrupt file is skipped with a warning
    * under `ignoreCorruptFiles`, else an error naming it), without the
    * thread pool that call builds and tears down for its one file.
    */
  private def footer(conf: Configuration, f: FileStatus,
      ignoreCorruptFiles: Boolean): Option[Footer] =
    try Some(new Footer(f.getPath, ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)))
    catch {
      case e: RuntimeException if ignoreCorruptFiles =>
        logWarning(s"Skipped the footer in the corrupted file: ${f.getPath}", e)
        None
      case e: RuntimeException =>
        throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
    }
}
