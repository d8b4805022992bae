package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.types.StructType

/** Spark's parquet schema inference (mergeSchema off) run on the driver.
  * `spark.read.parquet` picks one footer and reads it in a one-task Spark
  * job (`mergeSchemasInParallel`). This object picks the same footer and
  * converts it with the same code, in-process and on the calling thread,
  * so no job runs and no thread pool is built. The object lives in
  * Spark's parquet package solely to reach the private[parquet] footer
  * reader and converter.
  */
object FooterSchema {

  /** The schema `spark.read.parquet(paths: _*)` infers, under the
    * session's confs at call time ([[confs]]). The footer is the one
    * Spark consults: `_common_metadata`, then `_metadata`, then the first
    * data file in path order, out of the same file listing. None when
    * there is no footer to read: a missing path, a glob, no data file, or
    * a corrupt footer skipped under ignoreCorruptFiles. A footer the
    * session cannot convert (a NANOS column without the legacy flag)
    * throws, as inference does. */
  def apply(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val files = new InMemoryFileIndex(spark, paths.map(new Path(_)), Map.empty, None)
      .allFiles().sortBy(_.getPath.toString)
    val summaries = Seq(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    summaries.iterator.flatMap(n => files.find(_.getPath.getName == n)).nextOption()
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .flatMap { f =>
        // Spark's readParquetFootersInParallel for one file, without its pool
        val footer =
          try Some(new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)))
          catch {
            case _: RuntimeException if spark.sessionState.conf.ignoreCorruptFiles => None
            case e: RuntimeException =>
              throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
          }
        ParquetFileFormat.readSchema(footer.toSeq, spark)
      }
  }

  /** The session confs [[apply]]'s answer depends on, as values:
    * binary-as-string, int96-as-timestamp, timestamp-NTZ inference,
    * nanos-as-long, respect-unknown-type-annotation (the converter's
    * inputs in `ParquetFileFormat.readSchema`) and ignoreCorruptFiles. */
  def confs(spark: SparkSession): Seq[Boolean] = {
    val c = spark.sessionState.conf
    Seq(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation, c.ignoreCorruptFiles)
  }
}
