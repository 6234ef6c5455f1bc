package org.apache.spark.sql.execution.datasources.parquet

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.SparkException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FileSourceOptions
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.errors.QueryExecutionErrors
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Parquet whose schema inference reads footers on the driver.
  *
  * Spark's `ParquetUtils.inferSchema` launches a Spark job to read
  * the footers it needs, even when that is a single footer: about
  * 90–140 ms of scheduling per read for a few KB of metadata. This
  * format overrides only `inferSchema`, and only where the footers are
  * read: the files touched, the converter, the footer parse and the
  * merge are Spark's own, so the schema (and a merge conflict's error)
  * is the one `spark.read.parquet` gives. File listing, partition
  * discovery, nullability and the `PATH_NOT_FOUND` /
  * `UNABLE_TO_INFER_SCHEMA` errors come from the unchanged
  * `DataSource` path. It lives in Spark's parquet package because
  * `readParquetFootersInParallel` is `private[parquet]`.
  */
class DriverFooterParquetFormat extends ParquetFileFormat {

  override def inferSchema(
      sparkSession: SparkSession,
      parameters: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = {
    val sqlConf = sparkSession.sessionState.conf
    // ParquetUtils.inferSchema's choice of files, by sorted path
    val sorted = files.sortBy(_.getPath.toString)
    def named(name: String) = sorted.filter(_.getPath.getName == name)
    val metadata = named(ParquetFileWriter.PARQUET_METADATA_FILE)
    val common = named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
    val data = sorted.diff(metadata ++ common)
    val toTouch =
      if (new ParquetOptions(parameters, sqlConf).mergeSchema)
        (if (sqlConf.isParquetSchemaRespectSummaries) Nil else data) ++ metadata ++ common
      else common.headOption.orElse(metadata.headOption).orElse(data.headOption).toSeq
    // the converter ParquetFileFormat.mergeSchemasInParallel builds
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
      nanosAsLong = sqlConf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val ignoreCorruptFiles =
      new FileSourceOptions(CaseInsensitiveMap(parameters)).ignoreCorruptFiles
    ParquetFileFormat.readParquetFootersInParallel(
        sparkSession.sessionState.newHadoopConfWithOptions(parameters), toTouch, ignoreCorruptFiles)
      .map(ParquetFileFormat.readSchemaFromFooter(_, converter))
      .reduceOption { (merged, next) =>
        try merged.merge(next, sqlConf.caseSensitiveAnalysis)
        catch {
          case cause: SparkException =>
            throw QueryExecutionErrors.failedMergingSchemaError(merged, next, cause)
        }
      }
  }
}

object DriverFooterParquetFormat {

  /** Rows in a frame read through [[DriverFooterParquetFormat]]: the
    * sum of the row-group row counts in the footers of the data files
    * its file index lists, the files a scan of it reads. Footers are
    * read on the driver with `NO_FILTER`: the `SKIP_ROW_GROUPS` filter
    * schema inference uses returns no row groups, hence no rows.
    */
  def rowCount(df: DataFrame): Long = {
    val relation = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _) => fs
    }.get
    val conf = relation.sparkSession.sessionState.newHadoopConfWithOptions(relation.options)
    val files = relation.location.listFiles(Nil, Nil).flatMap(_.files.map(_.fileStatus))
    ThreadUtils.parmap(files, "graft-footer-row-counts", 8) { file =>
      ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(file, conf), ParquetMetadataConverter.NO_FILTER)
        .getBlocks.asScala.map(_.getRowCount).sum
    }.sum
  }
}
