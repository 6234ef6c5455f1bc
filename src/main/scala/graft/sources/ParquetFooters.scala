package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.DriverFooterParquetFormat

/** Parquet metadata resolved on the driver, without a Spark job.
  *
  * `spark.read.parquet` launches one job per read only to fetch the
  * footer its schema comes from, and a `count()` read-back runs that
  * job plus a scan. The fleet flows (SURVEY.md S4, S9) do both once per
  * source × table and once per sink, so on small inputs the metadata
  * jobs outnumber the work. Here both come from the footers themselves:
  * the same schema, partition columns and errors as `spark.read.parquet`
  * (see [[DriverFooterParquetFormat]]), and the same count as a scan.
  */
object ParquetFooters {

  private val Format = classOf[DriverFooterParquetFormat].getName

  /** `spark.read.parquet(path)`, with the schema inferred on the driver. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.format(Format).load(path)

  /** `spark.read.parquet(path).count()`, summed from the footers'
    * row-group row counts. A missing path throws `PATH_NOT_FOUND`,
    * as the read does.
    */
  def rowCount(spark: SparkSession, path: String): Long =
    DriverFooterParquetFormat.rowCount(read(spark, path))
}
