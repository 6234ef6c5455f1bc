package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Report sinks (SURVEY.md S7-S9).
  *
  * The reference writes its report tables with drop-and-replace
  * (data_consistency_checks.py:163-165) or explicit-drop-then-append
  * (pre_and_post_etl_checks.py:245-247 — replace in effect, append by
  * design intent: reports accumulate daily keyed by `date_created`),
  * then verifies with a COUNT(*) read-back (DCC:166-168).
  *
  * Parquet-native equivalents; `verifyCount=true` reproduces the
  * read-back assertion and returns the persisted row count, summed
  * from the written files' footers on the driver
  * ([[ParquetFooters.rowCount]]) rather than by a scan job.
  */
object Sinks {

  /** Drop-and-replace sink (S7): `mode("overwrite")`. */
  def writeReplace(df: DataFrame, path: String, verifyCount: Boolean = true): Long =
    write(df, path, SaveMode.Overwrite, verifyCount)

  /** Accumulating sink (S8): `mode("append")` — the PPE design
    * intent, daily runs accumulating keyed by `date_created`.
    * Returns rows written by THIS run (post-write total minus
    * pre-write total — the read-back verification, S9, minus what
    * was already there; single-writer assumption).
    */
  def writeAppend(df: DataFrame, path: String, verifyCount: Boolean = true): Long = {
    val spark = df.sparkSession
    // Only a missing sink path means "first run, zero rows"; any other
    // read failure (e.g. corrupt existing files) must propagate — it
    // would otherwise silently inflate the rows-written delta.
    val before =
      if (!verifyCount) 0L
      else try ParquetFooters.rowCount(spark, path) catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "PATH_NOT_FOUND" => 0L
      }
    df.write.mode(SaveMode.Append).parquet(path)
    if (verifyCount) ParquetFooters.rowCount(spark, path) - before else -1L
  }

  private def write(df: DataFrame, path: String, mode: SaveMode, verify: Boolean): Long = {
    df.write.mode(mode).parquet(path)
    if (verify) ParquetFooters.rowCount(df.sparkSession, path) // S9 read-back
    else -1L
  }

  /** Bucketed + sorted managed table: the at-rest layout that makes
    * repeated joins/aggregations on `bucketCols` shuffle-free (both
    * sides pre-partitioned by bucket hash — Catalyst drops the
    * Exchange entirely; see SinksSpec's plan assertion). This is the
    * 100 TB answer to the fact⋈fact joins (e.g. lineitem⋈orders on
    * orderkey) that no broadcast can absorb.
    */
  def writeBucketed(
      df: DataFrame, table: String,
      bucketCols: Seq[String], numBuckets: Int,
      verifyCount: Boolean = true): Long = {
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)
    if (verifyCount) df.sparkSession.table(table).count() else -1L
  }
}
