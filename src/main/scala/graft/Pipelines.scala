package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Freshness
import graft.operators.Freshness.FreshnessSpec
import graft.operators.Reconciliation
import graft.operators.Reconciliation.CensusSpec
import graft.sources.{FanOut, ParquetFooters, Sinks}

/** The reference's two entry-point flows (SURVEY.md §3), end to end:
  * multi-source discovery → fan-out with per-source skip → check →
  * report → sink with verify-count. Each run returns the persisted
  * row count and the skip/telemetry records the reference printed as
  * log lines (data_consistency_checks.py:146-147, 166-168).
  *
  * Where the reference visits sources in a sequential Python loop and
  * eagerly materializes between steps, here every run is ONE lazy
  * Catalyst plan, and the work splits in two:
  *  - on the driver, no Spark job: source discovery (a directory
  *    listing), each source table's schema (its parquet footer, via
  *    [[ParquetFooters.read]]), the per-source skip decision, and the
  *    sink's verify count (the written files' footers, via
  *    [[ParquetFooters.rowCount]]);
  *  - as Spark jobs: the sink write alone, in which the per-source
  *    subtrees execute as parallel stages.
  */
object Pipelines {

  final case class RunReport(
      rowsWritten: Long,
      sourcesTotal: Int,
      skipped: Seq[FanOut.SkipRecord]) {
    def telemetry: String = FanOut.telemetryLine(sourcesTotal, skipped.size)
  }

  /** DCC freshness-consistency pipeline over a directory of source
    * "schemas" (each a subdirectory holding one parquet per table):
    * discover → per-source loading status (count + max date per fact
    * table) → pivot wide → ordinal stddev score → replace-sink.
    */
  def freshnessPipeline(
      spark: SparkSession,
      sourcesRoot: String,
      sourcePrefix: String,
      factTables: Seq[(String, String)], // (tableName, eventTsColumn)
      cutoff: Column,
      outPath: String): RunReport = {
    val sources = FanOut.discoverSources(sourcesRoot, sourcePrefix)
    val fanned = FanOut.fanOut(sources, freshnessSource(spark, sourcesRoot, factTables, cutoff))
    val written = fanned.df match {
      case None => 0L
      case Some(longDf) =>
        val tables = factTables.map(_._1)
        val wide = Freshness.pivotMaxDates(
          longDf, Seq("facility_id", "facility_name"), tables)
        val report = Freshness.freshnessReport(
          wide, Seq("facility_id", "facility_name"), tables, current_date())
        Sinks.writeReplace(report, outPath) // S7 + S9 verify read-back
    }
    RunReport(written, sources.size, fanned.skipped)
  }

  /** PPE reconciliation pipeline: source census (per-source fan-out,
    * soft-delete filtered) vs destination census → full outer join →
    * variance → append-sink (accumulate-by-run-date design, S8).
    */
  def reconciliationPipeline(
      spark: SparkSession,
      sourcesRoot: String,
      sourcePrefix: String,
      censusTables: Seq[(String, Option[String])], // (table, voided-style column)
      destination: DataFrame, // (site_id, table_name, record_count)
      outPath: String): RunReport = {
    val sources = FanOut.discoverSources(sourcesRoot, sourcePrefix)
    val fanned = FanOut.fanOut(sources, reconciliationSource(spark, sourcesRoot, censusTables))
    val written = fanned.df match {
      case None => 0L
      case Some(srcCounts) =>
        val report = Reconciliation.reconcile(
          srcCounts.drop("source_schema"), destination, current_date())
        Sinks.writeAppend(report, outPath)
    }
    RunReport(written, sources.size, fanned.skipped)
  }

  /** One source's loading-status plan for [[freshnessPipeline]]. */
  private[graft] def freshnessSource(
      spark: SparkSession, sourcesRoot: String,
      factTables: Seq[(String, String)], cutoff: Column): String => DataFrame = { src =>
    val specs = factTables.map { case (t, tsCol) =>
      FreshnessSpec(t, ParquetFooters.read(spark, s"$sourcesRoot/$src/$t"), col(tsCol), cutoff)
    }
    Freshness.loadingStatus(
      // facility identity = the source itself (the config-lookup
      // analog when no global_property-style table exists)
      spark.range(1).select(
        pmod(xxhash64(lit(src)), lit(Int.MaxValue)).cast("int").as("facility_id"),
        lit(src).as("facility_name")),
      specs, cutoff)
  }

  /** One source's census plan for [[reconciliationPipeline]]. */
  private[graft] def reconciliationSource(
      spark: SparkSession, sourcesRoot: String,
      censusTables: Seq[(String, Option[String])]): String => DataFrame = { src =>
    Reconciliation.censusUnion(censusTables.map { case (t, voidedCol) =>
      CensusSpec(t, ParquetFooters.read(spark, s"$sourcesRoot/$src/$t"),
        pmod(xxhash64(lit(src)), lit(Int.MaxValue)).cast("int"), voidedCol.map(c => col(c) === 0))
    })
  }
}
