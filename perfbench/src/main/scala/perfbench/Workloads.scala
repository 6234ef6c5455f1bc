package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Pipelines
import graft.operators.StatTests

/** What one timed check produced. `verify` runs after the check's
  * timed interval has closed; it returns the output fingerprint or the
  * reason the output is wrong. */
final case class Ran(verify: () => Either[String, Option[Long]])

final case class Check(id: String, run: Tracer => Ran)

/** Paths a run works in; all inside the benchmark's work directory. */
final case class Dirs(work: Path, corpus: Path, fleet: Path)

trait Workload {
  def checks: Seq[Check]
  /** Set-up, once per round: inputs made inside the JVM, then the state
    * the checks read (catalog views, the destination census). */
  def generate(spark: SparkSession, round: Int): Unit = ()
  def fixtures(spark: SparkSession, round: Int): Unit
  /** Untimed, before and after each pass. */
  def beforePass(pass: Int): Unit = ()
  def afterPass(pass: Int): Unit = ()
  /** Expected fingerprint per check id, derived independently of the
    * measured path. Called once, after the measured passes. */
  def expected(spark: SparkSession): Map[String, Either[String, Option[Long]]]
}

object Workloads {

  /** The fingerprint `graft.Bench.evalAll` forces: bit_xor over the
    * xxhash64 of every column of every row (None for an empty result). */
  def fingerprint(df: DataFrame): Option[Long] = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(col): _*).as("_h"))
      .agg(bit_xor(col("_h"))).head()
    if (r.isNullAt(0)) None else Some(r.getLong(0))
  }

  /** Fingerprint of an oracle result after casting it, column by
    * column and by name, to the schema the engine returned. */
  def fingerprintAs(oracle: DataFrame, schema: StructType): Either[String, Option[Long]] = {
    val missing = schema.fieldNames.filterNot(oracle.columns.contains)
    if (missing.nonEmpty) Left(s"oracle lacks columns ${missing.mkString(",")}")
    else Right(fingerprint(oracle.select(schema.fields.toIndexedSeq.map(f =>
      col(s"`${f.name}`").cast(f.dataType).as(f.name)): _*)))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
      finally s.close()
    }

  def apply(name: String, seed: Long, dirs: Dirs): Workload = name match {
    case "fleet_etl"   => new FleetEtl(dirs)
    case "stat_calls"  => new StatCalls(seed, dirs)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
}

import Workloads._

/** Statistics checks issued as `CALL graft.*` SQL text, over a table
  * whose census is under the direct-window gate (lineitem) and one
  * generated from the seed whose census is above it. */
final class StatCalls(seed: Long, dirs: Dirs) extends Workload {
  /** Rows of the generated table; its value census is > 2^20. */
  val bigRows = 1100000L

  // (check id, CALL text, the same operator forced onto the other path)
  private val calls: Seq[(String, String, SparkSession => DataFrame)] = {
    def ks(t: String, v: String, c: String, other: Long) = (
      s"CALL graft.ks_two_sample(`table` => '$t', value => '$v', cohort => '${c.replace("'", "''")}')",
      (s: SparkSession) => StatTests.ksTwoSample(s.table(t), expr(v), expr(c),
        directWindowRows = other))
    // the expected value forces the path the CALL does not take
    val cell = 0L
    val direct = Long.MaxValue
    Seq(
      "ks_two_sample.lineitem" -> ks("lineitem", "l_extendedprice", "l_returnflag = 'R'", cell),
      "ks_two_sample.stat_big" -> ks("stat_big", "v", "g < 3", direct)
    ).map { case (id, (sql, exp)) => (id, sql, exp) }
  }

  private def bigDir(round: Int) = dirs.work.resolve(s"round-$round/stat_big").toString

  override def generate(spark: SparkSession, round: Int): Unit = {
    // group and value are hashes of the row id under the seed; values
    // are drawn from 10^9 so nearly every row has its own
    val h = (k: Long, m: Long) => pmod(xxhash64(col("id"), lit(seed + k)), lit(m))
    spark.range(0L, bigRows, 1L, 4)
      .select(h(0, 8).cast("int").as("g"), (h(1, 1000000000L) / 1000.0).as("v"))
      .write.mode("overwrite").parquet(bigDir(round))
  }

  def fixtures(spark: SparkSession, round: Int): Unit = {
    spark.read.parquet(dirs.corpus.resolve("lineitem.parquet").toString)
      .createOrReplaceTempView("lineitem")
    spark.read.parquet(bigDir(round)).createOrReplaceTempView("stat_big")
  }

  val checks: Seq[Check] = calls.map { case (id, sql, _) =>
    Check(id, t => {
      val df = t.span("sql")(SparkSession.active.sql(sql))
      val fp = t.span("execute")(fingerprint(df))
      Ran(() => Right(fp))
    })
  }

  def expected(spark: SparkSession): Map[String, Either[String, Option[Long]]] = {
    // both sides of the gate must really be exercised
    val gate = StatTests.DefaultDirectWindowRows
    val small = spark.table("lineitem").select("l_extendedprice").distinct().count()
    val big = spark.table("stat_big").select("v").distinct().count()
    val gateErr =
      if (small > gate || big <= gate)
        Some(s"census sizes do not straddle the gate: lineitem $small, stat_big $big")
      else None
    calls.map { case (id, _, exp) =>
      id -> gateErr.toLeft(fingerprint(exp(spark)))
    }.toMap
  }
}

/** The reference's two flows over a seeded fleet of source directories,
  * writing through both sinks. Inputs and the expected reports come
  * from `perfbench/fleet.py`. */
final class FleetEtl(dirs: Dirs) extends Workload {
  private val plan: Map[String, String] =
    scala.io.Source.fromFile(dirs.fleet.resolve("plan.txt").toFile).getLines()
      .map(_.split("=", 2)).collect { case Array(k, v) => k -> v }.toMap
  private def list(k: String) = plan(k).split(",").filter(_.nonEmpty).toSeq
  private val sources = list("sources")
  private val skipped = list("skipped").toSet
  private val root = dirs.fleet.resolve("sources").toString
  private val cutoff = plan("cutoff")
  private var destination: DataFrame = _
  private var pass = 0
  private def out(kind: String) = dirs.work.resolve(s"out/pass-$pass/$kind")

  def fixtures(spark: SparkSession, round: Int): Unit =
    destination = spark.read.parquet(dirs.fleet.resolve("destination").toString)

  override def beforePass(p: Int): Unit = pass = p
  override def afterPass(p: Int): Unit = deleteTree(dirs.work.resolve(s"out/pass-$p"))

  private def checkReport(r: Pipelines.RunReport, rows: Long): Option[String] =
    if (r.sourcesTotal != sources.size)
      Some(s"fan-out saw ${r.sourcesTotal} sources, planned ${sources.size}")
    else if (r.skipped.map(_.source).toSet != skipped)
      Some(s"fan-out skipped ${r.skipped.map(_.source).mkString(",")}, planned ${skipped.mkString(",")}")
    else if (r.rowsWritten != rows)
      Some(s"sink verified ${r.rowsWritten} rows, expected $rows")
    else None

  private def sinkFingerprint(spark: SparkSession, kind: String, r: Pipelines.RunReport,
      rows: Long): Either[String, Option[Long]] = {
    checkReport(r, rows).toLeft(()).map { _ =>
      val written = spark.read.parquet(out(kind).toString)
      schemas.getOrElseUpdate(s"${kind}_pipeline", written.schema)
      fingerprint(written)
    }
  }
  private val schemas = scala.collection.mutable.Map.empty[String, StructType]

  /** The latest pipeline report; the fan-out counts come from here. */
  var lastReport: Option[Pipelines.RunReport] = None

  val checks: Seq[Check] = Seq(
    Check("freshness_pipeline", t => {
      val spark = SparkSession.active
      val r = t.span("pipeline")(Pipelines.freshnessPipeline(spark, root, "openmrs_",
        Seq("obs" -> "l_shipdate", "encounter" -> "o_orderdate", "orders" -> "ts"),
        lit(cutoff).cast("timestamp"), out("freshness").toString))
      lastReport = Some(r)
      Ran(() => sinkFingerprint(spark, "freshness", r, plan("freshness_rows").toLong))
    }),
    Check("reconciliation_pipeline", t => {
      val spark = SparkSession.active
      val r = t.span("pipeline")(Pipelines.reconciliationPipeline(spark, root, "openmrs_",
        Seq("obs" -> Some("voided"), "encounter" -> Some("voided"), "orders" -> Some("voided")),
        destination, out("reconciliation").toString))
      lastReport = Some(r)
      Ran(() => sinkFingerprint(spark, "reconciliation", r, plan("reconciliation_rows").toLong))
    }))

  def expected(spark: SparkSession): Map[String, Either[String, Option[Long]]] =
    Seq("freshness", "reconciliation").map { kind =>
      val id = s"${kind}_pipeline"
      val f = dirs.fleet.resolve(s"expected_$kind.parquet").toString
      id -> (schemas.get(id) match {
        case Some(schema) => fingerprintAs(spark.read.parquet(f), schema)
        case None => Left(s"$id never wrote its report")
      })
    }.toMap
}
