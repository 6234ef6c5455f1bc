package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctionRegistry
import graft.sources.{FanOut, ParquetFooters}

class PipelinesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val fleetTables = Seq("obs", "encounter", "orders")

  /** Three source schemas; `openmrs_partial` lacks two tables, so the
    * fan-out skips it atomically.
    */
  private def fixtureFleet(): String = {
    val root = Files.createTempDirectory("dcc").toString
    def writeSrc(src: String, tables: Seq[String]): Unit =
      tables.foreach { t =>
        Seq((1, ts("2020-01-10 00:00:00"), 0), (2, ts("2020-03-01 00:00:00"), 1))
          .toDF("id", "event_ts", "voided").write.parquet(s"$root/$src/$t")
      }
    writeSrc("openmrs_a", fleetTables)
    writeSrc("openmrs_b", fleetTables)
    writeSrc("openmrs_partial", Seq("obs")) // missing tables → schema skipped atomically
    root
  }

  /** Spark jobs started by `body` on this thread, seen by a listener. */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count probe")
      try body finally sc.clearJobGroup()
      // the bus delivers in order: once the sentinel job's start has
      // arrived, so has that of every job `body` started
      sc.setJobGroup(sentinel, "job-count sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis + 15000
      while (!seen.contains(sentinel) && System.currentTimeMillis < deadline) Thread.sleep(20)
      assert(seen.contains(sentinel), "listener never saw the sentinel job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("freshness pipeline end-to-end: fan-out, skip, pivot, stddev, sink") {
    val root = fixtureFleet()

    val out = Files.createTempDirectory("dccout").toString + "/report"
    val report = Pipelines.freshnessPipeline(spark, root, "openmrs_",
      Seq("obs" -> "event_ts", "encounter" -> "event_ts", "orders" -> "event_ts"),
      to_timestamp(lit("2021-01-01 00:00:00")), out)

    assert(report.rowsWritten == 2) // one report row per surviving source
    assert(report.skipped.map(_.source) == Seq("openmrs_partial"))
    assert(report.telemetry == "2 out of 3 sources processed successfully")
    val persisted = spark.read.parquet(out)
    assert(persisted.columns.toSeq == Seq("facility_id", "facility_name",
      "obs_max_date", "encounter_max_date", "orders_max_date",
      "std_dev", "date_created"))
    // all three max-dates equal per row → stddev 0
    assert(persisted.select("std_dev").as[Double].collect().forall(_ == 0.0))
  }

  test("source resolution and sink read-back run on the driver: zero Spark jobs") {
    val root = fixtureFleet()
    val sources = FanOut.discoverSources(root, "openmrs_")
    val cutoff = to_timestamp(lit("2021-01-01 00:00:00"))
    // the probe is live: Spark's own parquet read infers its schema in a job
    assert(jobsLaunchedBy(spark.read.parquet(s"$root/openmrs_a/obs")) >= 1)

    var fanned = Seq.empty[FanOut.FanOutResult]
    val resolveJobs = jobsLaunchedBy {
      fanned = Seq(
        FanOut.fanOut(sources,
          Pipelines.freshnessSource(spark, root, fleetTables.map(_ -> "event_ts"), cutoff)),
        FanOut.fanOut(sources,
          Pipelines.reconciliationSource(spark, root, fleetTables.map(_ -> Some("voided")))))
    }
    assert(resolveJobs == 0, s"resolving ${sources.size} sources launched $resolveJobs jobs")
    assert(fanned.forall(_.skipped.map(_.source) == Seq("openmrs_partial")))
    assert(fanned.forall(_.df.isDefined))

    val out = Files.createTempDirectory("dccjobs").toString + "/report"
    val report = Pipelines.freshnessPipeline(spark, root, "openmrs_",
      fleetTables.map(_ -> "event_ts"), cutoff, out)
    assert(report.rowsWritten == 2)
    var readBack = -1L
    val verifyJobs = jobsLaunchedBy { readBack = ParquetFooters.rowCount(spark, out) }
    assert(verifyJobs == 0, s"sink read-back launched $verifyJobs jobs")
    assert(readBack == spark.read.parquet(out).count())
  }

  test("reconciliation pipeline end-to-end: census vs destination, append sink") {
    val root = Files.createTempDirectory("ppe").toString
    Seq((1, 0), (2, 0), (3, 1)).toDF("id", "voided")
      .write.parquet(s"$root/openmrs_x/obs")
    Seq((1, 0)).toDF("id", "voided").write.parquet(s"$root/openmrs_x/person")

    val siteId = pmod(xxhash64(lit("openmrs_x")), lit(Int.MaxValue)).cast("int")
    val dest = spark.range(1).select(siteId.as("site_id"),
      lit("obs").as("table_name"), lit(5L).as("record_count"))

    val out = Files.createTempDirectory("ppeout").toString + "/etl"
    val report = Pipelines.reconciliationPipeline(spark, root, "openmrs_",
      Seq("obs" -> Some("voided"), "person" -> Some("voided")), dest, out)
    assert(report.rowsWritten == 2 && report.skipped.isEmpty)

    val rows = spark.read.parquet(out)
      .select("table_name", "record_count_source", "record_count_ohdl", "variance")
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(rows("obs") == (Some(2L), Some(5L), Some(-3L)))    // voided filtered; dest ahead
    assert(rows("person") == (Some(1L), None, None))          // dest missing → null variance

    // S8 append semantics: second run writes its own 2 rows, table accumulates to 4
    val again = Pipelines.reconciliationPipeline(spark, root, "openmrs_",
      Seq("obs" -> Some("voided"), "person" -> Some("voided")), dest, out)
    assert(again.rowsWritten == 2)
    assert(spark.read.parquet(out).count() == 4)
  }

  test("SQL-callable checks: CALL graft.<check> runs the operator layer from pure SQL text") {
    // the reference's users drive everything by SQL strings — this is
    // that surface restored: inputs are CATALOG names (temp views
    // here), column args are SQL expressions, no DataFrame touched
    Seq(
      (1, ts("2020-01-10 00:00:00")), (1, ts("2020-03-01 00:00:00")),
      (2, ts("2020-02-15 00:00:00")))
      .toDF("site_id", "event_ts").createOrReplaceTempView("sqlc_obs")
    Seq((1, ts("2020-03-01 00:00:00")), (2, ts("2020-02-10 00:00:00")))
      .toDF("site_id", "event_ts").createOrReplaceTempView("sqlc_enc")

    // the DCC freshness report, invoked as SQL
    val fresh = spark.sql(
      """CALL graft.freshness(
        |  tables => 'sqlc_obs:event_ts,sqlc_enc:event_ts',
        |  group_by => 'site_id',
        |  cutoff => '2021-01-01 00:00:00',
        |  date_created => '2024-01-01')""".stripMargin)
      .collect().map(r => r.getAs[Int]("facility_id") -> r).toMap
    assert(fresh.keySet == Set(1, 2))
    assert(fresh(1).getAs[java.sql.Date]("sqlc_obs_max_date").toString == "2020-03-01")
    assert(fresh(1).getAs[Double]("std_dev") == 0.0,
      "site 1's two tables are equally fresh")
    assert(fresh(2).getAs[Double]("std_dev") > 0.0,
      "site 2's tables diverge by 5 days")

    // an exact KS test, invoked as SQL — cohort is an arbitrary SQL
    // boolean expression with '' quote escaping
    Seq((1.0, "en"), (2.0, "en"), (3.0, "en"),
      (2.0, "fr"), (3.0, "fr"), (4.0, "fr"))
      .toDF("v", "lang").createOrReplaceTempView("sqlc_docs")
    val ks = spark.sql(
      """CALL graft.ks_two_sample(`table` => 'sqlc_docs',
        |  value => 'v', cohort => 'lang = ''en''')""".stripMargin).head()
    val direct = graft.operators.StatTests.ksTwoSample(
      spark.table("sqlc_docs"), $"v", $"lang" === "en").head()
    assert(ks.getAs[Double]("ks_stat") == direct.getAs[Double]("ks_stat"))
    assert(ks.getAs[Long]("n_a") == 3L && ks.getAs[Long]("n_b") == 3L)

    // the Scala runner is the same registry
    val viaRunner = graft.sql.GraftChecks.run(spark, "ks_two_sample",
      Map("table" -> "sqlc_docs", "value" -> "v", "cohort" -> "lang = 'en'"))
      .head()
    assert(viaRunner.getAs[Double]("ks_stat") == ks.getAs[Double]("ks_stat"))

    // discovery + failure modes speak SQL-user language
    val help = spark.sql("CALL graft.help()").collect()
    assert(help.map(_.getString(0)).contains("ks_two_sample"))
    val unknown = intercept[IllegalArgumentException] {
      spark.sql("CALL graft.no_such_check(x => 'y')")
    }
    assert(unknown.getMessage.contains("available:"))
    val missing = intercept[IllegalArgumentException] {
      spark.sql("CALL graft.completeness(`table` => 'sqlc_docs')")
    }
    assert(missing.getMessage.contains("missing required argument 'cols'"))
    // non-CALL statements pass through to the delegate parser
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
  }

  test("SQL registration: custom functions callable from spark.sql") {
    GraftFunctionRegistry.registerAll(spark)
    val r = spark.sql(
      """SELECT vector_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       horizontal_stddev(2.0D, 4.0D, 6.0D) AS sd,
        |       date_ordinal(DATE '2024-01-15') AS o,
        |       cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c
        |""".stripMargin).head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 2.0)
    assert(r.getInt(2) == 738900)
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12)
    // media token costing from SQL == the Column builders, pinned by
    // EQUALITY over a grid (not hand constants), so a change to the
    // Multimodal defaults cannot silently diverge the SQL copies
    val grid = Seq((224L, 224L, 1000L), (225L, 224L, 1001L), (1L, 1L, 0L),
      (1023L, 65L, 60999L), (-1L, 10L, -1L))
      .toDF("w", "h", "ms")
    grid.createOrReplaceTempView("sqlc_media_grid")
    val viaSql = spark.sql(
      "SELECT patch_tokens(w, h) AS p, audio_tokens(ms) AS a FROM sqlc_media_grid")
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    val viaCols = grid.select(
        graft.operators.Multimodal.patchTokens($"w", $"h").as("p"),
        graft.operators.Multimodal.audioTokens($"ms").as("a"))
      .collect().map(r => (r.get(0), r.get(1))).toSeq
    assert(viaSql == viaCols, s"SQL functions must equal the Column builders")
    assert(viaSql.head == ((197L, 50L)) && viaSql.last == ((null, null)))
  }

  test("SQL-callable checks: the r11 statistic surface (benford, p-scored tests, FDR) from SQL") {
    Seq(123L, 190L, 250L, 310L, 1999L, 12L, 84L, 145L, 267L)
      .map(Tuple1(_)).toDF("amt").createOrReplaceTempView("sqlc_amts")
    val ben = spark.sql(
      "CALL graft.benford(`table` => 'sqlc_amts', value => 'amt')").collect()
    assert(ben.length == 9)
    assert(ben.map(_.getAs[Long]("n")).sum == 9L)

    Seq((10L, true), (12L, true), (14L, true), (20L, false), (24L, false))
      .toDF("v", "en").createOrReplaceTempView("sqlc_md")
    val md = spark.sql(
      "CALL graft.mean_diff_z(`table` => 'sqlc_md', value => 'v', cohort => 'en')").head()
    val direct = graft.operators.StatTests.meanDiffZ(
      spark.table("sqlc_md"), $"v", $"en").head()
    assert(md.getAs[Double]("z") == direct.getAs[Double]("z"))
    assert(md.getAs[Double]("p_two_sided") == direct.getAs[Double]("p_two_sided"))

    val pz = spark.sql(
      """CALL graft.proportion_z(`table` => 'sqlc_md',
        |  success => 'v > 13', cohort => 'en')""".stripMargin).head()
    assert(pz.getAs[Long]("n_a") == 3L && pz.getAs[Long]("s_a") == 1L)

    val jb = spark.sql(
      "CALL graft.normality(`table` => 'sqlc_md', value => 'v')").head()
    assert(jb.getAs[Long]("n") == 5L && jb.getAs[Double]("m2") > 0.0)

    Seq(("s1", 0.001), ("s2", 0.04), ("s3", 0.9))
      .toDF("src", "p").createOrReplaceTempView("sqlc_ps")
    val fdr = spark.sql(
      """CALL graft.fdr_gate(`table` => 'sqlc_ps', p => 'p',
        |  tie_break => 'src', alpha => '0.05')""".stripMargin)
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Boolean]("is_discovery")).toMap
    assert(fdr("s1") && !fdr("s3"))

    val ksp = spark.sql(
      """CALL graft.ks_p(`table` => 'sqlc_md', value => 'v',
        |  cohort => 'en')""".stripMargin).head()
    assert(ksp.getAs[Double]("p_value") > 0.0 && ksp.getAs[Double]("p_value") <= 1.0)

    Seq((ts("2024-01-01 05:00:00")), (ts("2024-01-02 05:00:00")),
      (ts("2024-01-02 06:00:00")), (ts("2024-01-03 05:00:00")),
      (ts("2024-01-03 06:00:00")), (ts("2024-01-03 07:00:00")))
      .map(Tuple1(_)).toDF("t").createOrReplaceTempView("sqlc_ts")
    val trend = spark.sql(
      "CALL graft.trend(`table` => 'sqlc_ts', ts => 't')").head()
    assert(trend.getAs[Long]("n_buckets") == 3L)
    assert(trend.getAs[Double]("slope_per_bucket") == 1.0)
  }

  test("SQL-callable checks: the r12 token/LM surface from SQL") {
    Seq((0L, "the fast scan", "a"), (1L, "the fast scan", "a"),
      (2L, "slow merge join", "b"), (3L, "slow merge join", "b"),
      (4L, "the fast scan", "a"), (5L, "the fast scan", "a"),
      (6L, "slow merge join", "b"), (7L, "the fast scan", "a"),
      (10L, "the fast scan", "a"), (11L, "zq zq zq", "b"))
      .toDF("doc_id", "text", "src").createOrReplaceTempView("sqlc_tok")

    val bs = spark.sql(
      """CALL graft.bpe_token_stats(`table` => 'sqlc_tok',
        |  text => 'text', group_by => 'src')""".stripMargin)
      .collect().map(r => r.getAs[String]("group_key") ->
        r.getAs[Long]("total_bpe_tokens")).toMap
    val enc = new graft.functions.BpeEncoder(graft.functions.BpeVocab.default)
    val perDoc = enc.encode("the fast scan").length.toLong
    assert(bs("a") == 6L * perDoc)

    val lm = spark.sql(
      """CALL graft.lm_quality_gate(`table` => 'sqlc_tok', id => 'doc_id',
        |  text => 'text', train_pred => 'doc_id < 8')""".stripMargin)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[Double]("avg_log2_prob")).toMap
    assert(lm.keySet == Set(10L, 11L))
    assert(lm(10L) > lm(11L), "in-distribution text must outscore unknowns")
  }

  test("SQL-callable checks: the decision family (auc/calibration/sweep/gate/rank-sum/correlations/MK) from SQL") {
    import graft.operators.{Evaluation, Profiling, StatTests}
    Seq(("a", 0.1, false), ("a", 0.4, true), ("a", 0.8, true),
      ("b", 0.2, false), ("b", 0.6, false), ("b", 0.9, true),
      ("a", 0.3, false), ("b", 0.7, true))
      .toDF("src", "score", "label").createOrReplaceTempView("sqlc_sc")
    val t = spark.table("sqlc_sc")

    val auc = spark.sql(
      "CALL graft.auc(`table` => 'sqlc_sc', score => 'score', label => 'label')").head()
    assert(auc.getAs[Double]("auc") ==
      Evaluation.aucExact(t, $"score", $"label").head().getAs[Double]("auc"))
    val gauc = spark.sql(
      """CALL graft.auc(`table` => 'sqlc_sc', score => 'score',
        |  label => 'label', group => 'src')""".stripMargin).collect()
    assert(gauc.length == 2)

    val cal = spark.sql(
      """CALL graft.calibration(`table` => 'sqlc_sc', score => 'score',
        |  label => 'label', lo => '0.0', hi => '1.0', bins => '4')""".stripMargin)
      .collect()
    assert(cal.length == 4 && cal.map(_.getAs[Long]("n")).sum == 8L)

    val sweep = spark.sql(
      """CALL graft.threshold_sweep(`table` => 'sqlc_sc', score => 'score',
        |  label => 'label', lo => '0.0', hi => '1.0', bins => '4',
        |  group => 'src')""".stripMargin).collect()
      .map(r => (r.getAs[String]("group_key"), r.getAs[Long]("band")) ->
        r.getAs[Long]("tp")).toMap
    val direct = Evaluation.thresholdSweepBy(
      t, $"src", $"score", $"label", 0.0, 1.0, 4).collect()
      .map(r => (r.getAs[String]("group_key"), r.getAs[Long]("band")) ->
        r.getAs[Long]("tp")).toMap
    assert(sweep == direct)

    val gate = spark.sql(
      """CALL graft.gate_apply(`table` => 'sqlc_sc', group => 'src',
        |  score => 'score', label => 'label',
        |  lo => '0.0', hi => '1.0', bins => '4')""".stripMargin).collect()
      .map(r => r.getAs[String]("group_key") ->
        (r.getAs[Double]("threshold"), r.getAs[Long]("n_kept"))).toMap
    val directGate = Evaluation.applyOperatingPoints(t, $"src", $"score",
        Evaluation.thresholdSweepBy(t, $"src", $"score", $"label", 0.0, 1.0, 4))
      .collect().map(r => r.getAs[String]("group_key") ->
        (r.getAs[Double]("threshold"), r.getAs[Long]("n_kept"))).toMap
    assert(gate == directGate)

    val rs = spark.sql(
      "CALL graft.rank_sum(`table` => 'sqlc_sc', value => 'score', cohort => 'label')").head()
    assert(rs.getAs[Double]("z") ==
      Evaluation.rankSumTest(t, $"score", $"label").head().getAs[Double]("z"))

    Seq((1.0, 2.0), (2.0, 4.0), (3.0, 3.0), (4.0, 8.0))
      .toDF("x", "y").createOrReplaceTempView("sqlc_xy")
    val kt = spark.sql(
      "CALL graft.kendall(`table` => 'sqlc_xy', x => 'x', y => 'y')").head()
    assert(kt.getAs[Double]("tau_b") == Profiling.kendallTauExact(
      spark.table("sqlc_xy"), $"x", $"y").head().getAs[Double]("tau_b"))
    val sp = spark.sql(
      "CALL graft.spearman(`table` => 'sqlc_xy', x => 'x', y => 'y')").head()
    assert(sp.getAs[Double]("spearman_rho") == Profiling.spearmanCorr(
      spark.table("sqlc_xy"), $"x", $"y").head().getAs[Double]("spearman_rho"))

    Seq((ts("2024-01-01 05:00:00")), (ts("2024-01-02 05:00:00")),
      (ts("2024-01-02 06:00:00")), (ts("2024-01-03 05:00:00")),
      (ts("2024-01-03 06:00:00")), (ts("2024-01-03 07:00:00")))
      .map(Tuple1(_)).toDF("t").createOrReplaceTempView("sqlc_mk")
    val mk = spark.sql(
      "CALL graft.mann_kendall(`table` => 'sqlc_mk', ts => 't')").head()
    assert(mk.getAs[Long]("s_statistic") == StatTests.mannKendallTrend(
      spark.table("sqlc_mk"), $"t", 86400L).head().getAs[Long]("s_statistic"))
    val smk = spark.sql(
      "CALL graft.mann_kendall(`table` => 'sqlc_mk', ts => 't', seasons => '2')").head()
    assert(smk.getAs[Long]("n_seasons") == 2L)
    assert(smk.getAs[Long]("s_statistic") == StatTests.seasonalMannKendallTrend(
      spark.table("sqlc_mk"), $"t", 86400L, 2).head().getAs[Long]("s_statistic"))

    val ap = spark.sql(
      "CALL graft.ap(`table` => 'sqlc_sc', score => 'score', label => 'label')").head()
    assert(ap.getAs[Double]("ap") == Evaluation.averagePrecisionExact(
      t, $"score", $"label").head().getAs[Double]("ap"))

    val br = spark.sql(
      """CALL graft.brier(`table` => 'sqlc_sc', score => 'score',
        |  label => 'label', lo => '0.0', hi => '1.0', bins => '4')""".stripMargin).head()
    val brDirect = Evaluation.brierDecomposition(
      t, $"score", $"label", 0.0, 1.0, 4).head()
    assert(br.getAs[Long]("n") == brDirect.getAs[Long]("n"))

    val cs = spark.sql(
      "CALL graft.cusum(`table` => 'sqlc_mk', ts => 't')").collect()
    assert(cs.length == StatTests.cusumChangePoint(
      spark.table("sqlc_mk"), $"t", 86400L).count())

    // inline merges.txt vocabulary through the loader surface
    Seq((0L, "abab")).toDF("id", "text").createOrReplaceTempView("sqlc_bpe")
    val custom = spark.sql(
      """CALL graft.bpe_token_stats(`table` => 'sqlc_bpe', text => 'text',
        |  group_by => 'id', merges => 'a b
        |ab ab')""".stripMargin).head()
    assert(custom.getAs[Long]("total_bpe_tokens") == 1L,
      "custom vocab must merge 'abab' to one token: a b -> ab, ab ab -> abab")

    // the token-unit decision surfaces
    Seq(("a", 100L), ("b", 400L), ("c", 2500L))
      .toDF("src", "tk").createOrReplaceTempView("sqlc_mix")
    val mix = spark.sql(
      """CALL graft.mixture_plan(`table` => 'sqlc_mix', source => 'src',
        |  tokens => 'tk', budget_tokens => '800')""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("epochs")).toMap
    assert(mix == Map("a" -> 1.0, "b" -> 0.5, "c" -> 0.2))
    // the dedup-adjusted composition from SQL: dropping source c's
    // only row removes it from the plan and re-normalizes the rest
    Seq(("a", 100L, 1L), ("b", 400L, 2L), ("c", 2500L, 3L))
      .toDF("src", "tk", "doc_id").createOrReplaceTempView("sqlc_mixd")
    Seq(3L).toDF("doc_id").createOrReplaceTempView("sqlc_mixdrop")
    val mixd = spark.sql(
      """CALL graft.mixture_plan(`table` => 'sqlc_mixd', source => 'src',
        |  tokens => 'tk', budget_tokens => '300',
        |  drop_ids => 'sqlc_mixdrop', id => 'doc_id')""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("epochs")).toMap
    assert(mixd == Map("a" -> 1.0, "b" -> 0.5), s"dropped source must vanish: $mixd")
    Seq(("a", "x y z w"), ("b", "x x x"))
      .toDF("src", "text").createOrReplaceTempView("sqlc_ent")
    val ent = spark.sql(
      """CALL graft.token_entropy(`table` => 'sqlc_ent',
        |  group_by => 'src', text => 'text')""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getAs[Double]("entropy_bits")).toMap
    assert(ent("a") == 2.0 && ent("b") == 0.0)

    val zs = spark.sql(
      """CALL graft.zipf_slope(`table` => 'sqlc_ent',
        |  group_by => 'src', text => 'text')""".stripMargin)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(zs("a").getAs[Long]("n_distinct_tokens") == 4L)
    assert(zs("a").getAs[Double]("zipf_slope") == 0.0,
      "a flat 4-token distribution has slope 0 exactly")

    // the registry grew to 68 CALL-able checks (r16: the execution
    // surfaces takedown_execute + compact with dry-run defaults, and
    // near_dedup_incremental — the O(increment) production shape;
    // r18: ann_assign — build/grow the IVF cell-assignment store;
    // r19: ann_compact — compact the streamed assignment log into
    // the DPP-prunable serving table — plus knn_agreement and
    // hard_negatives (the embedding-diagnostics family with brute/
    // IVF/stored-assignment arms), ann_train (the codebook training
    // step, never-overwrite out discipline), and ann_drift (the
    // retrain trigger): the full production loop train → assign →
    // serve → monitor → compact is CALL-able)
    assert(graft.sql.GraftChecks.registry.size == 68)
  }

  test("SQL-callable execution surfaces: takedown_execute and compact dry-run by default, refuse loudly, execute on explicit true") {
    val base = java.nio.file.Files
      .createTempDirectory("sqlc_exec").toString
    val tbl = s"$base/tbl"
    // 4 single-row files so the plan/compaction have real work
    (1L to 4L).foreach { i =>
      Seq((i, s"doc $i")).toDF("doc_id", "text")
        .coalesce(1).write.mode("append").parquet(tbl)
    }
    Seq(Tuple1(2L)).toDF("doc_id").createOrReplaceTempView("sqlc_exec_ids")

    // 1. dry run (no execute arg): returns the PLAN, writes nothing
    val outT = s"$base/out_takedown"
    val plan = spark.sql(
      s"""CALL graft.takedown_execute(path => '$tbl',
         |  out_path => '$outT', id => 'doc_id',
         |  ids => 'sqlc_exec_ids')""".stripMargin).collect()
    assert(plan.length == 1 && plan.head.getAs[Long]("n_hit") == 1L,
      s"dry run returns the one-hit plan: ${plan.mkString(",")}")
    assert(!new java.io.File(outT).exists(),
      "a dry run must write NOTHING")

    // 2. a non-'true' execute value is refused, not coerced — and
    // still writes nothing
    val boom = intercept[Exception] {
      spark.sql(
        s"""CALL graft.takedown_execute(path => '$tbl',
           |  out_path => '$outT', id => 'doc_id',
           |  ids => 'sqlc_exec_ids', execute => 'yes')""".stripMargin)
        .collect()
    }
    assert(boom.getMessage.contains("execute must be exactly 'true'"))
    assert(!new java.io.File(outT).exists())

    // 3. in-place execution is refused by the operator guard
    val inPlace = intercept[Exception] {
      spark.sql(
        s"""CALL graft.takedown_execute(path => '$tbl',
           |  out_path => '$tbl', id => 'doc_id',
           |  ids => 'sqlc_exec_ids', execute => 'true')""".stripMargin)
        .collect()
    }
    assert(inPlace.getMessage.contains("in-place takedown is refused"))

    // 4. explicit execute => 'true' runs the rewrite and returns the
    // verified report
    val rep = spark.sql(
      s"""CALL graft.takedown_execute(path => '$tbl',
         |  out_path => '$outT', id => 'doc_id',
         |  ids => 'sqlc_exec_ids', execute => 'true')""".stripMargin)
      .collect().head
    assert(rep.getAs[Long]("rows_before") == 4L
      && rep.getAs[Long]("rows_dropped") == 1L
      && rep.getAs[Long]("rows_after") == 3L, s"takedown report: $rep")
    assert(spark.read.parquet(outT).count() == 3L)

    // 5. compact: dry run returns the pack plan; execute coalesces
    // the 4 files and verifies by read-back
    val outC = s"$base/out_compact"
    val cplan = spark.sql(
      s"""CALL graft.compact(path => '$tbl', out_path => '$outC',
         |  target_bytes => '10000000')""".stripMargin).collect()
    assert(cplan.length == 4 && !new java.io.File(outC).exists(),
      "compact dry run lists the 4 files, writes nothing")
    val crep = spark.sql(
      s"""CALL graft.compact(path => '$tbl', out_path => '$outC',
         |  target_bytes => '10000000', shards => '1',
         |  execute => 'true')""".stripMargin).collect().head
    assert(crep.getAs[Long]("rows_total") == 4L
      && crep.getAs[Long]("files_after") < crep.getAs[Long]("files_before"),
      s"compaction report: $crep")
    assert(spark.read.parquet(outC).count() == 4L)
  }

  test("SQL-callable checks: the dedup/similarity family (near_dedup/ann_topk/split_leakage/source_overlap) from SQL") {
    import graft.operators.{Dedup, Sampling}

    // near_dedup: two byte-identical docs cluster; the score election
    // keeps the HIGHER-scoring member, not the lower id
    val longText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, longText, 0.2), (2L, longText, 0.9),
        (3L, "completely different words entirely unrelated content here now truly", 0.5))
      .toDF("doc_id", "text", "quality").createOrReplaceTempView("sqlc_nd")
    val nd = spark.sql(
      """CALL graft.near_dedup(`table` => 'sqlc_nd', id => 'doc_id',
        |  text => 'text', score => 'quality')""".stripMargin)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("keep")).toMap
    assert(nd == Map(1L -> false, 2L -> true),
      s"the exact-duplicate pair must cluster and elect the best-scoring member: $nd")
    // the word-shingle unit (the q212/q213 scale spelling): same
    // election on the exact pair; chars-shared-words-disjoint docs
    // must NOT cluster under it
    Seq((1L, longText, 0.2), (2L, longText, 0.9),
        (3L, "thequickbrownfox jumpsoverthelazydog", 0.5),
        (4L, "thequickbrownfoxjumpsoverthelazydog", 0.6))
      .toDF("doc_id", "text", "quality").createOrReplaceTempView("sqlc_ndw")
    val ndw = spark.sql(
      """CALL graft.near_dedup(`table` => 'sqlc_ndw', id => 'doc_id',
        |  text => 'text', score => 'quality', unit => 'word')""".stripMargin)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("keep")))
    assert(ndw.collect { case (id, _, keep) if Set(1L, 2L)(id) => id -> keep }
      .toMap == Map(1L -> false, 2L -> true),
      s"word unit: exact pair clusters, best-scoring member kept: ${ndw.toSeq}")
    assert(!ndw.exists(r => Set(3L, 4L)(r._1) && r._2 > 1),
      s"word unit must not cluster the chars-shared/words-disjoint docs: ${ndw.toSeq}")
    intercept[Exception] {
      spark.sql("""CALL graft.near_dedup(`table` => 'sqlc_ndw',
        |  id => 'doc_id', text => 'text', unit => 'sentence')""".stripMargin)
        .collect()
    }

    // near_dedup_incremental: the corpus signature table (signed once,
    // the production between-runs artifact) screens a new batch —
    // the corpus duplicate drops, the novel doc survives, and the
    // CALL equals the operator it wraps
    val corpus = Seq((10L, longText),
        (11L, "some other corpus document with plenty of distinct words"))
      .toDF("doc_id", "text")
    Dedup.minhashSignaturesPortable(corpus, "doc_id", "text", n = 5, numHashes = 64)
      .createOrReplaceTempView("sqlc_ndi_sigs")
    Seq((20L, longText),
        (21L, "a genuinely novel document sharing nothing with the corpus"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlc_ndi_new")
    val kept = spark.sql(
      """CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_new',
        |  sigs => 'sqlc_ndi_sigs', id => 'doc_id', text => 'text')""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(21L),
      s"the corpus duplicate must drop, the novel doc must survive: $kept")
    intercept[Exception] { // signature-width mismatch refused loudly
      spark.sql("""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_new',
        |  sigs => 'sqlc_ndi_sigs', id => 'doc_id', text => 'text',
        |  hashes => '32')""".stripMargin).collect()
    }

    // sigs_out closes the loop from SQL: two chained increments via
    // CALL (store grown by side-by-side appends, re-registered
    // between runs) must equal the operator-layer chain exactly —
    // kept rows AND the signature store contents
    val sigStore = java.nio.file.Files
      .createTempDirectory("sqlc_ndi_store").toString
    Dedup.minhashSignaturesPortable(corpus, "doc_id", "text", n = 5, numHashes = 64)
      .write.mode("overwrite").parquet(s"$sigStore/base")
    spark.read.parquet(s"$sigStore/base").createOrReplaceTempView("sqlc_ndi_store0")
    val batch2 = Seq(
        (30L, longText),                                                  // dup of corpus
        (31L, "fresh first increment document with its own novel words"))
      .toDF("doc_id", "text")
    batch2.createOrReplaceTempView("sqlc_ndi_b2")
    val batch3 = Seq(
        (40L, "fresh first increment document with its own novel words"), // dup of 31 (prev increment)
        (41L, "a final wholly distinct document closing out the chain"))
      .toDF("doc_id", "text")
    batch3.createOrReplaceTempView("sqlc_ndi_b3")
    val keptB2 = spark.sql(
      s"""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_b2',
        |  sigs => 'sqlc_ndi_store0', id => 'doc_id', text => 'text',
        |  sigs_out => '$sigStore/inc1')""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptB2 == Set(31L), s"corpus dup drops in increment 1: $keptB2")
    // re-register the grown store (base + inc1) for the next increment
    spark.read.parquet(s"$sigStore/base", s"$sigStore/inc1")
      .createOrReplaceTempView("sqlc_ndi_store1")
    val keptB3 = spark.sql(
      s"""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_b3',
        |  sigs => 'sqlc_ndi_store1', id => 'doc_id', text => 'text',
        |  sigs_out => '$sigStore/inc2')""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptB3 == Set(41L),
      s"dup of a PREVIOUS increment's kept doc must drop — the append worked: $keptB3")
    // operator-layer chain over the same batches: store contents match
    val sigsOp0 = Dedup.minhashSignaturesPortable(corpus, "doc_id", "text", 5, 64)
    val (keptOp2, sigsNew2) = Dedup.dropNearDuplicatesAgainstWithSignatures(
      sigsOp0, batch2, "doc_id", "text", n = 5, numHashes = 64, portable = true)
    val sigsOp1 = sigsOp0.union(
      sigsNew2.join(keptOp2.select($"doc_id".as("id")), Seq("id"), "left_semi"))
    val (keptOp3, sigsNew3) = Dedup.dropNearDuplicatesAgainstWithSignatures(
      sigsOp1, batch3, "doc_id", "text", n = 5, numHashes = 64, portable = true)
    assert(keptOp2.select("doc_id").as[Long].collect().toSet == keptB2)
    assert(keptOp3.select("doc_id").as[Long].collect().toSet == keptB3)
    val storeRows = spark.read.parquet(s"$sigStore/base", s"$sigStore/inc1", s"$sigStore/inc2")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    val opRows = sigsOp1.union(
        sigsNew3.join(keptOp3.select($"doc_id".as("id")), Seq("id"), "left_semi"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
    assert(storeRows == opRows,
      "CALL-chained signature store must equal the operator-layer chain")
    sigsNew2.unpersist(); sigsNew3.unpersist()
    // in-place append refused: into the store leaf backing the
    // registered sigs table, and into a parent holding its files
    for (inPlace <- Seq(s"$sigStore/base", sigStore)) {
      val e = intercept[Exception] {
        spark.sql(s"""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_b2',
          |  sigs => 'sqlc_ndi_store0', id => 'doc_id', text => 'text',
          |  sigs_out => '$inPlace')""".stripMargin).collect()
      }
      assert(e.getMessage.contains("refused"), s"$inPlace: ${e.getMessage}")
    }

    // the PRE-BANDED production spelling from SQL: corpus band table
    // supplied via `banded`, both artifacts maintained via
    // sigs_out/banded_out — kept rows and the grown band store equal
    // the re-banding CALL chain above
    val bandStore = java.nio.file.Files
      .createTempDirectory("sqlc_ndi_bands").toString
    Dedup.bandedSignatures(spark.read.parquet(s"$sigStore/base"), 64, 16,
        portable = true)
      .write.mode("overwrite").parquet(s"$bandStore/base")
    spark.read.parquet(s"$bandStore/base").createOrReplaceTempView("sqlc_ndi_banded0")
    val keptB2Pre = spark.sql(
      s"""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_b2',
        |  sigs => 'sqlc_ndi_store0', id => 'doc_id', text => 'text',
        |  banded => 'sqlc_ndi_banded0',
        |  sigs_out => '$sigStore/pre_inc1', banded_out => '$bandStore/inc1')""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptB2Pre == keptB2, "pre-banded CALL must keep the same rows")
    // the appended band rows equal bandedSignatures of the appended sigs
    val bandRows = spark.read.parquet(s"$bandStore/inc1")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val expBandRows = Dedup.bandedSignatures(
        spark.read.parquet(s"$sigStore/pre_inc1"), 64, 16, portable = true)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(bandRows == expBandRows && bandRows.nonEmpty)
    // chain increment 2 against the grown PAIR of stores
    spark.read.parquet(s"$sigStore/base", s"$sigStore/pre_inc1")
      .createOrReplaceTempView("sqlc_ndi_store1p")
    spark.read.parquet(s"$bandStore/base", s"$bandStore/inc1")
      .createOrReplaceTempView("sqlc_ndi_banded1")
    val keptB3Pre = spark.sql(
      s"""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_b3',
        |  sigs => 'sqlc_ndi_store1p', id => 'doc_id', text => 'text',
        |  banded => 'sqlc_ndi_banded1')""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptB3Pre == keptB3,
      s"pre-banded chain must equal the re-banding chain: $keptB3Pre")
    // a banded table at the wrong bands is refused loudly
    Dedup.bandedSignatures(spark.read.parquet(s"$sigStore/base"), 64, 8,
        portable = true).createOrReplaceTempView("sqlc_ndi_banded_wrong")
    val eb = intercept[Exception] {
      spark.sql("""CALL graft.near_dedup_incremental(`table` => 'sqlc_ndi_b2',
        |  sigs => 'sqlc_ndi_store0', id => 'doc_id', text => 'text',
        |  banded => 'sqlc_ndi_banded_wrong')""".stripMargin).collect()
    }
    assert(eb.getMessage.contains("band"), eb.getMessage)

    // ann_topk: a query equal to a corpus vector must rank it first
    // (nlist/nprobe sized so every cell is probed -> exact)
    def vec(x: Float, y: Float) = Array(x, y)
    Seq((100L, vec(1f, 0f))).toDF("id", "emb").createOrReplaceTempView("sqlc_q")
    Seq((1L, vec(1f, 0f)), (2L, vec(0f, 1f)), (3L, vec(0.9f, 0.1f)), (4L, vec(-1f, 0f)))
      .toDF("id", "emb").createOrReplaceTempView("sqlc_c")
    val ann = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', corpus => 'sqlc_c',
        |  id => 'id', vec => 'emb', k => '2', nlist => '2', nprobe => '2')""".stripMargin)
      .orderBy($"cosine".desc).collect()
    assert(ann.length == 2)
    assert(ann.head.getAs[Long]("neighbor_id") == 1L
      && ann.head.getAs[Double]("cosine") > 0.999)
    // the persisted-codebook form: centroids as a catalog table
    Seq((0, Seq(1.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0)))
      .toDF("cell", "centroid").createOrReplaceTempView("sqlc_cents")
    val annCt = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', corpus => 'sqlc_c',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2',
        |  centroids => 'sqlc_cents')""".stripMargin)
      .orderBy($"cosine".desc).collect()
    assert(annCt.length == 2)
    assert(annCt.head.getAs[Long]("neighbor_id") == 1L
      && annCt.head.getAs[Double]("cosine") > 0.999)
    // the stored-assignment form: the materialized (id, vec, cell)
    // store replaces corpus — results equal the recompute CALL
    graft.operators.Similarity.ivfCellAssignments(
        spark.table("sqlc_c"), spark.table("sqlc_cents"), "id", "emb")
      .createOrReplaceTempView("sqlc_assigned")
    val annAs = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', assigned => 'sqlc_assigned',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2',
        |  centroids => 'sqlc_cents')""".stripMargin)
      .orderBy($"cosine".desc).collect()
    assert(annAs.map(_.toSeq).toSeq == annCt.map(_.toSeq).toSeq,
      "stored-assignment CALL must equal the recompute CALL")
    // assigned without centroids, and assigned alongside corpus, are
    // refused loudly (ignored knobs are bugs waiting to be learned)
    val ea1 = intercept[Exception](spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', assigned => 'sqlc_assigned',
        |  id => 'id', vec => 'emb', k => '2')""".stripMargin).collect())
    assert(ea1.getMessage.contains("centroids"), ea1.getMessage)
    val ea2 = intercept[Exception](spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', corpus => 'sqlc_c',
        |  assigned => 'sqlc_assigned', id => 'id', vec => 'emb', k => '2',
        |  centroids => 'sqlc_cents')""".stripMargin).collect())
    assert(ea2.getMessage.contains("corpus"), ea2.getMessage)
    // ann_assign: the CALL that BUILDS/GROWS the store — equals the
    // operator; with out, two appends reconstruct the full assignment
    val aaDir = java.nio.file.Files.createTempDirectory("sqlc_ann_assign").toString
    val aaCall = spark.sql(
      """CALL graft.ann_assign(corpus => 'sqlc_c', centroids => 'sqlc_cents',
        |  id => 'id', vec => 'emb')""".stripMargin)
      .collect().map(_.toSeq.toString).sorted.toSeq
    val aaOp = graft.operators.Similarity.ivfCellAssignments(
        spark.table("sqlc_c"), spark.table("sqlc_cents"), "id", "emb")
      .collect().map(_.toSeq.toString).sorted.toSeq
    assert(aaCall == aaOp, "ann_assign CALL must equal the operator")
    spark.table("sqlc_c").filter($"id" <= 2).createOrReplaceTempView("sqlc_c_b1")
    spark.table("sqlc_c").filter($"id" > 2).createOrReplaceTempView("sqlc_c_b2")
    spark.sql(s"""CALL graft.ann_assign(corpus => 'sqlc_c_b1',
      |  centroids => 'sqlc_cents', id => 'id', vec => 'emb',
      |  out => '$aaDir/store')""".stripMargin).collect()
    spark.sql(s"""CALL graft.ann_assign(corpus => 'sqlc_c_b2',
      |  centroids => 'sqlc_cents', id => 'id', vec => 'emb',
      |  out => '$aaDir/store')""".stripMargin).collect()
    val grownStore = spark.read.parquet(s"$aaDir/store")
      .select($"id", $"cell").collect().map(_.toSeq.toString).sorted.toSeq
    val fullAssign = graft.operators.Similarity.ivfCellAssignments(
        spark.table("sqlc_c"), spark.table("sqlc_cents"), "id", "emb")
      .select($"id", $"cell").collect().map(_.toSeq.toString).sorted.toSeq
    assert(grownStore == fullAssign,
      "two batch appends must reconstruct the full assignment store")
    // and the grown store serves ann_topk identically to recompute
    spark.read.parquet(s"$aaDir/store").createOrReplaceTempView("sqlc_assigned2")
    val annAs2 = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', assigned => 'sqlc_assigned2',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2',
        |  centroids => 'sqlc_cents')""".stripMargin)
      .orderBy($"cosine".desc).collect()
    assert(annAs2.map(_.toSeq).toSeq == annCt.map(_.toSeq).toSeq)
    // appending into the files backing the corpus being read: refused
    spark.read.parquet(s"$aaDir/store").createOrReplaceTempView("sqlc_c_inplace")
    val ea3 = intercept[Exception](spark.sql(
      s"""CALL graft.ann_assign(corpus => 'sqlc_c_inplace',
        |  centroids => 'sqlc_cents', id => 'id', vec => 'emb',
        |  out => '$aaDir/store')""".stripMargin).collect())
    assert(ea3.getMessage.contains("refused"), ea3.getMessage)
    // ann_compact: the CALL that rewrites the streamed assignment LOG
    // as the one DPP-prunable serving table — report read back from
    // the compacted store; serving from it equals the recompute CALL;
    // compacting INTO the log itself is refused
    val logDir = s"$aaDir/log"
    for ((src, sub) <- Seq("sqlc_c_b1" -> "base", "sqlc_c_b2" -> "batch_0"))
      graft.operators.Similarity.ivfCellAssignments(
          spark.table(src), spark.table("sqlc_cents"), "id", "emb")
        .repartition($"cell")
        .write.partitionBy("cell", "codebook_fp").parquet(s"$logDir/$sub")
    val rep = spark.sql(
      s"CALL graft.ann_compact(log => '$logDir', out => '$aaDir/compacted')")
      .collect()
    assert(rep.length == 1 && rep.head.getAs[Long]("n_rows") == 4L
      && rep.head.getAs[Long]("n_cells") >= 1L)
    spark.read.parquet(s"$aaDir/compacted")
      .createOrReplaceTempView("sqlc_compacted")
    val annAs3 = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', assigned => 'sqlc_compacted',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2',
        |  centroids => 'sqlc_cents')""".stripMargin)
      .orderBy($"cosine".desc).collect()
    assert(annAs3.map(_.toSeq).toSeq == annCt.map(_.toSeq).toSeq,
      "serving from the compacted log must equal the recompute CALL")
    val ea4 = intercept[Exception](spark.sql(
      s"CALL graft.ann_compact(log => '$logDir', out => '$logDir/base')")
      .collect())
    assert(ea4.getMessage.contains("refused"), ea4.getMessage)

    // knn_agreement / hard_negatives: the embedding-diagnostics family
    // from SQL — brute, IVF, and stored-assignment arms each equal the
    // operator; ignored-knob combinations refused
    Seq((100L, vec(1f, 0f), "a"), (101L, vec(0f, 1f), "b"))
      .toDF("id", "emb", "lbl").createOrReplaceTempView("sqlc_ql")
    Seq((1L, vec(1f, 0f), "a"), (2L, vec(0f, 1f), "a"),
      (3L, vec(0.9f, 0.1f), "b"), (4L, vec(-1f, 0f), "b"))
      .toDF("id", "emb", "lbl").createOrReplaceTempView("sqlc_cl")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toSeq.toString).sorted.toSeq
    assert(rows(spark.sql(
      """CALL graft.knn_agreement(queries => 'sqlc_ql', corpus => 'sqlc_cl',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2')""".stripMargin))
      == rows(graft.operators.Similarity.knnLabelAgreement(
        spark.table("sqlc_ql"), spark.table("sqlc_cl"),
        "id", "emb", "lbl", k = 2)),
      "brute knn_agreement CALL must equal the operator")
    assert(rows(spark.sql(
      """CALL graft.knn_agreement(queries => 'sqlc_ql', corpus => 'sqlc_cl',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2',
        |  nlist => '2', nprobe => '2')""".stripMargin))
      == rows(graft.operators.Similarity.knnLabelAgreementIvf(
        spark.table("sqlc_ql"), spark.table("sqlc_cl"),
        "id", "emb", "lbl", k = 2, nlist = 2, nprobe = 2)),
      "IVF knn_agreement CALL must equal the operator")
    // the stored arm: 2-dim centroids matching the vectors, labels
    // carried at rest
    Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0)))
      .toDF("cell", "centroid").createOrReplaceTempView("sqlc_cents2")
    graft.operators.Similarity.ivfCellAssignments(
        spark.table("sqlc_cl"), spark.table("sqlc_cents2"),
        "id", "emb", carry = Seq("lbl"))
      .createOrReplaceTempView("sqlc_assigned_lbl")
    assert(rows(spark.sql(
      """CALL graft.knn_agreement(queries => 'sqlc_ql',
        |  assigned => 'sqlc_assigned_lbl', centroids => 'sqlc_cents2',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2',
        |  nprobe => '2')""".stripMargin))
      == rows(graft.operators.Similarity.knnLabelAgreementIvfAssigned(
        spark.table("sqlc_ql"), spark.table("sqlc_assigned_lbl"),
        spark.table("sqlc_cents2"), "id", "emb", "lbl", k = 2, nprobe = 2)),
      "stored knn_agreement CALL must equal the operator")
    assert(rows(spark.sql(
      """CALL graft.hard_negatives(queries => 'sqlc_ql', corpus => 'sqlc_cl',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2',
        |  nlist => '2', nprobe => '2')""".stripMargin))
      == rows(graft.operators.Similarity.hardNegativesIvf(
        spark.table("sqlc_ql"), spark.table("sqlc_cl"),
        "id", "emb", "lbl", k = 2, nlist = 2, nprobe = 2)),
      "hard_negatives CALL must equal the operator")
    assert(rows(spark.sql(
      """CALL graft.hard_negatives(queries => 'sqlc_ql',
        |  assigned => 'sqlc_assigned_lbl', centroids => 'sqlc_cents2',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2',
        |  nprobe => '2')""".stripMargin))
      == rows(graft.operators.Similarity.hardNegativesIvfAssigned(
        spark.table("sqlc_ql"), spark.table("sqlc_assigned_lbl"),
        spark.table("sqlc_cents2"), "id", "emb", "lbl", k = 2, nprobe = 2)),
      "stored hard_negatives CALL must equal the operator")
    val ek1 = intercept[Exception](spark.sql(
      """CALL graft.knn_agreement(queries => 'sqlc_ql', corpus => 'sqlc_cl',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2',
        |  centroids => 'sqlc_cents2')""".stripMargin).collect())
    assert(ek1.getMessage.contains("assigned"), ek1.getMessage)
    val ek2 = intercept[Exception](spark.sql(
      """CALL graft.knn_agreement(queries => 'sqlc_ql', corpus => 'sqlc_cl',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2',
        |  nprobe => '2')""".stripMargin).collect())
    assert(ek2.getMessage.contains("nlist"), ek2.getMessage)
    val ek3 = intercept[Exception](spark.sql(
      """CALL graft.hard_negatives(queries => 'sqlc_ql', corpus => 'sqlc_cl',
        |  assigned => 'sqlc_assigned_lbl', centroids => 'sqlc_cents2',
        |  id => 'id', vec => 'emb', label => 'lbl', k => '2')""".stripMargin)
      .collect())
    assert(ek3.getMessage.contains("corpus"), ek3.getMessage)

    // ann_train: the production loop's first step from SQL — the CALL
    // equals the operator (same data, same seed), the trained codebook
    // drives the assign→serve chain, and persisting over an existing
    // path is refused (a codebook is versioned with its stores)
    val trainDir = java.nio.file.Files.createTempDirectory("sqlc_ann_train").toString
    val cbCall = rows(spark.sql(
      """CALL graft.ann_train(corpus => 'sqlc_c', vec => 'emb',
        |  nlist => '2')""".stripMargin))
    val cbOp = rows(graft.operators.Similarity.trainIvfCodebook(
      spark.table("sqlc_c"), "emb", nlist = 2))
    assert(cbCall == cbOp && cbCall.nonEmpty,
      "ann_train CALL must equal the operator")
    spark.sql(s"""CALL graft.ann_train(corpus => 'sqlc_c', vec => 'emb',
      |  nlist => '2', out => '$trainDir/cb')""".stripMargin).collect()
    spark.read.parquet(s"$trainDir/cb").createOrReplaceTempView("sqlc_cb")
    spark.sql(s"""CALL graft.ann_assign(corpus => 'sqlc_c',
      |  centroids => 'sqlc_cb', id => 'id', vec => 'emb',
      |  out => '$trainDir/store')""".stripMargin).collect()
    spark.read.parquet(s"$trainDir/store")
      .createOrReplaceTempView("sqlc_trained_store")
    val servedTrained = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q',
        |  assigned => 'sqlc_trained_store', centroids => 'sqlc_cb',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2')""".stripMargin)
      .orderBy($"cosine".desc).collect().map(_.toSeq).toSeq
    val servedRecompute = spark.sql(
      """CALL graft.ann_topk(queries => 'sqlc_q', corpus => 'sqlc_c',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2',
        |  centroids => 'sqlc_cb')""".stripMargin)
      .orderBy($"cosine".desc).collect().map(_.toSeq).toSeq
    assert(servedTrained == servedRecompute && servedTrained.nonEmpty,
      "the trained codebook's store must serve == its recompute form")
    val et1 = intercept[Exception](spark.sql(
      s"""CALL graft.ann_train(corpus => 'sqlc_c', vec => 'emb',
        |  nlist => '2', out => '$trainDir/cb')""".stripMargin).collect())
    assert(et1.getMessage.contains("versioned"), et1.getMessage)
    // assigned_log: serving from the maintained LOG layout (directory
    // of subtrees) by path == the catalog-table assigned form
    val annViaLog = spark.sql(
      s"""CALL graft.ann_topk(queries => 'sqlc_q', assigned_log => '$logDir',
        |  id => 'id', vec => 'emb', k => '2', nprobe => '2',
        |  centroids => 'sqlc_cents')""".stripMargin)
      .orderBy($"cosine".desc).collect()
    assert(annViaLog.map(_.toSeq).toSeq == annCt.map(_.toSeq).toSeq,
      "serving from the assignment log must equal the recompute CALL")
    val el1 = intercept[Exception](spark.sql(
      s"""CALL graft.ann_topk(queries => 'sqlc_q', assigned => 'sqlc_assigned2',
        |  assigned_log => '$logDir', id => 'id', vec => 'emb', k => '2',
        |  nprobe => '2', centroids => 'sqlc_cents')""".stripMargin).collect())
    assert(el1.getMessage.contains("one"), el1.getMessage)

    // ann_drift: the retrain trigger from SQL — raw-batch arm assigns
    // here and equals the operator; assigned_batch arm consumes a
    // pre-assigned frame; ignored-knob combination refused
    val driftCall = rows(spark.sql(
      """CALL graft.ann_drift(batch => 'sqlc_q', id => 'id', vec => 'emb',
        |  store => 'sqlc_assigned2', centroids => 'sqlc_cents')""".stripMargin))
    val driftOp = rows(graft.operators.Similarity.codebookDrift(
      graft.operators.Similarity.ivfCellAssignments(
        spark.table("sqlc_q"), spark.table("sqlc_cents"), "id", "emb"),
      spark.table("sqlc_assigned2"), spark.table("sqlc_cents")))
    assert(driftCall == driftOp && driftCall.nonEmpty,
      "ann_drift CALL must equal the operator")
    val driftPre = rows(spark.sql(
      """CALL graft.ann_drift(assigned_batch => 'sqlc_assigned',
        |  store => 'sqlc_assigned2', centroids => 'sqlc_cents')""".stripMargin))
    assert(driftPre == rows(graft.operators.Similarity.codebookDrift(
      spark.table("sqlc_assigned"), spark.table("sqlc_assigned2"),
      spark.table("sqlc_cents"))),
      "pre-assigned ann_drift CALL must equal the operator")
    val ed1 = intercept[Exception](spark.sql(
      """CALL graft.ann_drift(batch => 'sqlc_q', id => 'id', vec => 'emb',
        |  assigned_batch => 'sqlc_assigned', store => 'sqlc_assigned2',
        |  centroids => 'sqlc_cents')""".stripMargin).collect())
    assert(ed1.getMessage.contains("assigned_batch"), ed1.getMessage)

    // split_leakage: CALL == the operator, and the offender list names
    // the straddling group
    Seq(("g1", "train"), ("g1", "test"), ("g2", "train"), ("g3", "test"))
      .toDF("grp", "split").createOrReplaceTempView("sqlc_sl")
    val sl = spark.sql(
      "CALL graft.split_leakage(`table` => 'sqlc_sl', group => 'grp', split => 'split')").head()
    val slDirect = Sampling.splitLeakage(
      spark.table("sqlc_sl"), $"grp", $"split").head()
    assert(sl.toSeq == slDirect.toSeq)
    val off = spark.sql(
      """CALL graft.split_leakage(`table` => 'sqlc_sl', group => 'grp',
        |  split => 'split', offenders => 'true')""".stripMargin).collect()
    assert(off.map(_.getAs[String]("group")).toSeq == Seq("g1"))

    // source_overlap: CALL == the operator on a shared-text corpus
    Seq(("s1", longText), ("s2", longText),
        ("s3", "nothing shared with anyone else at all in this sentence"))
      .toDF("src", "text").createOrReplaceTempView("sqlc_ov")
    val ovCall = spark.sql(
      "CALL graft.source_overlap(`table` => 'sqlc_ov', text => 'text', group => 'src')")
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    val ovDirect = Dedup.sourceOverlapMatrix(
      spark.table("sqlc_ov"), "text", "src")
      .collect().map(r => (r.getAs[String]("source_a"), r.getAs[String]("source_b")) ->
        r.getAs[Double]("est_jaccard")).toMap
    assert(ovCall == ovDirect)
    assert(ovCall(("s1", "s2")) == 1.0, s"identical sources must overlap fully: $ovCall")

    // corpus_report: the one-look data card in long format, exact on
    // a hand-computed corpus (4 docs: one null text, one exact dup
    // pair, one duplicate id)
    Seq((java.lang.Long.valueOf(1L), "alpha beta"),
        (java.lang.Long.valueOf(1L), "gamma"),
        (java.lang.Long.valueOf(2L), "alpha beta"),
        (java.lang.Long.valueOf(3L), null.asInstanceOf[String]),
        (null.asInstanceOf[java.lang.Long], "delta"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlc_card")
    val card = spark.sql(
      "CALL graft.corpus_report(`table` => 'sqlc_card', id => 'doc_id', text => 'text')")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(card("n_docs") == 5.0)
    assert(card("null_text_frac") == 0.2)
    assert(card("null_id_frac") == 0.2)
    // duplicate ids over NON-NULL ids only: 4 non-null rows, 3 ids —
    // the null id must NOT count as a duplicate
    assert(card("duplicate_id_frac") == 0.25, s"4 non-null ids, 3 distinct: $card")
    assert(card("exact_dup_frac") == 1.0 - 3.0 / 4.0,
      s"4 non-null texts, 3 distinct contents: $card")
    assert(card("mean_words") == (2 + 1 + 2 + 0 + 1) / 5.0)

    // schema_drift: metadata-only diff, CALL == the operator
    spark.range(1).selectExpr("id", "CAST(1 AS INT) AS a", "'x' AS b")
      .createOrReplaceTempView("sqlc_cur")
    spark.range(1).selectExpr("id", "CAST(1.0 AS DOUBLE) AS a", "'y' AS c")
      .createOrReplaceTempView("sqlc_base")
    val drift = spark.sql(
      "CALL graft.schema_drift(current => 'sqlc_cur', baseline => 'sqlc_base')")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(drift == Map("b" -> "added", "c" -> "removed", "a" -> "retyped"))
  }

  test("SQL-callable checks: the provenance/layout family (manifest/pruning/takedown/compaction) from SQL") {
    import graft.operators.Provenance
    val dir = java.nio.file.Files.createTempDirectory("sqlc_prov").toString + "/t"
    spark.range(0, 600).selectExpr("id", "id * 2 AS v")
      .repartitionByRange(3, $"id").write.parquet(dir)

    val man = spark.sql(
      s"CALL graft.file_manifest(path => '$dir', stat_cols => 'id,v')")
      .collect()
    assert(man.length == 3 && man.map(_.getAs[Long]("n_rows")).sum == 600L)
    val manDirect = Provenance.fileManifest(spark.read.parquet(dir), Seq("id", "v"))
      .collect().map(r => r.getAs[String]("file_path") -> r.getAs[Long]("n_rows")).toMap
    assert(man.map(r => r.getAs[String]("file_path") -> r.getAs[Long]("n_rows")).toMap
      == manDirect)

    // a range hitting one file's envelope skips the other two
    val pe = spark.sql(
      s"""CALL graft.pruning_estimate(path => '$dir', stat_col => 'id',
         |  lo => '0', hi => '10')""".stripMargin).head()
    assert(pe.getAs[Long]("n_files") == 3L && pe.getAs[Long]("n_files_scanned") == 1L)

    Seq(5L, 6L).toDF("id").createOrReplaceTempView("sqlc_td")
    val tp = spark.sql(
      s"CALL graft.takedown_plan(path => '$dir', id => 'id', ids => 'sqlc_td')")
      .collect()
    assert(tp.length == 1 && tp.head.getAs[Long]("n_hit") == 2L,
      "a contiguous id slice must impact exactly one range-partitioned file")

    val cp = spark.sql(
      s"CALL graft.compaction_plan(path => '$dir', target_bytes => '100000000', shards => '1')")
      .collect()
    assert(cp.length == 3, "every physical file must be assigned to a group")
    assert(cp.map(r => (r.getAs[Long]("shard"), r.getAs[Long]("pack_id"))).distinct.length == 1,
      "all three small files fit one pack under a large target")
  }

  test("SQL-callable checks: the r15 eval/monitoring family from SQL") {
    import org.apache.spark.sql.functions._

    // retrieval_quality + ndcg: a 2-query run against known truth
    Seq((1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7),
        (2L, 20L, 0.9), (2L, 21L, 0.8))
      .toDF("qid", "item", "score").createOrReplaceTempView("sqlc_run")
    Seq((1L, 10L, 2L), (1L, 12L, 1L), (2L, 99L, 1L))
      .toDF("qid", "item", "gain").createOrReplaceTempView("sqlc_truth")
    val rq = spark.sql(
      """CALL graft.retrieval_quality(run => 'sqlc_run', truth => 'sqlc_truth',
        |  query => 'qid', item => 'item', score => 'score', k => '2')""".stripMargin)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    assert(rq(1L).getAs[Long]("hits") == 1L && rq(1L).getAs[Double]("rr") == 1.0)
    assert(rq(2L).getAs[Long]("hits") == 0L && rq(2L).isNullAt(
      rq(2L).fieldIndex("first_rel_rank")))
    val nd = spark.sql(
      """CALL graft.ndcg(run => 'sqlc_run', truth => 'sqlc_truth',
        |  query => 'qid', item => 'item', score => 'score',
        |  gain => 'gain', k => '2')""".stripMargin)
      .collect().map(r => r.getAs[Long]("query_id") -> r).toMap
    // q1: rank1 hit with gain 2, ideal = gains (2,1) at ranks (1,2)
    assert(nd(1L).getAs[Double]("ndcg") > 0.0 && nd(1L).getAs[Double]("ndcg") < 1.0)
    assert(nd(2L).isNullAt(nd(2L).fieldIndex("ndcg")) ||
      nd(2L).getAs[Double]("ndcg") == 0.0)

    // bm25_topk: term-bearing doc outranks the rest
    Seq((1L, "spark engine shuffles data"), (2L, "pandas frame"),
        (3L, "spark spark spark")).toDF("doc_id", "text")
      .createOrReplaceTempView("sqlc_bm")
    val bm = spark.sql(
      """CALL graft.bm25_topk(`table` => 'sqlc_bm', id => 'doc_id',
        |  text => 'text', terms => 'spark', k => '2',
        |  min_score => '0.000001')""".stripMargin).collect()
    assert(bm.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 3L))

    // isotonic: CALL == operator, grouped form keyed per source
    Seq((0.1, 0, "a"), (0.2, 0, "a"), (0.6, 1, "a"), (0.9, 1, "a"),
        (0.3, 1, "b"), (0.8, 0, "b"))
      .toDF("score", "label", "src").createOrReplaceTempView("sqlc_iso")
    val iso = spark.sql(
      """CALL graft.isotonic(`table` => 'sqlc_iso', score => 'score',
        |  label => 'label', lo => '0.0', hi => '1.0', bins => '4')""".stripMargin)
      .collect()
    assert(iso.nonEmpty)
    val ps = iso.map(_.getAs[Double]("calibrated_p"))
    assert(ps.sameElements(ps.sorted), "PAV mapping must be monotone")
    val isoBy = spark.sql(
      """CALL graft.isotonic(`table` => 'sqlc_iso', score => 'score',
        |  label => 'label', lo => '0.0', hi => '1.0', bins => '4',
        |  group => 'src')""".stripMargin).collect()
    assert(isoBy.map(_.getAs[String]("group_key")).toSet == Set("a", "b"))

    // ks_timeline: an injected level shift between two day buckets
    val tl = (0 until 200).map { i =>
      val day = i / 100
      (java.sql.Timestamp.valueOf(s"2024-01-0${day + 1} 00:00:${i % 60}"),
        if (day == 0) i % 10 * 1.0 else 100.0 + i % 10)
    }.toDF("t", "v")
    tl.createOrReplaceTempView("sqlc_tl")
    val kst = spark.sql(
      """CALL graft.ks_timeline(`table` => 'sqlc_tl', ts => 't',
        |  value => 'v', bucket_seconds => '86400')""".stripMargin).collect()
    assert(kst.length == 1 && kst.head.getAs[Double]("ks_stat") == 1.0,
      s"disjoint supports across the two days must read KS=1: ${kst.toSeq}")

    // media_census: one row per (kind, group); unknown kind prices NULL
    Seq(("image", "s1", 32, 32, 0L), ("image", "s1", 16, 16, 0L),
        ("audio", "s1", 0, 0, 1500L), ("video", "s2", 16, 16, 0L),
        ("text", "s2", 0, 0, 0L))
      .toDF("kind", "src", "w", "h", "ms").createOrReplaceTempView("sqlc_mc")
    val mc = spark.sql(
      """CALL graft.media_census(`table` => 'sqlc_mc', kind => 'kind',
        |  group => 'src', width => 'w', height => 'h',
        |  duration_ms => 'ms')""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(mc(("image", "s1")).getAs[Long]("total_tokens") == (4L + 1L) + (1L + 1L))
    assert(mc(("audio", "s1")).getAs[Long]("total_tokens") == 75L)
    assert(mc(("video", "s2")).getAs[Long]("total_tokens") == 8L * 2L)
    assert(mc(("text", "s2")).isNullAt(
      mc(("text", "s2")).fieldIndex("total_tokens")))

    // compression: CALL == the operator at the production vocab
    Seq((1L, "the cat sat on the mat", "a"), (2L, "xyzzy", "b"))
      .toDF("doc_id", "text", "src").createOrReplaceTempView("sqlc_cmp")
    val cmp = spark.sql(
      """CALL graft.compression(`table` => 'sqlc_cmp', group => 'src',
        |  text => 'text')""".stripMargin).collect()
    val cmpDirect = graft.operators.TextAnalysis.tokenizerCompressionBy(
      spark.table("sqlc_cmp"), col("src"), col("text"),
      graft.functions.BpeVocab.production).collect()
    assert(cmp.map(_.toSeq).toSet == cmpDirect.map(_.toSeq).toSet)
    intercept[IllegalArgumentException] {
      graft.sql.GraftChecks.run(spark, "compression",
        Map("table" -> "sqlc_cmp", "group" -> "src", "text" -> "text",
          "vocab" -> "bogus"))
    }

    // lang_id census: english markers detected
    Seq("the cat is on the mat and the dog is in the house",
        "el gato y el perro en la casa").toDF("text")
      .createOrReplaceTempView("sqlc_li")
    val li = spark.sql(
      "CALL graft.lang_id(`table` => 'sqlc_li', text => 'text')")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(li.getOrElse("en", 0L) >= 1L, s"english doc must be detected: $li")
    assert(li.values.sum == 2L)

    // text_quality: per-doc features via CALL
    val tq = spark.sql(
      "CALL graft.text_quality(`table` => 'sqlc_cmp', id => 'doc_id', text => 'text')")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(tq(1L).getAs[Long]("n_tokens") == 6L)
    assert(tq(1L).getAs[Double]("stopword_ratio") > 0.0)

    // pagerank: a 3-node chain ranks the sink highest
    Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
      .createOrReplaceTempView("sqlc_pr")
    val pr = spark.sql(
      "CALL graft.pagerank(`table` => 'sqlc_pr', src => 's', dst => 'd')")
      .collect()
    assert(pr.length == 3)
    val byNode = pr.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byNode(3L) > byNode(1L), s"sink must outrank the source: $byNode")
  }

  test("SQL-callable checks: the r15 curation family from SQL") {
    import org.apache.spark.sql.functions._

    // dedup_exact: one group per distinct content, min id elected
    Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlc_de")
    val de = spark.sql(
      "CALL graft.dedup_exact(`table` => 'sqlc_de', id => 'doc_id', content => 'text')")
      .collect().map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("dup_count")).toMap
    assert(de == Map(1L -> 2L, 3L -> 1L))

    // decontaminate: the doc sharing the bench 3-gram is dropped
    Seq((1L, "alpha beta gamma delta"), (2L, "zeta eta theta iota"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlc_corpus")
    Seq((100L, "alpha beta gamma")).toDF("doc_id", "text")
      .createOrReplaceTempView("sqlc_bench")
    val dc = spark.sql(
      """CALL graft.decontaminate(corpus => 'sqlc_corpus', bench => 'sqlc_bench',
        |  id => 'doc_id', text => 'text', n => '3')""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(dc == Set(2L), s"contaminated doc 1 must be dropped: $dc")

    // redact_pii: default patterns strike an email, counts ride along
    Seq((1L, "contact me at user@example.com please"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlc_pii")
    val rp = spark.sql(
      "CALL graft.redact_pii(`table` => 'sqlc_pii', id => 'doc_id', text => 'text')")
      .head()
    assert(!rp.getAs[String]("text_redacted").contains("user@example.com"))

    // chunk_tokens: CALL == the operator at the production vocab
    Seq((1L, "the cat sat on the mat and then the dog sat too"))
      .toDF("doc_id", "text").createOrReplaceTempView("sqlc_ck")
    val ck = spark.sql(
      """CALL graft.chunk_tokens(`table` => 'sqlc_ck', id => 'doc_id',
        |  text => 'text', budget => '4')""".stripMargin).collect()
    val ckDirect = graft.operators.TextAnalysis.chunkByTokenBudget(
      spark.table("sqlc_ck"), "doc_id", "text", 4,
      graft.functions.BpeVocab.production).collect()
    assert(ck.map(_.toSeq).toSet == ckDirect.map(_.toSeq).toSet && ck.length > 1)

    // sample_budget: CALL == the operator; kept weight <= budget
    val sb0 = (1L to 50L).map(i => (i, 10L)).toDF("id", "w")
    sb0.createOrReplaceTempView("sqlc_sb")
    val sb = spark.sql(
      """CALL graft.sample_budget(`table` => 'sqlc_sb', id => 'id',
        |  weight => 'w', budget => '100')""".stripMargin).collect()
    val sbDirect = graft.operators.Sampling.sampleToBudget(
      spark.table("sqlc_sb"), "id", col("w"), 100L).collect()
    assert(sb.map(_.toSeq).toSet == sbDirect.map(_.toSeq).toSet)
    assert(sb.map(_.getAs[Long]("w")).sum <= 100L && sb.nonEmpty)

    // winsorized_stats: CALL == the operator on a grouped outlier set
    Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("a", 1000.0), ("b", 5.0))
      .toDF("grp", "v").createOrReplaceTempView("sqlc_ws")
    val ws = spark.sql(
      "CALL graft.winsorized_stats(`table` => 'sqlc_ws', value => 'v', group => 'grp')")
      .collect()
    val wsDirect = graft.operators.Checks.winsorizedStats(
      spark.table("sqlc_ws"), "v", "grp").collect()
    assert(ws.map(_.toSeq).toSet == wsDirect.map(_.toSeq).toSet && ws.nonEmpty)

    // vocab rejection is shared across the token-denominated checks
    intercept[IllegalArgumentException] {
      graft.sql.GraftChecks.run(spark, "chunk_tokens",
        Map("table" -> "sqlc_ck", "id" -> "doc_id", "text" -> "text",
          "budget" -> "4", "vocab" -> "bogus"))
    }
  }
}
