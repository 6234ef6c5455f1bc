package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Layer-attributed benchmark main. `perfbench/run.py` builds the
  * classpath, generates the seeded fleet and its expected reports, and
  * launches this with:
  *
  *   --workload W --seed N --seconds S --trace 0|1
  *   --work D --corpus D --fleet D --generate-s X
  *
  * One process, `local[4]`, 4 shuffle partitions, one client issuing
  * checks one after another. Set-up runs `rounds` times (session,
  * warm-up, input generation, fixtures) and reports the median; then
  * the measured window runs one cold pass and warm passes until
  * `seconds` have elapsed and `minWarmPasses` have run. Outputs are
  * checked after the window closes.
  */
object Main {
  val rounds = 3
  val minWarmPasses = 4
  val maxPasses = 200

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** The highest of p99/p95/p90/p75/p50 with at least 10 samples above it. */
  def tailPercentile(n: Int): Double =
    Seq(0.99, 0.95, 0.9, 0.75, 0.5).find(p => n * (1 - p) >= 10).getOrElse(0.5)

  def session(dirs: Dirs): SparkSession = {
    val b = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", dirs.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", dirs.work.resolve("warehouse").toString)
    val s = graft.GraftSession.configure(b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.LogSilence.boundedWindowWarnings()
    s
  }

  final case class PassRec(index: Int, traced: Boolean, wall: Double,
      checks: Seq[(String, Double)], layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val dirs = Dirs(Paths.get(opt("work")), Paths.get(opt("corpus")), Paths.get(opt("fleet")))
    val generateS = opt("generate-s").toDouble
    Files.createDirectories(dirs.work)
    val t = new Tracer
    val wl = Workloads(workloadName, seed, dirs)

    // ---- set-up, several rounds, median reported -------------------
    var spark: SparkSession = null
    (1 to rounds).foreach { k =>
      if (spark != null) spark.stop()
      t.span("setup", s"setup-$k") {
        spark = t.span("session")(session(dirs))
        t.span("warmup")(spark.read.parquet(dirs.corpus.resolve("lineitem.parquet").toString)
          .groupBy("l_returnflag").count().collect())
        t.span("generate")(wl.generate(spark, k))
        t.span("fixture")(wl.fixtures(spark, k))
      }
    }
    def setupMedian(name: String) =
      median(t.spans.filter(s => s.check.startsWith("setup-") && s.name == name).map(_.seconds).toSeq)
    System.err.println("[perfbench] set-up rounds (s): " +
      t.spans.filter(_.name == "setup").map(s => f"${s.seconds}%.2f").mkString(" "))

    // ---- measured window ------------------------------------------
    val rec = new Recorder
    var attached = false
    def setTraced(on: Boolean): Unit = if (on != attached) {
      if (on) { rec.clear(); rec.seedStorage(spark); rec.attach(spark) }
      else rec.detach(spark)
      attached = on
    }
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val results = mutable.ArrayBuffer.empty[(Int, String, Either[String, Option[Long]])]
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val windowStart = t.now()
    val deadline = windowStart + seconds * 1e3
    var attempted = 0
    var p = 0
    def warmDone = passes.count(_.index > 0)
    while (p == 0 || (p < maxPasses && (t.now() < deadline || warmDone < minWarmPasses ||
        (trace && (passes.count(x => x.index > 0 && x.traced) < 2 ||
          passes.count(x => x.index > 0 && !x.traced) < 2))))) {
      // traced runs trace the cold pass, then alternate untraced/traced
      val traced = trace && p % 2 == 0
      setTraced(traced)
      wl.beforePass(p)
      val timed = wl.checks.map { c =>
        attempted += 1
        val cs = t.now()
        val ran = try Right(t.span("check", c.id)(c.run(t)))
          catch { case e: Throwable => Left(e) }
        val ce = t.now()
        val verdict = ran match {
          case Right(r) => try t.span("verify")(r.verify()) catch { case e: Throwable => Left(msg(e)) }
          case Left(e) => Left(msg(e))
        }
        results += ((p, c.id, verdict))
        (c.id, cs, ce)
      }
      val layers = if (traced) {
        rec.drain()
        val m = Layers.passTotals(rec, t.spans.toSeq, timed) ++ Map(
          "cache.storage_peak_mb" -> rec.storagePeakMb(timed.head._2, timed.last._3),
          "cache.pinned_after" -> rec.storedRdds.toDouble)
        rec.clear()
        m
      } else Map.empty[String, Double]
      wl.afterPass(p)
      val wall = timed.map { case (_, s, e) => e - s }.sum / 1e3
      passes += PassRec(p, traced, wall, timed.map { case (id, s, e) => id -> (e - s) / 1e3 }, layers)
      System.err.println(f"[perfbench] pass $p${if (traced) " traced" else ""}: $wall%.3f s " +
        timed.map { case (id, s, e) => f"$id ${(e - s) / 1e3}%.2f" }.mkString("(", ", ", ")"))
      p += 1
    }
    setTraced(false)

    // ---- output checks (untimed) ------------------------------------
    val expected = try wl.expected(spark) catch {
      case e: Throwable => wl.checks.map(c => c.id -> Left(msg(e))).toMap
    }
    // every check execution that errored or returned a wrong output
    val failures = results.flatMap { case (pass, id, got) =>
      val why = (got, expected.get(id)) match {
        case (Left(m), _) => Some(m)
        case (_, None) => Some("no expected value")
        case (_, Some(Left(m))) => Some(s"expected value unavailable: $m")
        case (Right(g), Some(Right(e))) =>
          if (g == e) None else Some(s"fingerprint $g, expected $e")
      }
      why.map(w => s"pass $pass $id: $w")
    }
    val failedChecks = failures.size

    // ---- metrics ----------------------------------------------------
    val warm = passes.filter(_.index > 0).toSeq
    val steady = warm.drop(warm.size / 2)
    val out = mutable.LinkedHashMap.empty[String, (Double, String)]
    val notes = mutable.ArrayBuffer.empty[String]
    if (!trace) {
      val samples = steady.flatMap(_.checks.map(_._2))
      val tp = tailPercentile(samples.size)
      out("setup_s") = (generateS + setupMedian("setup"), "s")
      out("warm_pass_s") = (median(steady.map(_.wall)), "s")
      out("check_p50_s") = (median(samples), "s")
      // printed, not gated: a single cold pass per process spreads wider
      // than any bound the host allows, and below 20 samples the tail
      // falls back to p50
      notes += f"cold_pass_s ${passes.head.wall}%.6f s"
      notes += f"check_tail_s ${percentile(samples, tp)}%.6f s (p${tp * 100}%.0f over " +
        f"${samples.size} check samples from ${steady.size} steady of ${warm.size} warm passes)"
    } else {
      val tr = steady.filter(_.traced)
      val un = steady.filter(!_.traced)
      val keys = Seq("load.jobs", "load.s", "build.s", "build.jobs", "build.share",
        "cache.persists", "cache.storage_peak_mb", "cache.pinned_after",
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "catalyst.actions", "exec.s", "exec.jobs", "exec.stages", "exec.tasks",
        "exec.task_run_s", "exec.task_cpu_s", "exec.task_wait_s", "exec.gc_s",
        "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.input_mb",
        "exec.spill_mb", "exec.failed_tasks", "exec.core_util",
        "sink.write_s", "sink.verify_s", "sink.bytes_written_mb", "sink.rows",
        "sql.parse_s", "sql.call_s", "remainder_s")
      def layer(p: PassRec, k: String): Double = {
        val l = p.layers.withDefaultValue(0.0)
        k match {
          case "build.share" => l("build.s") / math.max(l("wall_s"), 1e-9)
          case "exec.core_util" =>
            l("exec.task_run_s") / math.max(Layers.cores * l("job_wall_s"), 1e-9)
          case other => l(other)
        }
      }
      keys.foreach { k =>
        val unit =
          if (k.endsWith("_s") || k.endsWith(".s")) "s"
          else if (k.endsWith("_mb")) "MB"
          else if (k == "build.share" || k == "exec.core_util") "ratio"
          else "count"
        out(k) = (median(tr.map(layer(_, k))), unit)
      }
      val fan = wl match {
        case f: FleetEtl => f.lastReport
        case _ => None
      }
      out("fanout.sources") = (fan.map(r => (r.sourcesTotal - r.skipped.size).toDouble).getOrElse(0.0), "count")
      out("fanout.skipped") = (fan.map(_.skipped.size.toDouble).getOrElse(0.0), "count")
      out("setup.session_s") = (setupMedian("session"), "s")
      out("setup.generate_s") = (generateS + setupMedian("generate"), "s")
      out("setup.fixture_s") = (setupMedian("fixture"), "s")
      out("jvm.heap_peak_mb") = (ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed.toDouble).sum / 1e6, "MB")
      val trW = median(tr.map(_.wall))
      val unW = median(un.map(_.wall))
      out("trace.traced_warm_pass_s") = (trW, "s")
      out("trace.untraced_warm_pass_s") = (unW, "s")
      out("trace.overhead_s") = (trW - unW, "s")
      t.writeJsonl(dirs.work.getParent.resolve(s"trace-$workloadName.jsonl"))
    }
    spark.stop()

    failures.take(20).foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    out.foreach { case (k, (v, u)) => println(f"$k%-28s $v%.6f $u") }
    notes.foreach(println)
    println(f"failed_share ${failedChecks.toDouble / attempted}%.6f ratio ($failedChecks failed of $attempted checks)")
    val metrics = out.map { case (k, (v, u)) =>
      s""""$k": {"value": ${jnum(v)}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, "failed": $failedChecks, "metrics": {$metrics}}""")
    if (failures.nonEmpty) sys.exit(1)
  }

  private def jnum(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.toPlainString

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).replaceAll("\\s+", " ").take(300)
}

