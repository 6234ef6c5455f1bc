package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock spans around the public calls the benchmark makes. Times
  * are epoch milliseconds (fractional), the clock Spark's listener
  * events carry, so spans, jobs and Catalyst phases share one axis.
  */
final case class Span(
    id: Int, name: String, check: String, parent: Int,
    start: Double, end: Double) {
  def seconds: Double = (end - start) / 1e3
}

final class Tracer {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var check = ""

  /** Record `f` as a span named `name`; nested calls become children.
    * A span opened with `checkId` set starts a new check. */
  def span[T](name: String, checkId: String = null)(f: => T): T = {
    if (checkId != null) check = checkId
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = now()
    try f
    finally {
      stack = stack.tail
      spans += Span(id, name, check, parent, t0, now())
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= f"""{"id":${s.id},"name":"${s.name}","check":"${s.check}","parent":${s.parent},"start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}""" += '\n'
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

final case class JobRec(
    id: Int, callSite: String, execId: Long, start: Long, stageIds: Seq[Int]) {
  @volatile var end: Long = -1L
}

final case class StageRec(
    runMs: Long, cpuNs: Long, gcMs: Long, tasks: Int,
    shuffleRead: Long, shuffleWrite: Long, input: Long, spill: Long,
    outBytes: Long, outRecords: Long)

final case class Phase(name: String, start: Long, end: Long)

/** One listener object for both Spark listener interfaces. It records
  * job, stage, task, storage and Catalyst-phase events; attribution to
  * layers happens afterwards, from these records and the spans. */
final class Recorder extends SparkListener with QueryExecutionListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val stageSubmit = mutable.HashMap.empty[Int, Long]
  /** stage id -> summed (task launch − stage submission) ms */
  val taskWait = mutable.HashMap.empty[Int, Long].withDefaultValue(0L)
  val failedTasks = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  val phases = mutable.ArrayBuffer.empty[Phase]
  /** RDD block id -> stored bytes; a time series of the total. */
  private val blocks = mutable.HashMap.empty[String, Long]
  val storage = mutable.ArrayBuffer.empty[(Long, Long)]
  val cachedRdds = mutable.ArrayBuffer.empty[(Long, Int)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    // the result stage is named after the call site of the action
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = JobRec(e.jobId, site, exec, e.time, e.stageIds)
  }
  /** SQL execution id -> call site of the action that started it. AQE
    * submits its stage jobs from a thread pool, so a job's own call site
    * names the pool; the execution's description names the caller. */
  val execSites = mutable.HashMap.empty[Long, String]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { execSites(s.executionId) = s.description }
    case _ => ()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    if (m != null) stages(si.stageId) = StageRec(
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, si.numTasks,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.inputMetrics.bytesRead, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSubmit.get(e.stageId).foreach { s =>
      taskWait(e.stageId) += math.max(0L, e.taskInfo.launchTime - s)
    }
    if (e.reason != org.apache.spark.Success) failedTasks(e.stageId) += 1
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = info.blockId.name
      val bytes = info.memSize + info.diskSize
      val now = System.currentTimeMillis()
      if (info.storageLevel.isValid && bytes > 0) {
        if (!blocks.contains(key)) {
          val rdd = info.blockId.asRDDId.map(_.rddId).getOrElse(-1)
          cachedRdds += ((now, rdd))
        }
        blocks(key) = bytes
      } else blocks.remove(key)
      storage += ((now, blocks.values.sum))
    }
  }
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.startsWith(s"rdd_${e.rddId}_")).toSeq.foreach(blocks.remove)
    storage += ((System.currentTimeMillis(), blocks.values.sum))
  }
  def storedRdds: Int = synchronized {
    blocks.keys.map(_.split('_')(1)).toSet.size
  }
  /** Start from what is cached now: caches pinned while the recorder
    * was detached would otherwise be invisible. */
  def seedStorage(spark: SparkSession): Unit = synchronized {
    blocks.clear()
    spark.sparkContext.getRDDStorageInfo.filter(_.isCached).foreach { r =>
      blocks(s"rdd_${r.id}_seed") = r.memSize + r.diskSize
    }
  }
  def storagePeakMb(from: Double, to: Double): Double = synchronized {
    val inWindow = storage.filter(x => x._1 >= from && x._1 <= to).map(_._2)
    (inWindow :+ blocks.values.sum).max / 1e6
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (n, p) =>
      phases += Phase(n, p.startTimeMs, p.endTimeMs)
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def allJobsEnded: Boolean = synchronized { jobs.values.forall(_.end >= 0) }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageSubmit.clear(); taskWait.clear()
    failedTasks.clear(); phases.clear(); execSites.clear()
    storage.clear(); cachedRdds.clear()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Listener events arrive asynchronously; wait until every started
    * job has ended and the event counts stay still for a moment. */
  def drain(): Unit = {
    var last = -1
    var still = 0
    var waited = 0
    while ((still < 3 || !allJobsEnded) && waited < 10000) {
      Thread.sleep(40); waited += 40
      val n = synchronized(jobs.size + stages.size + phases.size + storage.size)
      if (n == last) still += 1 else { still = 0; last = n }
    }
  }
}

/** Splits each check's wall time across the repository's layers.
  *
  * Every instant of a check is given to exactly one label, by priority:
  * a running job (labelled by the layer whose call started it), then a
  * Catalyst phase, then the self time of an `sql` span (work on the
  * calling thread outside any job), and
  * otherwise the unattributed remainder. The labels therefore sum to the
  * check's wall time. Jobs started inside `spark.sql("CALL …")` are the
  * operators' eager probes: the build layer.
  */
object Layers {
  val cores = 4

  /** A job's call site: its SQL execution's when it has one. */
  def callSites(rec: Recorder): Map[Int, String] =
    rec.jobs.values.map(j => j.id -> rec.execSites.getOrElse(j.execId, j.callSite)).toMap

  def jobLayer(site: String, execId: Long, inCall: Boolean, writeExecs: Set[Long]): String =
    if (site.contains("Sinks.scala"))
      if (execId >= 0 && writeExecs.contains(execId)) "sink.write" else "sink.verify"
    else if (site.contains("Tables.scala") || site.contains("Pipelines.scala") ||
      site.contains("FanOut.scala")) "load"
    else if (inCall) "build"
    else "exec"

  private val jobPriority = Seq("sink.write", "sink.verify", "load", "build", "exec")

  /** Per-pass layer totals for the checks of one pass. */
  def passTotals(rec: Recorder, spans: Seq[Span], checks: Seq[(String, Double, Double)])
      : Map[String, Double] = rec.synchronized {
    val out = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    val sites = callSites(rec)
    val writeExecs = rec.jobs.values.filter { j =>
      j.stageIds.exists(s => rec.stages.get(s).exists(_.outRecords > 0))
    }.map(_.execId).filter(_ >= 0).toSet
    checks.foreach { case (checkId, cs, ce) =>
      val mySpans = spans.filter(s => s.check == checkId && s.start >= cs - 1 && s.end <= ce + 1)
      val calls = mySpans.filter(_.name == "sql")
      def inCall(t: Double) = calls.exists(s => s.start <= t && t <= s.end)
      val jobs = rec.jobs.values.filter(j => j.start >= cs - 1 && j.start <= ce).toSeq
      val labelled = jobs.map { j =>
        val layer = jobLayer(sites(j.id), j.execId, inCall(j.start.toDouble), writeExecs)
        (layer, j.start.toDouble, (if (j.end >= 0) j.end else ce.toLong).toDouble)
      }
      val phaseIv = rec.phases.filter(p => p.end >= cs && p.start <= ce)
        .map(p => ("catalyst." + p.name, p.start.toDouble, p.end.toDouble))
      val spanIv = calls.map(s => ("sql.parse", s.start, s.end))
      // sweep over the elementary segments of the check interval
      val cuts = (Seq(cs, ce) ++ (labelled ++ phaseIv ++ spanIv).flatMap(x => Seq(x._2, x._3)))
        .filter(t => t >= cs && t <= ce).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val m = (a + b) / 2
          def covering(iv: Iterable[(String, Double, Double)]) =
            iv.filter(x => x._2 <= m && m < x._3).map(_._1)
          val js = covering(labelled).toSet
          val label = jobPriority.find(js.contains)
            .orElse(covering(phaseIv).headOption)
            .orElse(covering(spanIv).headOption)
            .getOrElse("remainder")
          val key = label match {
            case "remainder" => "remainder_s"
            case l if l.contains('.') => l + "_s"
            case l => l + ".s"
          }
          out(key) += (b - a) / 1e3
        case _ => ()
      }
      out("wall_s") += (ce - cs) / 1e3
      // job counts by layer, execution statistics over all jobs
      labelled.groupBy(_._1).foreach { case (l, js) =>
        if (l != "exec") out(l + ".jobs") += js.size
      }
      out("exec.jobs") += jobs.size
      val stageIds = jobs.flatMap(_.stageIds).distinct
      val done = stageIds.flatMap(s => rec.stages.get(s).map(s -> _))
      out("exec.stages") += done.size
      done.foreach { case (sid, st) =>
        out("exec.tasks") += st.tasks
        out("exec.task_run_s") += st.runMs / 1e3
        out("exec.task_cpu_s") += st.cpuNs / 1e9
        out("exec.gc_s") += st.gcMs / 1e3
        out("exec.shuffle_read_mb") += st.shuffleRead / 1e6
        out("exec.shuffle_write_mb") += st.shuffleWrite / 1e6
        out("exec.input_mb") += st.input / 1e6
        out("exec.spill_mb") += st.spill / 1e6
        out("exec.task_wait_s") += rec.taskWait(sid) / 1e3
        out("exec.failed_tasks") += rec.failedTasks(sid)
        out("sink.bytes_written_mb") += st.outBytes / 1e6
        out("sink.rows") += st.outRecords
      }
      out("job_wall_s") += union(labelled.map(x => (x._2, x._3))) / 1e3
      out("catalyst.actions") += rec.phases
        .count(p => p.name == "planning" && p.end >= cs && p.end <= ce + 1)
      out("cache.persists") += rec.cachedRdds.count(x => x._1 >= cs && x._1 <= ce + 1)
      out("sql.call_s") += calls.map(_.seconds).sum
    }
    out.toMap
  }

  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
