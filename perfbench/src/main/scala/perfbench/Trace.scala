package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval. `req` ties the spans of one operation together:
  * a client round trip, the log call it caused, and (through the Spark job
  * group, which carries the same id) the jobs and stages that ran for it. */
final case class Span(name: String, req: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

final class JobRec(val id: Int, val group: String, val execId: Long,
    val startUs: Long, val stageIds: Seq[Int]) {
  @volatile var endUs: Long = -1L
}

final class StageRec(val id: Int) {
  var submitUs = -1L
  var endUs = -1L
  var tasks = 0
  var runMs = 0L
  var maxTaskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
}

/** A finished query execution: planning phases (epoch ms intervals) and
  * what its file scans read (files, bytes). */
final case class QeRec(id: Long, phases: Map[String, (Long, Long)],
    files: Long, fileBytes: Long, walrusScan: Boolean)

final case class Trigger(runId: String, batchId: Long, startUs: Long,
    durMs: Map[String, Long], rows: Long, endCommitIndex: Long)

/** The traced run's recorder. Spans are held in memory and written out at
  * the end; the hooks are a SparkListener (jobs, stages, tasks, and each SQL
  * execution's `QueryExecution` as its end event delivers it) and a
  * StreamingQueryListener registered by the benchmark, plus the spans the
  * benchmark's own code records around its calls into the program. */
final class Recorder(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  val jobs = TrieMap.empty[Int, JobRec]
  val stages = TrieMap.empty[Int, StageRec]
  val execGroups = TrieMap.empty[Long, String]
  private val qes = new ConcurrentLinkedQueue[QeRec]()
  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  def add(s: Span): Unit = spans.add(s)

  def span[T](name: String, req: String)(f: => T): T = {
    val t0 = Clock.nowUs()
    try f finally add(Span(name, req, t0, Clock.nowUs()))
  }

  /** Run `f` with the calling thread's Spark job group set to `req`, so
    * every job `f` submits from this thread is attributed to it; the
    * thread's previous group is restored afterwards. */
  def inGroup[T](req: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(req, req)
    try f
    finally {
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prevDesc)
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L)
      jobs.put(e.jobId, new JobRec(e.jobId, group, exec, e.time * 1000L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.endUs = e.time * 1000L)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val s = stages.getOrElseUpdate(e.stageInfo.stageId, new StageRec(e.stageInfo.stageId))
      s.submitUs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) * 1000L
      s.tasks = e.stageInfo.numTasks
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.get(e.stageInfo.stageId).foreach { s =>
        s.endUs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) * 1000L
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = stages.getOrElseUpdate(e.stageId, new StageRec(e.stageId))
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputBytes += m.inputMetrics.bytesRead
      }
      val info = e.taskInfo
      if (info != null && info.finishTime > 0)
        s.maxTaskMs = math.max(s.maxTaskMs, info.finishTime - info.launchTime)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroups.put(s.executionId, g))
      case e: SparkListenerSQLExecutionEnd =>
        org.apache.spark.sql.perfbench.SqlEvents.queryExecution(e).foreach(record(e.executionId, _))
      case _ =>
    }
  }

  /** Planning phases and scan figures of a finished execution. */
  private def record(execId: Long, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }
    var files = 0L
    var fileBytes = 0L
    var walrus = false
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => walk(q.plan)
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
          fileBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case b: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanExecBase =>
          if (b.scan.getClass.getName.startsWith("graft.")) walrus = true
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    try walk(qe.executedPlan) catch { case _: Throwable => () }
    qes.add(QeRec(execId, phases, files, fileBytes, walrus))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val start = java.time.Instant.parse(p.timestamp)
      val endIdx = p.sources.headOption.flatMap(s => Option(s.endOffset))
        .flatMap(o => """"commitIndex":(\d+)""".r.findFirstMatchIn(o).map(_.group(1).toLong))
        .getOrElse(-1L)
      triggers.add(Trigger(p.runId.toString, p.batchId,
        start.getEpochSecond * 1000000L + start.getNano / 1000L,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows, endIdx))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.streams.addListener(streamListener)

  /** Deliver every queued listener event before the recorded data is read. */
  def drain(): Unit = org.apache.spark.sql.graft.GraftSqlInternal.waitListenerBus(spark)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allQes: Seq[QeRec] = qes.asScala.toSeq
  def allTriggers: Seq[Trigger] = triggers.asScala.toSeq

  // ---------------------------------------------------------------- analysis

  def jobsOf(req: String): Seq[JobRec] = jobs.values.filter(_.group == req).toSeq.sortBy(_.id)
  def submitted(j: JobRec): Seq[StageRec] =
    j.stageIds.flatMap(stages.get).filter(_.submitUs >= 0)
  def qesOf(req: String): Seq[QeRec] = {
    val ids = jobs.values.filter(_.group == req).map(_.execId).toSet ++
      execGroups.collect { case (id, g) if g == req => id }
    allQes.filter(q => ids.contains(q.id))
  }


  /** Per-layer self time of one operation. `chain` lists the operation's
    * spans from the outermost in; jobs hang under the innermost span and
    * stages under their job. Returns (layer -> self µs) including the
    * outermost span's own self time under "unattributed". */
  def selfTimes(chain: Seq[Span], req: String): Map[String, Long] = {
    val js = jobsOf(req).filter(_.endUs >= 0)
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def add(k: String, v: Long): Unit = out(k) = out.getOrElse(k, 0L) + math.max(v, 0L)
    chain.zipWithIndex.foreach { case (s, i) =>
      val kids: Seq[(Long, Long)] =
        if (i + 1 < chain.size) Seq(chain(i + 1)).map(c => (c.startUs, c.endUs))
        else js.map(j => (j.startUs, j.endUs))
      val self = s.durUs - Recorder.covered(kids, s.startUs, s.endUs)
      add(if (i == 0) "unattributed" else s.name, self)
    }
    js.foreach { j =>
      val st = submitted(j).map(s => (s.submitUs, s.endUs))
      add("spark.job", (j.endUs - j.startUs) - Recorder.covered(st, j.startUs, j.endUs))
      submitted(j).foreach(s => add("spark.stage", s.endUs - s.submitUs))
    }
    out.toMap
  }

  /** Writes every span (bench-side, jobs, stages, query phases, stream
    * triggers) as one JSON array; see perfbench/README.md for the format. */
  def write(path: Path, info: String): Unit = {
    drain()
    val rows = Seq.newBuilder[String]
    def row(name: String, req: String, parent: String, s: Long, e: Long,
        extra: Seq[(String, String)] = Nil): Unit =
      rows += Json.obj(Seq("name" -> Json.str(name), "req" -> Json.str(req),
        "parent" -> Json.str(parent), "start_us" -> s.toString, "end_us" -> e.toString) ++ extra)
    allSpans.sortBy(_.startUs).foreach(s => row(s.name, s.req, "", s.startUs, s.endUs))
    jobs.values.toSeq.sortBy(_.id).foreach { j =>
      row("spark.job", j.group, "", j.startUs, j.endUs, Seq("job" -> j.id.toString))
      submitted(j).foreach { s =>
        row("spark.stage", j.group, s"job:${j.id}", s.submitUs, s.endUs, Seq(
          "stage" -> s.id.toString, "tasks" -> s.tasks.toString,
          "executor_run_ms" -> s.runMs.toString, "max_task_ms" -> s.maxTaskMs.toString,
          "shuffle_write_bytes" -> s.shuffleWriteBytes.toString,
          "shuffle_read_bytes" -> s.shuffleReadBytes.toString,
          "input_bytes" -> s.inputBytes.toString))
      }
    }
    allQes.foreach { q =>
      val g = execGroups.getOrElse(q.id,
        jobs.values.find(_.execId == q.id).map(_.group).getOrElse(""))
      q.phases.foreach { case (ph, (s, e)) =>
        row(s"query.$ph", g, s"exec:${q.id}", s * 1000L, e * 1000L, Seq("files" -> q.files.toString))
      }
    }
    allTriggers.foreach { t =>
      val total = t.durMs.getOrElse("triggerExecution", 0L)
      row("streaming.trigger", t.runId, "", t.startUs, t.startUs + total * 1000L, Seq(
        "batch" -> t.batchId.toString, "rows" -> t.rows.toString,
        "duration_ms" -> Json.obj(t.durMs.map { case (k, v) => k -> v.toString })))
    }
    val body = s"""{"info":$info,"spans":${Json.arr(rows.result())}}"""
    Files.createDirectories(path.getParent)
    Files.write(path, body.getBytes(StandardCharsets.UTF_8))
  }
}

object Recorder {
  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val c = ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    c.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
