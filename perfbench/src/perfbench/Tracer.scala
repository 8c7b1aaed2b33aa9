package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Traced-run instrumentation, built only on Spark's public listener APIs
  * and on timing calls into the engine's public functions.
  *
  * Spans form a tree — run → pass → query → frame / action / check — and
  * every Spark job becomes a child of the query it ran for: by its
  * `graft-<query>` job group (set by `graft.Guard`), or, for streaming
  * micro-batch jobs, which run under their stream's own group, by the
  * query whose span contains the job's start. Spans stay in memory and
  * are written once, when the run ends. */
final class Tracer(spark: SparkSession) extends Accounting.Spans {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  /** Epoch ms of a `System.nanoTime` reading. */
  private def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  final class Span(val id: Int, val parent: Int, val kind: String, val name: String,
      val start: Double) {
    @volatile var end: Double = Double.NaN
    def dur: Double = end - start
    def covers(t: Double): Boolean = t >= start && t <= end
  }
  private val spans = ArrayBuffer[Span]()
  private def open(parent: Span, kind: String, name: String): Span = spans.synchronized {
    val s = new Span(spans.size, if (parent == null) -1 else parent.id, kind, name,
      ms(System.nanoTime()))
    spans += s
    s
  }
  private def close(s: Span): Unit = s.end = ms(System.nanoTime())

  private var runSpan: Span = _
  private var passSpan: Span = _
  @volatile private var querySpan: Span = _
  private val querySpans = ArrayBuffer[(Span, Sample)]()

  def begin(): Unit = runSpan = open(null, "run", "run")
  def openPass(i: Int): Unit = passSpan = open(runSpan, "pass", s"pass-$i")
  def closePass(): Unit = close(passSpan)
  def openQuery(name: String): Unit = querySpan = open(passSpan, "query", name)
  def closeQuery(s: Sample): Unit = {
    close(querySpan)
    querySpans += ((querySpan, s))
  }
  override def phase[T](name: String)(body: => T): T = {
    val s = open(querySpan, name, name)
    try body finally close(s)
  }

  // ---- Spark jobs, stages, tasks ----
  final class Job(val id: Int, val group: String, val site: String, val start: Double) {
    @volatile var end: Double = Double.NaN
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, output = 0L
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  /** Layer of a job from its call site: the first engine or benchmark
    * frame of the stack that submitted it. */
  private def site(details: String): String =
    details.split("\n").map(_.trim)
      .find(l => l.startsWith("graft.") || l.startsWith("perfbench.")) match {
      case Some(l) if l.startsWith("graft.Tables") => "tables"
      case Some(l) if l.startsWith("graft.ops.") => "ops"
      case Some(l) if l.startsWith("perfbench.") => "action"
      case _ => "query"
    }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val details = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val j = new Job(e.jobId, group, site(details), e.time.toDouble)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(id => stageJob.putIfAbsent(id, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach(j => j.synchronized(j.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.output += m.outputMetrics.bytesWritten
      }
  }

  // ---- SQL actions (QueryExecutionListener) ----
  private val actions = new java.util.concurrent.ConcurrentLinkedQueue[(Double, String)]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      actions.add((System.currentTimeMillis().toDouble, f))
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      actions.add((System.currentTimeMillis().toDouble, f))
  }

  // ---- micro-batches (StreamingQueryListener) ----
  final case class Batch(start: Double, durations: Map[String, Long])
  private val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble, d))
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every started job has ended and the listener queues have
    * been quiet for a moment (events arrive asynchronously). */
  private def drain(): Unit = {
    val deadline = System.nanoTime() + 10L * 1000000000L
    var last = -1L
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val open = jobs.values.asScala.count(_.end.isNaN)
      val n = jobs.size.toLong + actions.size + batches.size
      if (open == 0 && n == last) stable += 1 else stable = 0
      last = n
    }
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }

  private def phasesMs(qe: Option[AnyRef]): Map[String, Double] = qe match {
    case Some(q: QueryExecution) =>
      q.tracker.phases.map { case (k, v) => k -> v.durationMs.toDouble }
    case _ => Map.empty
  }

  /** Per-layer metrics of the measured window; also writes the span tree. */
  def finish(samples: Seq[Sample], spanOut: String): scala.collection.Map[String, Any] = {
    close(runSpan)
    drain()
    val runJobs = jobs.values.asScala.toSeq.filter(_.start >= runSpan.start).sortBy(_.id)
    val byQuery: Map[Int, Seq[Job]] = runJobs.flatMap { j =>
      val owner =
        if (j.group.startsWith("graft-"))
          querySpans.find { case (q, _) => "graft-" + q.name == j.group && q.covers(j.start) }
        else querySpans.find(_._1.covers(j.start))
      owner.map(o => o._1.id -> j)
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val batchList = batches.asScala.toSeq.filter(_.start >= runSpan.start)
    val actionList = actions.asScala.toSeq

    def span(s: Span, attrs: (String, Any)*) = Json.obj(Seq(
      "id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
      "start_ms" -> (s.start - runSpan.start), "dur_ms" -> s.dur) ++ attrs: _*)

    var gapMs = 0.0
    var constructJobs = 0L
    var catalyst = Map[String, Double]().withDefaultValue(0.0)
    var reconcileMax = 0.0
    val spanJson = ArrayBuffer[Any]()
    val samplesBySpan = querySpans.map { case (q, s) => q.id -> s }.toMap
    spans.foreach { s =>
      samplesBySpan.get(s.id) match {
        case Some(sample) =>
          val js = byQuery.getOrElse(s.id, Seq.empty)
          val child = spans.filter(_.parent == s.id).map(c => c.kind -> c).toMap
          val frameEnd = child.get("frame").map(_.end).getOrElse(s.end)
          val parts = Seq("frame", "action").flatMap(child.get).map(_.dur).sum
          val union = unionMs(js.map(j => (math.max(j.start, s.start),
            math.min(if (j.end.isNaN) s.end else j.end, s.end))))
          gapMs += s.dur - union
          constructJobs += js.count(_.start < frameEnd)
          val ph = phasesMs(sample.actionQe)
          ph.foreach { case (k, v) => catalyst += k -> (catalyst(k) + v) }
          if (sample.outcome == "ok")
            reconcileMax = math.max(reconcileMax, math.abs(s.dur - parts) / s.dur)
          val b = batchList.filter(x => s.covers(x.start))
          spanJson += span(s, "outcome" -> sample.outcome, "jobs" -> js.size,
            "job_union_ms" -> union, "driver_gap_ms" -> (s.dur - union),
            "construct_jobs" -> js.count(_.start < frameEnd),
            "catalyst_ms" -> ph, "sql_actions" -> actionList.count(a => s.covers(a._1)),
            "batches" -> b.size,
            "batch_ms" -> b.flatMap(_.durations).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum })
          js.foreach { j =>
            spanJson += Json.obj("id" -> -1, "parent" -> s.id, "kind" -> "job",
              "name" -> s"job-${j.id}", "site" -> j.site,
              "start_ms" -> (j.start - runSpan.start),
              "dur_ms" -> ((if (j.end.isNaN) s.end else j.end) - j.start),
              "stages" -> j.stages, "tasks" -> j.tasks, "task_run_ms" -> j.runMs,
              "task_cpu_ms" -> j.cpuNs / 1e6, "shuffle_read_b" -> j.shuffleRead,
              "shuffle_write_b" -> j.shuffleWrite, "spill_b" -> j.spill,
              "output_b" -> j.output)
          }
        case None => spanJson += span(s)
      }
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(spanOut), Json.render(spanJson))

    def jobS(js: Seq[Job]) = js.map(j => j.end - j.start).filterNot(_.isNaN).sum / 1e3
    val mb = 1048576.0
    val tables = runJobs.filter(_.site == "tables")
    val ops = runJobs.filter(_.site == "ops")
    val trig = batchList.flatMap(_.durations.get("triggerExecution")).sorted
    def batchSum(k: String) = batchList.flatMap(_.durations.get(k)).sum.toDouble
    Json.obj(
      "queries.frame_s" -> samples.map(_.frameS).sum,
      "queries.action_s" -> samples.map(_.actionS).sum,
      "queries.construct_jobs" -> constructJobs,
      "tables.jobs" -> tables.size,
      "tables.job_s" -> jobS(tables),
      "ops.jobs" -> ops.size,
      "ops.job_s" -> jobS(ops),
      "spark.jobs" -> runJobs.size,
      "spark.stages" -> runJobs.map(_.stages).sum,
      "spark.tasks" -> runJobs.map(_.tasks).sum,
      "spark.job_wall_s" -> jobS(runJobs),
      "spark.driver_gap_s" -> gapMs / 1e3,
      "spark.task_run_s" -> runJobs.map(_.runMs).sum / 1e3,
      "spark.task_cpu_s" -> runJobs.map(_.cpuNs).sum / 1e9,
      "spark.task_gc_s" -> runJobs.map(_.gcMs).sum / 1e3,
      "spark.shuffle_read_mb" -> runJobs.map(_.shuffleRead).sum / mb,
      "spark.shuffle_write_mb" -> runJobs.map(_.shuffleWrite).sum / mb,
      "spark.spill_mb" -> runJobs.map(_.spill).sum / mb,
      "spark.output_mb" -> runJobs.map(_.output).sum / mb,
      "catalyst.analysis_ms" -> catalyst("analysis"),
      "catalyst.optimization_ms" -> catalyst("optimization"),
      "catalyst.planning_ms" -> catalyst("planning"),
      "catalyst.sql_actions" -> actionList.count(a => runSpan.covers(a._1)),
      "streaming.batches" -> batchList.size,
      "streaming.trigger_ms_p50" -> (if (trig.isEmpty) 0.0 else trig(trig.size / 2).toDouble),
      "streaming.add_batch_ms" -> batchSum("addBatch"),
      "streaming.wal_commit_ms" -> batchSum("walCommit"),
      "streaming.query_planning_ms" -> batchSum("queryPlanning"),
      "streaming.latest_offset_ms" -> batchSum("latestOffset"),
      "trace.reconcile_max" -> reconcileMax)
  }
}
