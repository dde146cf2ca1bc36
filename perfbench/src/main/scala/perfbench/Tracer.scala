package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts every run keeps, traced or not: input rows and failed tasks.
  * Listener events arrive asynchronously, so readers call [[quiesce]]
  * first, outside any timed region.
  */
class Counters extends SparkListener {
  val rowsRead = new AtomicLong
  val failedTasks = new AtomicLong
  @volatile private var lastEventNs = System.nanoTime()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs = System.nanoTime()
    if (e.taskMetrics != null) rowsRead.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    if (e.reason != Success) failedTasks.incrementAndGet()
  }

  /** Wait until the listener bus has been quiet for 300 ms (at most 10 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

/** One closed interval of work at a layer boundary. Spans of one query
  * carry the query's name as `query`; `parent` is the id of the span
  * that caused this one (0 for the run).
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    query: String, startUs: Long, endUs: Long)

/** Per-stage task totals (all times in ms unless named otherwise). */
final class StageAgg {
  var tasks = 0L; var failed = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var output = 0L
  var rows = 0L; var bytes = 0L
}

final case class JobRec(id: Int, desc: String, startMs: Long, var endMs: Long)
final case class StageRec(id: Int, numTasks: Int, submitMs: Long, endMs: Long)
final case class QeRec(startMs: Long, phases: Map[String, Long], fingerprint: String)
final case class BatchRec(startMs: Long, durMs: Long, commitMs: Long, runId: String, stateRows: Long)

/** The traced run's recorder: a SparkListener for jobs, stages and tasks,
  * a QueryExecutionListener for planning phases and plan fingerprints,
  * and a StreamingQueryListener for micro-batches. Everything is kept in
  * memory and attributed to queries when the run ends.
  */
class Tracer(dataDir: String) extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val stageAgg = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  val qes = new ConcurrentLinkedQueue[QeRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    jobs.put(e.jobId, JobRec(e.jobId, desc, e.time, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val start = i.submissionTime.getOrElse(0L)
    stages.add(StageRec(i.stageId, i.numTasks, start, i.completionTime.getOrElse(start)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = e.taskMetrics
    val info = e.taskInfo
    a.synchronized {
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        val gettingResult = if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        a.delayMs += math.max(0L, info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - gettingResult)
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.diskBytesSpilled
        a.output += m.outputMetrics.bytesWritten
        a.rows += m.inputMetrics.recordsRead
        a.bytes += m.inputMetrics.bytesRead
      }
    }
  }

  private val exprId = "#\\d+".r
  private val uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val planId = "(plan_id|id)=\\d+".r

  /** Hash of an executed plan with expression ids, plan ids, run-scoped
    * UUIDs and the data directory stripped, so two runs of the same plan
    * on different inputs hash alike.
    */
  def fingerprint(plan: String): String = {
    val canon = planId.replaceAllIn(uuid.replaceAllIn(exprId.replaceAllIn(
      plan.replace(dataDir, "<data>"), ""), "<uuid>"), "$1")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canon.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = try {
      val phases = qe.tracker.phases
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
      val fp = try fingerprint(qe.executedPlan.toString) catch { case _: Throwable => "unplanned" }
      qes.add(QeRec(start, phases.map { case (k, v) => k -> v.durationMs }, fp))
    } catch { case _: Throwable => () }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = event.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val start = try java.time.Instant.parse(p.timestamp).toEpochMilli
        catch { case _: Throwable => System.currentTimeMillis() - dur }
      batches.add(BatchRec(start, dur, p.stateOperators.map(_.commitTimeMs).sum, p.runId.toString,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  /** Attribute recorded events to the harness's query spans and return
    * (per-query metrics keyed by span query name, all spans).
    * `open` holds the harness's own run/workload/query/build/execute
    * spans; ids for the Spark-side spans continue after them.
    */
  def attribute(open: Seq[Span]): (Map[String, mutable.Map[String, Any]], Seq[Span]) = {
    val out = mutable.ArrayBuffer[Span]() ++ open
    var nextId = open.map(_.id).max
    def add(name: String, layer: String, query: String, parent: Int, s: Long, e: Long): Span = {
      nextId += 1
      val sp = Span(nextId, parent, name, layer, query, s, e)
      out += sp
      sp
    }
    val phaseSpans = open.filter(s => s.layer == "build" || s.layer == "execute")
    val querySpans = open.filter(_.layer == "query")
    def containing(spans: Seq[Span], us: Long) = spans.find(s => s.startUs <= us && us <= s.endUs)
    // a phase span is named by the job description it ran under;
    // other jobs (streaming micro-batches run on their own thread) fall
    // back to the phase span that contains their start
    val byDesc = phaseSpans.map(s => s.name -> s).toMap
    val perQuery = mutable.Map[String, mutable.Map[String, Any]]()
    def q(name: String) = perQuery.getOrElseUpdate(name, mutable.Map[String, Any]())
    def addTo(name: String, key: String, v: Double): Unit =
      q(name)(key) = q(name).getOrElse(key, 0.0).asInstanceOf[Double] + v
    val jobSpan = mutable.Map[Int, Span]()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val parent = byDesc.get(j.desc).orElse(containing(phaseSpans, j.startMs * 1000))
      parent.foreach { p =>
        jobSpan(j.id) = add(s"job ${j.id}", "job", p.query, p.id, j.startMs * 1000, j.endMs * 1000)
        addTo(p.query, "jobs", 1)
        if (p.layer == "build") addTo(p.query, "build_jobs", 1)
      }
    }
    stages.asScala.toSeq.sortBy(_.submitMs).foreach { st =>
      Option(stageJob.get(st.id)).flatMap(jobSpan.get).foreach { js =>
        add(s"stage ${st.id}", "stage", js.query, js.id, st.submitMs * 1000, st.endMs * 1000)
        addTo(js.query, "stages", 1)
        if (st.numTasks == 1) {
          addTo(js.query, "single_task_stages", 1)
          addTo(js.query, "single_task_stage_s", (st.endMs - st.submitMs) / 1e3)
        }
      }
    }
    stageAgg.asScala.foreach { case (stageId, a) =>
      Option(stageJob.get(stageId)).flatMap(jobSpan.get).foreach { js =>
        val n = js.query
        addTo(n, "tasks", a.tasks); addTo(n, "failed_tasks", a.failed)
        addTo(n, "task_run_s", a.runMs / 1e3); addTo(n, "task_cpu_s", a.cpuNs / 1e9)
        addTo(n, "gc_s", a.gcMs / 1e3); addTo(n, "scheduler_delay_s", a.delayMs / 1e3)
        addTo(n, "shuffle_write_mb", a.shuffleWrite / 1e6); addTo(n, "shuffle_read_mb", a.shuffleRead / 1e6)
        addTo(n, "spill_mb", a.spill / 1e6); addTo(n, "output_mb", a.output / 1e6)
        addTo(n, "rows_read", a.rows); addTo(n, "bytes_read_mb", a.bytes / 1e6)
      }
    }
    qes.asScala.toSeq.sortBy(_.startMs).foreach { r =>
      val us = r.startMs * 1000
      containing(phaseSpans, us).orElse(containing(querySpans, us)).foreach { p =>
        addTo(p.query, "qe_count", 1)
        var t = r.startMs * 1000
        Seq("analysis", "optimization", "planning").foreach { ph =>
          r.phases.get(ph).foreach { ms =>
            addTo(p.query, s"${ph}_s", ms / 1e3)
            add(ph, "plan", p.query, p.id, t, t + ms * 1000)
            t += ms * 1000
          }
        }
        // every pass plans alike; the first pass's plans fingerprint the query
        if (p.name.endsWith("|p1")) {
          val fps = q(p.query).getOrElse("fingerprints", Vector.empty[String]).asInstanceOf[Vector[String]]
          q(p.query)("fingerprints") = fps :+ r.fingerprint
        }
      }
    }
    val lastState = mutable.Map[(String, String), Long]()
    batches.asScala.toSeq.sortBy(_.startMs).foreach { b =>
      val us = b.startMs * 1000
      containing(phaseSpans, us).foreach { p =>
        add("batch", "streaming", p.query, p.id, us, us + b.durMs * 1000)
        addTo(p.query, "batches", 1)
        addTo(p.query, "batch_s", b.durMs / 1e3)
        addTo(p.query, "state_commit_s", b.commitMs / 1e3)
        lastState((p.query, b.runId)) = b.stateRows
      }
    }
    lastState.foreach { case ((n, _), rows) => addTo(n, "state_rows", rows) }
    (perQuery.toMap, out.toSeq)
  }
}
