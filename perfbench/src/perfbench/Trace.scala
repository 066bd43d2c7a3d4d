package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import scala.collection.mutable

/** One micro-batch as the stream reports it: trigger start (epoch ms) and
  * its phase durations. Recorded in every run — the commit latency the
  * untraced figures report is the batch's `triggerExecution`.
  */
final case class BatchProgress(
    batchId: Long, startMs: Long, triggerMs: Long, addBatchMs: Long,
    planningMs: Long, walCommitMs: Long, inputRows: Long)

/** Collects every micro-batch's progress from the session's streams. */
final class StreamProbe extends StreamingQueryListener {
  private val batches = mutable.ArrayBuffer.empty[BatchProgress]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    synchronized {
      batches += BatchProgress(p.batchId, start, d("triggerExecution"), d("addBatch"),
        d("queryPlanning"), d("walCommit"), p.numInputRows)
    }
  }

  /** Batches that read input and started in [fromMs, toMs]. */
  def between(fromMs: Long, toMs: Long): Seq[BatchProgress] = synchronized {
    batches.filter(b => b.inputRows > 0 && b.startMs >= fromMs && b.startMs <= toMs).toSeq
  }
}

/** A traced interval of benchmark code around one call into the engine. */
final case class Span(id: Long, name: String, opId: Long, parent: Long,
    startMs: Long, var endMs: Long) {
  def wallMs: Double = (endMs - startMs).toDouble
}

/** Spark job as the listener saw it, with its attribution. */
final class JobRec(val id: Int, val span: Long, val batch: Long,
    val label: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
}

/** Per-span counts — the same set at every span. */
final case class SpanCounts(jobs: Double, stages: Double, tasks: Double,
    taskBusyMs: Double, driverMs: Double, shuffleRead: Double,
    shuffleWrite: Double, spill: Double, failedTasks: Double,
    inputBytes: Double, wallMs: Double) {
  def fields: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs, "count"), ("stages", stages, "count"), ("tasks", tasks, "count"),
    ("task_busy_ms", taskBusyMs, "ms"), ("driver_ms", driverMs, "ms"),
    ("shuffle_read_bytes", shuffleRead, "bytes"),
    ("shuffle_write_bytes", shuffleWrite, "bytes"),
    ("spill_bytes", spill, "bytes"), ("failed_tasks", failedTasks, "count"))
}

/** Spans recorded from the benchmark's own code plus a SparkListener that
  * attributes every job to the span that caused it. Attribution rides on
  * Spark local properties, which jobs carry and threads inherit: the span
  * id in `perfbench.span` (engine code may relabel
  * `spark.job.description`, which is kept as the job's label), and
  * `streaming.sql.batchId` for jobs of a micro-batch, whose stream thread
  * inherits the span of the call that started the stream. Everything
  * stays in memory until the report.
  */
final class Tracer extends SparkListener {
  val SpanKey = "perfbench.span"

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var current = 0L

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def span[A](sc: org.apache.spark.SparkContext, name: String, opId: Long)(body: => A): A = {
    val s = synchronized {
      val s = Span(nextId, name, opId, current, System.currentTimeMillis(), 0L)
      nextId += 1
      spans += s
      s
    }
    val parent = current
    current = s.id
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.endMs = System.currentTimeMillis()
      current = parent
      sc.setLocalProperty(SpanKey, if (parent == 0L) null else parent.toString)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String): Option[String] = p.flatMap(x => Option(x.getProperty(k)))
    prop(SpanKey).foreach { sp =>
      val j = new JobRec(e.jobId, sp.toLong,
        prop("streaming.sql.batchId").map(_.toLong).getOrElse(-1L),
        prop("spark.job.description").getOrElse(""), e.time)
      synchronized {
        jobs(e.jobId) = j
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).flatMap(jobs.get).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      if (e.taskInfo != null && !e.taskInfo.successful) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.busyMs += m.executorRunTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  def allSpans: Seq[Span] = synchronized(spans.toSeq)

  def named(name: String): Seq[Span] = allSpans.filter(_.name == name)

  /** Jobs a span caused: its own and its descendants'. */
  def jobsOf(s: Span): Seq[JobRec] = synchronized {
    val ids = mutable.HashSet(s.id)
    spans.foreach(x => if (ids.contains(x.parent)) ids += x.id)
    jobs.values.filter(j => ids.contains(j.span)).toSeq
  }

  /** Jobs of one micro-batch of a stream started inside span `drain`. */
  def jobsOfBatch(drain: Span, batchId: Long): Seq[JobRec] =
    jobsOf(drain).filter(_.batch == batchId)

  /** Wall time of [startMs, endMs] that no job covered. */
  private def uncovered(startMs: Long, endMs: Long, js: Seq[JobRec]): Double = {
    var covered = 0L
    var reach = startMs
    js.map(j => (math.max(j.startMs, startMs), math.min(j.endMs, endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (endMs - startMs - covered).toDouble
  }

  def counts(startMs: Long, endMs: Long, js: Seq[JobRec]): SpanCounts =
    SpanCounts(js.size, js.map(_.stages).sum, js.map(_.tasks).sum.toDouble,
      js.map(_.busyMs).sum.toDouble, uncovered(startMs, endMs, js),
      js.map(_.shuffleRead).sum.toDouble, js.map(_.shuffleWrite).sum.toDouble,
      js.map(_.spill).sum.toDouble, js.map(_.failedTasks).sum.toDouble,
      js.map(_.inputBytes).sum.toDouble, (endMs - startMs).toDouble)

  def counts(s: Span): SpanCounts = counts(s.startMs, s.endMs, jobsOf(s))

  /** A span's duration minus the part its child spans cover. */
  def selfMs(s: Span): Double = {
    val kids = allSpans.filter(_.parent == s.id)
    s.wallMs - kids.map(_.wallMs).sum
  }

  /** Spans and jobs as written to the run artifact. */
  def dump(): collection.Map[String, Any] = synchronized {
    Json.obj(
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name,
        "op" -> s.opId, "parent" -> s.parent, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "self_ms" -> selfMs(s))),
      "jobs" -> jobs.values.map(j => Json.obj("id" -> j.id, "span" -> j.span,
        "batch" -> j.batch, "label" -> j.label, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "stages" -> j.stages, "tasks" -> j.tasks,
        "task_busy_ms" -> j.busyMs, "shuffle_read_bytes" -> j.shuffleRead,
        "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill,
        "failed_tasks" -> j.failedTasks, "input_bytes" -> j.inputBytes)))
  }
}
