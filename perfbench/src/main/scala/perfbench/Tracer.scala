package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds; `parent` is
  * the id of the span that caused this one (0 for a root). */
final case class Span(
    id: Long, parent: Long, layer: String, name: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty)

/** Records spans in memory from the harness side (lap, query, build,
  * action) and from Spark's public listeners (jobs, stages, Catalyst
  * phases, micro-batches). Listeners are attached only while a traced
  * lap runs; everything is resolved into one span list by [[spans]].
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val harness = mutable.ArrayBuffer[Span]()
  @volatile private var current: Long = 0
  @volatile private var lastEvent = System.currentTimeMillis()

  private val Group = "perfbench:"
  private final class Job(val group: String, val start: Long, val stageIds: Seq[Int]) {
    @volatile var end = 0L
    @volatile var ok = false
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  // (stage id, attempt) -> mutable stats
  private val stages = new ConcurrentHashMap[(Int, Int), StageStats]()
  private val runToSpan = new ConcurrentHashMap[String, Long]()
  private val batches = new ConcurrentLinkedQueue[Span]()
  private val phases = new ConcurrentLinkedQueue[(String, Double, Double)]()

  private final class StageStats {
    var submit = 0L; var complete = 0L; var firstLaunch = Long.MaxValue
    var tasks = 0L; var failures = 0L; var empty = 0L
    var cpuNs = 0L; var runMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    def attrs: Map[String, Double] = Map(
      "tasks" -> tasks, "task_failures" -> failures, "empty_tasks" -> empty,
      "task_cpu_s" -> cpuNs / 1e9, "task_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill,
      "sched_wait_s" -> (if (tasks == 0 || submit == 0) 0.0 else (firstLaunch - submit) / 1e3))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new Job(group, e.time, e.stageIds))
      lastEvent = System.currentTimeMillis()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j => j.ok = e.jobResult == JobSucceeded; j.end = e.time }
      lastEvent = System.currentTimeMillis()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val st = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      st.synchronized { st.submit = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
      lastEvent = System.currentTimeMillis()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val st = stage(e.stageInfo.stageId, e.stageInfo.attemptNumber())
      st.synchronized { st.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()) }
      lastEvent = System.currentTimeMillis()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val st = stage(e.stageId, e.stageAttemptId)
      val m = e.taskMetrics
      st.synchronized {
        st.tasks += 1
        st.firstLaunch = math.min(st.firstLaunch, e.taskInfo.launchTime)
        if (e.reason != Success) st.failures += 1
        if (m != null) {
          st.cpuNs += m.executorCpuTime; st.runMs += m.executorRunTime; st.gcMs += m.jvmGCTime
          st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          st.spill += m.diskBytesSpilled
          val records = m.inputMetrics.recordsRead + m.outputMetrics.recordsWritten +
            m.shuffleReadMetrics.recordsRead + m.shuffleWriteMetrics.recordsWritten
          if (records == 0) st.empty += 1
        }
      }
      lastEvent = System.currentTimeMillis()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (phase, p) =>
        if (phase != "parsing") phases.add((phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble))
      }
      lastEvent = System.currentTimeMillis()
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      runToSpan.put(e.runId.toString, current)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val parent = runToSpan.getOrDefault(p.runId.toString, 0L)
      batches.add(Span(ids.incrementAndGet(), parent, "streaming.batch", s"${p.name}#${p.batchId}",
        start, start + d.getOrElse("triggerExecution", 0.0), Map(
          "rows" -> p.numInputRows.toDouble,
          "add_batch_ms" -> d.getOrElse("addBatch", 0.0),
          "plan_ms" -> d.getOrElse("queryPlanning", 0.0),
          "wal_ms" -> d.getOrElse("walCommit", 0.0),
          "trigger_ms" -> d.getOrElse("triggerExecution", 0.0))))
      lastEvent = System.currentTimeMillis()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def stage(id: Int, attempt: Int): StageStats =
    stages.computeIfAbsent((id, attempt), _ => new StageStats)

  private var attached = false

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  /** Waits until the listener buses have delivered this lap's events
    * (no open job and no event for 200 ms, at most 5 s), then detaches. */
  def detach(): Unit = if (attached) {
    val deadline = System.currentTimeMillis() + 5000
    def open = jobs.values.asScala.exists(_.end == 0L)
    while (System.currentTimeMillis() < deadline &&
      (open || System.currentTimeMillis() - lastEvent < 200)) Thread.sleep(20)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  /** Runs `body` as a harness span under `parent`; while it runs, the
    * span is the current one and its id is the session's job group,
    * which links the jobs it triggers to it. */
  def span[T](layer: String, name: String, parent: Long)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val prev = current
    val start = Clock.nowMs
    current = id
    sc.setJobGroup(Group + id, s"$layer $name")
    try body(id)
    finally {
      harness.synchronized { harness += Span(id, parent, layer, name, start, Clock.nowMs) }
      current = prev
      if (prev == 0) sc.clearJobGroup() else sc.setJobGroup(Group + prev, "")
    }
  }

  /** Every recorded span, with jobs, stages and Catalyst phases hung
    * under the span that caused them. */
  def spans: Seq[Span] = {
    val own = harness.synchronized(harness.toList) ++ batches.asScala
    // innermost span (latest start) of `cands` containing t, 1 ms slack
    // for the millisecond clocks of listener events
    def containing(cands: Seq[Span], t: Double): Long = {
      val in = cands.filter(s => s.start - 1 <= t && t <= s.end + 1)
      if (in.isEmpty) 0L else in.maxBy(_.start).id
    }
    val byRun = own.filter(_.layer == "streaming.batch").groupBy(_.parent)
    val stageToJob = mutable.Map[Int, Long]()
    val jobSpans = jobs.asScala.toSeq.sortBy(_._1).map { case (jobId, j) =>
      val start = j.start.toDouble
      val end = math.max(j.start, j.end).toDouble
      val parent =
        if (j.group.startsWith(Group)) {
          val p = j.group.stripPrefix(Group).toLong
          // a job inside a micro-batch of this build hangs under the batch
          val b = containing(byRun.getOrElse(p, Nil), start)
          if (b != 0) b else p
        } else Option(runToSpan.get(j.group)) match {
          case Some(build) =>
            val b = containing(byRun.getOrElse(build, Nil), start)
            if (b != 0) b else build
          case None => containing(own, start)
        }
      val id = ids.incrementAndGet()
      j.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, id))
      Span(id, parent, "spark.job", s"job $jobId", start, end, Map("ok" -> (if (j.ok) 1.0 else 0.0)))
    }
    val stageSpans = stages.asScala.toSeq.sortBy(_._1).flatMap { case ((sid, att), st) =>
      stageToJob.get(sid).filter(_ => st.submit > 0).map { job =>
        Span(ids.incrementAndGet(), job, "spark.stage", s"stage $sid.$att",
          st.submit.toDouble, math.max(st.submit, st.complete).toDouble, st.attrs)
      }
    }
    val phaseSpans = phases.asScala.toSeq.map { case (phase, s, e) =>
      Span(ids.incrementAndGet(), containing(own, s), s"catalyst.$phase", phase, s, e)
    }
    own ++ jobSpans ++ stageSpans ++ phaseSpans
  }
}

/** Epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}
