package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region. Times are epoch milliseconds, the clock the
  * listener buses stamp their events with. `sample` ties every span
  * to the query execution or pipeline phase it belongs to. */
final case class Span(kind: String, name: String, sample: String,
    start: Double, end: Double, attrs: Map[String, Double] = Map.empty) {
  def ms: Double = end - start
}

/** Traced-run recorder. It watches the engine only from outside:
  * Spark's listener bus (jobs, stages, tasks, SQL executions and AQE
  * re-plans), the QueryExecutionListener bus (each action's planning
  * tracker phases) and the StreamingQueryListener bus (micro-batch
  * progress). Every job carries its sample id through the job-group
  * local property the harness sets; streaming jobs carry the query's
  * run id, which the harness binds to its sample. Spans stay in memory
  * until the run ends. */
final class Trace(val cores: Int) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val runToSample = mutable.Map.empty[String, String]
  private val jobSample = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Double]
  private val stageSample = mutable.Map.empty[Int, String]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val sqlStart = mutable.Map.empty[Long, (String, Double)]
  private var jobsOpen = 0
  private var lastEventNs = System.nanoTime()

  /** Per-sample counters that have no natural span. */
  final class Counters {
    var tasks, taskFailures, aqeUpdates = 0L
    var runMs, cpuNs, gcMs, inputBytes, shuffleRead, shuffleWrite,
      spill = 0.0
    val phaseMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  private val counters = mutable.Map.empty[String, Counters]

  def add(s: Span): Unit = synchronized { spans += s }
  def bindRun(runId: String, sample: String): Unit =
    synchronized { runToSample(runId) = sample }
  def all: Seq[Span] = synchronized(spans.toList)
  def countersOf(sample: String): Counters =
    synchronized(counters.getOrElseUpdate(sample, new Counters))

  private def touch(): Unit = lastEventNs = System.nanoTime()

  /** The sample a job belongs to: its job group, or, for streaming
    * jobs, the sample bound to the query's run id. */
  private def sampleOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap { p =>
      Option(p.getProperty("spark.jobGroup.id"))
        .map(g => runToSample.getOrElse(g, g))
    }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      touch()
      jobsOpen += 1
      sampleOf(e.properties).foreach { s =>
        jobSample(e.jobId) = s
        jobStart(e.jobId) = e.time.toDouble
        e.stageIds.foreach(stageSample(_) = s)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      touch()
      jobsOpen -= 1
      for (s <- jobSample.get(e.jobId); t0 <- jobStart.remove(e.jobId))
        spans += Span("job", s"job ${e.jobId}", s, t0, e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Trace.this.synchronized {
        touch()
        val info = e.stageInfo
        for (s <- stageSample.get(info.stageId);
             t0 <- info.submissionTime; t1 <- info.completionTime) {
          val durs = stageTasks.remove(info.stageId).getOrElse(mutable.ArrayBuffer.empty)
          spans += Span("stage", s"stage ${info.stageId}", s, t0.toDouble,
            t1.toDouble, Map("tasks" -> info.numTasks.toDouble,
              "skew" -> Trace.skew(durs.toSeq, cores)))
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      touch()
      stageSample.get(e.stageId).foreach { s =>
        val c = counters.getOrElseUpdate(s, new Counters)
        c.tasks += 1
        if (!e.taskInfo.successful) c.taskFailures += 1
        stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.inputBytes += m.inputMetrics.bytesRead
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Trace.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          touch()
          s.jobGroupId.map(g => runToSample.getOrElse(g, g)).foreach { g =>
            sqlStart(s.executionId) = (g, s.time.toDouble)
          }
        case s: SparkListenerSQLExecutionEnd =>
          touch()
          sqlStart.remove(s.executionId).foreach { case (g, t0) =>
            spans += Span("sql_exec", s"sql ${s.executionId}", g, t0, s.time.toDouble)
          }
        case s: SparkListenerSQLAdaptiveExecutionUpdate =>
          sqlStart.get(s.executionId).foreach { case (g, _) =>
            counters.getOrElseUpdate(g, new Counters).aqeUpdates += 1
          }
        case _ =>
      }
    }
  }

  /** Attributes each action's tracker phases to the sample whose span
    * covers the action's first phase. Sample spans are recorded by the
    * harness thread, so the lookup waits for the span to close. */
  private val pendingPhases = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) Trace.this.synchronized {
        touch()
        pendingPhases += ((phases.values.map(_.startTimeMs).min.toDouble,
          phases.map { case (k, v) => k -> v.durationMs.toDouble }))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized { touch(); progress += e.progress }
  }

  /** The progress reports of one query's given micro-batches. */
  def progressOf(runId: java.util.UUID, batchIds: Set[Long]): Seq[StreamingQueryProgress] =
    synchronized(progress.filter(p => p.runId == runId && batchIds(p.batchId)).toList)

  /** Waits until every started job has ended and the buses have been
    * quiet for a moment, so late events are not lost. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 20L * 1000 * 1000 * 1000
    def quiet = synchronized(jobsOpen <= 0 && sqlStart.isEmpty &&
      System.nanoTime() - lastEventNs > 300L * 1000 * 1000)
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(50)
    synchronized {
      val samples = spans.filter(_.kind == "sample")
      pendingPhases.foreach { case (t, phases) =>
        samples.find(s => s.start <= t && t <= s.end).foreach { s =>
          val c = counters.getOrElseUpdate(s.sample, new Counters)
          phases.foreach { case (k, v) => c.phaseMs(k) += v }
          c.phaseMs("actions") += 1
        }
      }
      pendingPhases.clear()
    }
  }
}

object Trace {
  /** Max over median task time of one stage; 1 when it has fewer than
    * `cores` tasks, since a stage that cannot fill the cores has no
    * straggler to speak of. */
  def skew(durations: Seq[Long], cores: Int): Double =
    if (durations.size < cores) 1.0
    else {
      val sorted = durations.sorted
      val med = sorted(sorted.size / 2).toDouble
      if (med <= 0) 1.0 else sorted.last / med
    }

  /** Total length of the union of [start, end) intervals. */
  def union(intervals: Seq[(Double, Double)]): Double = {
    var total, curStart, curEnd = 0.0
    var open = false
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curEnd) {
        if (open) total += curEnd - curStart
        curStart = s; curEnd = e; open = true
      } else curEnd = math.max(curEnd, e)
    }
    if (open) total += curEnd - curStart
    total
  }

  /** A span's self time: its length minus the union of its direct
    * children, clipped to the span. */
  def selfMs(parent: Span, children: Seq[Span]): Double =
    parent.ms - union(children.map(c =>
      (math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter { case (s, e) => e > s })

  def progressDurations(p: StreamingQueryProgress): Map[String, Double] =
    p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
}
