package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `parent` is 0 for an operation's root span. */
final case class Span(id: Int, parent: Int, name: String, op: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

object Spans {

  /** Total length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= curE) {
        if (curE != Long.MinValue) total += curE - curS
        curS = s
        curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of it that the
   * union of its children covers, each child clipped to the parent. */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionNs(kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.durNs - covered)
    }.toMap
  }
}

/** Spans opened by the benchmark around its own calls into the layers.
 * Times are epoch nanoseconds, so they line up with Spark's epoch-ms job,
 * stage and task times. One client thread opens them, one at a time. */
final class Tracer {
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  private val baseNano = System.nanoTime()
  private val done = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  /** Spans are recorded only while on; the traced run turns it off for
   * alternate passes to measure what tracing costs. */
  var on = false
  var op = 0

  def now: Long = baseEpochNs + (System.nanoTime() - baseNano)

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val start = now
      try body
      finally {
        stack = stack.tail
        done += Span(id, parent, name, op, start, now)
      }
    }

  /** Records an interval observed elsewhere (a Spark job, stage or task). */
  def add(name: String, parent: Int, startNs: Long, endNs: Long): Int = {
    val id = nextId
    nextId += 1
    done += Span(id, parent, name, op, startNs, endNs)
    id
  }

  def spans: Seq[Span] = done.toSeq
  def spansOf(op: Int): Seq[Span] = done.filter(_.op == op).toSeq
}

final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])
final case class StageRec(
    id: Int, attempt: Int, jobId: Int, submitMs: Long, endMs: Long, v2Scan: Boolean)
final case class TaskRec(
    stage: Int, attempt: Int, launchMs: Long, finishMs: Long, runMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class ProgressRec(durations: Map[String, Long], stateCommitMs: Long, stateRows: Long, query: String)
final case class PlanPhases(analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** What Spark reported about one operation, collected from its listener
 * buses: jobs, stages, tasks, streaming progress and the planning phases
 * of actions the operation ran internally. */
final case class OpEvents(
    jobs: Seq[JobRec], stages: Seq[StageRec], tasks: Seq[TaskRec],
    progress: Seq[ProgressRec], phases: Seq[PlanPhases])

/** Collects Spark's own events from outside the program. Registered only
 * in the traced run. Events arrive asynchronously; [[drain]] waits until
 * every job and stream the operation started has ended. */
final class EventCollector extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val progress = new ConcurrentLinkedQueue[ProgressRec]()
  private val phases = new ConcurrentLinkedQueue[PlanPhases]()
  private val streamsOpen = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile private var lastEventNs = System.nanoTime()

  private def touch(): Unit = lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, (e.time, e.stageIds))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobStarts.remove(e.jobId)).foreach { case (t, st) => jobs.add(JobRec(e.jobId, t, e.time, st)) }
    touch()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageRec(i.stageId, i.attemptNumber(), stageJob.getOrDefault(i.stageId, -1),
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
      i.rddInfos.exists(_.name.contains("DataSourceRDD"))))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val ti = e.taskInfo
    if (m != null) tasks.add(TaskRec(e.stageId, e.stageAttemptId, ti.launchTime, ti.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    touch()
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
      streamsOpen.incrementAndGet(); touch()
    }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(ProgressRec(
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.stateOperators.map(_.commitTimeMs).sum,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.runId.toString))
      touch()
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      streamsOpen.decrementAndGet(); touch()
    }
  }

  val executions: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      phases.add(Phases.of(qe)); touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()
  }

  private def take[A](q: ConcurrentLinkedQueue[A]): Seq[A] = {
    val out = mutable.ArrayBuffer[A]()
    var a = q.poll()
    while (a != null) { out += a; a = q.poll() }
    out.toSeq
  }

  /** Everything reported since the last drain, once the buses are quiet. */
  def drain(): OpEvents = {
    val deadline = System.nanoTime() + 5000000000L
    def quiet = jobStarts.isEmpty && streamsOpen.get() <= 0 &&
      System.nanoTime() - lastEventNs > 50000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(10)
    OpEvents(take(jobs), take(stages), take(tasks), take(progress), take(phases))
  }
}

object Phases {
  def of(qe: QueryExecution): PlanPhases = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    PlanPhases(ms("analysis"), ms("optimization"), ms("planning"))
  }
}
