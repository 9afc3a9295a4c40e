package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. `parent` is the id of the span that caused it
  * (0 for a root); spans of one request share `req`. Times are
  * epoch milliseconds with sub-ms precision. */
final case class Span(id: Long, name: String, start: Double, end: Double,
                      parent: Long, req: Long) {
  def ms: Double = end - start
}

/** In-memory span store; written out once, when the run ends. */
final class Trace {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nowMs: Double = Trace.nowMs

  def add(name: String, start: Double, end: Double, parent: Long, req: Long): Long = {
    val id = ids.incrementAndGet()
    spans.add(Span(id, name, start, end, parent, req))
    id
  }

  /** Time `f` as a span; returns (result, span id). */
  def span[T](name: String, parent: Long, req: Long)(f: => T): (T, Long) = {
    val t0 = nowMs
    val r = f
    (r, add(name, t0, nowMs, parent, req))
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Trace {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  /** Wall-clock ms with nanoTime resolution (comparable with Spark's
    * event timestamps, which are System.currentTimeMillis). */
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  /** Self time of a span: its duration minus the union of the intervals
    * its children cover (clipped to the span). */
  def selfMs(s: Span, children: Seq[(Double, Double)]): Double = {
    val iv = children.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { covered += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) covered += curB - curA
    s.ms - covered
  }
}

/** Spark-side spans the benchmark registers from outside the program:
  * jobs (with the submitting thread's `perfbench.span` property),
  * per-stage task totals, and the planning phases of every executed
  * query. Events arrive on Spark's listener bus, so callers read them
  * after [[SparkProbe.quiesce]]. */
final class SparkProbe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import SparkProbe._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAcc]()
  val planning = new ConcurrentLinkedQueue[Planning]()
  private val events = new AtomicLong(0)

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    this
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Wait until no listener event arrived for `quietMs` (the bus is
    * asynchronous; a request's job-end may land after its reply). */
  def quiesce(quietMs: Long = 30, maxMs: Long = 2000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = events.get()
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline &&
           System.currentTimeMillis() - stableSince < quietMs) {
      Thread.sleep(5)
      val now = events.get()
      if (now != last) { last = now; stableSince = System.currentTimeMillis() }
    }
  }

  private def acc(id: Int) = stages.computeIfAbsent(id, _ => new StageAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse("")
    jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN, tag, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    acc(e.stageInfo.stageId).submitted =
      e.stageInfo.submissionTime.map(_.toDouble).getOrElse(System.currentTimeMillis().toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val a = acc(e.stageId)
    a.synchronized {
      a.tasks += 1
      if (e.taskInfo.failed) a.failed += 1
      if (a.submitted > 0) a.waitMs += math.max(0L, e.taskInfo.launchTime - a.submitted.toLong)
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    events.incrementAndGet()
    val ph = qe.tracker.phases
    def d(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
    val at = ph.get("analysis").map(_.startTimeMs.toDouble)
      .getOrElse(System.currentTimeMillis().toDouble)
    planning.add(Planning(at, d("analysis"), d("optimization"), d("planning")))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** Totals over the given jobs and planning records. */
  def totals(js: Seq[Job], ps: Seq[Planning]): Map[String, Double] = {
    val st = js.flatMap(_.stages).distinct.flatMap(s => Option(stages.get(s)))
    Map(
      "analysis_ms" -> ps.map(_.analysis).sum,
      "optimization_ms" -> ps.map(_.optimization).sum,
      "planning_ms" -> ps.map(_.planning).sum,
      "actions" -> ps.size.toDouble,
      "jobs" -> js.size.toDouble,
      "stages" -> st.count(_.tasks > 0).toDouble,
      "tasks" -> st.map(_.tasks).sum.toDouble,
      "task_run_ms" -> st.map(_.runMs).sum.toDouble,
      "task_wait_ms" -> st.map(_.waitMs).sum.toDouble,
      "shuffle_bytes" -> st.map(_.shuffleBytes).sum.toDouble,
      "failed_tasks" -> st.map(_.failed).sum.toDouble)
  }

  def jobsIn(start: Double, end: Double, tag: String => Boolean): Seq[Job] =
    jobs.values.asScala.toSeq.filter(j => j.start >= start && j.start <= end && tag(j.tag))

  def planningIn(start: Double, end: Double): Seq[Planning] =
    planning.asScala.toSeq.filter(p => p.at >= start && p.at <= end)
}

object SparkProbe {
  final case class Job(id: Int, start: Double, var end: Double, tag: String,
                       stages: Seq[Int])
  final class StageAcc {
    var submitted = 0.0; var tasks = 0L; var runMs = 0L; var waitMs = 0L
    var shuffleBytes = 0L; var failed = 0L
  }
  final case class Planning(at: Double, analysis: Double, optimization: Double,
                            planning: Double)
}
