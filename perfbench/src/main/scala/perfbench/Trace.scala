package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: an operation, or a call into one engine layer. */
final class Span(val id: Long, val parent: Long, val name: String,
                 val layer: String, val thread: String, val startMs: Long) {
  val startNs: Long = System.nanoTime()
  @volatile private var end = -1L
  private[perfbench] def finish(): Unit = end = System.nanoTime()
  def endNs: Long = end
  def seconds: Double = (end - startNs) / 1e9
  def endMs: Long = startMs + (end - startNs) / 1000000L
  def group: String = Trace.group(id)
}

/** A Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val group: String, val startMs: Long,
                   val stages: Seq[Int]) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Per-operation totals over an operation's span tree. */
final case class OpStats(wallS: Double, jobs: Int, tasks: Long, planS: Double,
                         execRunS: Double, execCpuS: Double, gcS: Double,
                         shuffleWriteMb: Double, spillMb: Double,
                         driverGapS: Double)

/** Spans kept in memory, and the benchmark's own listeners.
  *
  * Every span sets the thread's Spark job group to its id, so each job the
  * listener sees belongs to the innermost span that launched it. The light
  * form (untraced runs) only counts jobs per group; the full form also sums
  * task metrics per job and collects query-planning time through a
  * [[QueryExecutionListener]], which Spark registers per session — call
  * [[attach]] on every session the benchmark creates.
  */
final class Trace(spark: SparkSession, val full: Boolean)
    extends SparkListener with QueryExecutionListener {

  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val queryExec = new ConcurrentHashMap[Long, Long]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  sc.addSparkListener(this)
  attach(spark)

  def attach(session: SparkSession): Unit =
    if (full) session.listenerManager.register(this)

  def span[T](name: String, layer: String)(body: => T): T =
    spanned(name, layer)(_ => body)

  /** As [[span]], handing the open span to `body`. */
  def spanned[T](name: String, layer: String)(body: Span => T): T = {
    val outer = stack.get()
    val s = new Span(nextId.incrementAndGet(), outer.headOption.fold(0L)(_.id),
      name, layer, Thread.currentThread().getName, System.currentTimeMillis())
    spans.add(s)
    stack.set(s :: outer)
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body(s)
    finally {
      s.finish()
      stack.set(outer)
      outer.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  // ------------------------------------------------------------ listener
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    val j = new JobRec(e.jobId, group, e.time, e.stageIds)
    jobs.put(e.jobId, j)
    if (full) e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if full =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case e: SparkListenerSQLExecutionEnd if full =>
      org.apache.spark.sql.perfbench.SqlEvents.queryId(e)
        .foreach(q => queryExec.put(q, e.executionId))
    case _ =>
  }

  private val PlanPhases = Set("analysis", "optimization", "planning")

  override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
    recordPlan(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
                         ex: Exception): Unit = recordPlan(qe)

  private def recordPlan(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.collect {
      case (phase, p) if PlanPhases(phase) => p.durationMs
    }.sum
    plans.add((qe.id, ms / 1000.0))
  }

  // --------------------------------------------------------- aggregation
  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(sc)

  def allSpans: Seq[Span] = spans.asScala.toSeq

  private def childrenOf: Map[Long, Seq[Span]] = allSpans.groupBy(_.parent)

  def subtree(root: Span): Seq[Span] = {
    val kids = childrenOf
    def walk(s: Span): Seq[Span] = s +: kids.getOrElse(s.id, Nil).flatMap(walk)
    walk(root)
  }

  def jobsOf(tree: Seq[Span]): Seq[JobRec] = {
    val groups = tree.map(_.group).toSet
    jobs.values.asScala.filter(j => groups(j.group)).toSeq.sortBy(_.id)
  }

  /** Number of jobs the span and its children launched. */
  def jobCount(s: Span): Int = jobsOf(subtree(s)).size

  /** (query executions seen by the QueryExecutionListener, of which
    * attributed to a job group). */
  def planCoverage: (Int, Int) = {
    val ps = plans.asScala.toSeq
    (ps.size, ps.count(p => groupOfQuery(p._1).isDefined))
  }

  private def groupOfQuery(qeId: Long): Option[String] =
    Option(queryExec.get(qeId)).flatMap(x => Option(execGroup.get(x)))

  private def planSecondsByGroup: Map[String, Double] =
    plans.asScala.toSeq.flatMap { case (qeId, s) =>
      groupOfQuery(qeId).map(_ -> s)
    }.groupMapReduce(_._1)(_._2)(_ + _)

  /** Totals for one operation; `driverGapS` is the operation's wall time
    * minus the union of its jobs' active intervals. */
  def opStats(op: Span): OpStats = {
    val tree = subtree(op)
    val js = jobsOf(tree)
    val planByGroup = planSecondsByGroup
    val intervals = js.map(j => (math.max(j.startMs, op.startMs),
      math.min(if (j.endMs < 0) op.endMs else j.endMs, op.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busyMs = 0L
    var curA = -1L
    var curB = -1L
    intervals.foreach { case (a, b) =>
      if (a > curB) { busyMs += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busyMs += curB - curA
    def sumJ(f: JobRec => Double): Double = js.map(j => j.synchronized(f(j))).sum
    OpStats(
      wallS = op.seconds,
      jobs = js.size,
      tasks = js.map(_.tasks).sum,
      planS = tree.map(s => planByGroup.getOrElse(s.group, 0.0)).sum,
      execRunS = sumJ(_.runMs / 1000.0),
      execCpuS = sumJ(_.cpuNs / 1e9),
      gcS = sumJ(_.gcMs / 1000.0),
      shuffleWriteMb = sumJ(_.shuffleWriteBytes / 1e6),
      spillMb = sumJ(_.spillBytes / 1e6),
      driverGapS = math.max(0.0, op.seconds - busyMs / 1000.0))
  }

  /** Seconds each layer spent outside its child spans, over `roots`. */
  def selfSeconds(roots: Seq[Span]): Map[String, Double] = {
    val kids = childrenOf
    roots.flatMap(subtree).map { s =>
      s.layer -> (s.seconds - kids.getOrElse(s.id, Nil).map(_.seconds).sum)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The span tree as JSON, each span with its jobs as children. */
  def toJson(roots: Seq[Span]): String = {
    val kids = childrenOf
    val byGroup = jobs.values.asScala.toSeq.groupBy(_.group)
    def job(j: JobRec): String = j.synchronized {
      Json.obj("job" -> j.id, "start_ms" -> j.startMs,
        "dur_s" -> (if (j.endMs < 0) -1.0 else (j.endMs - j.startMs) / 1000.0),
        "stages" -> j.stages.size, "tasks" -> j.tasks,
        "exec_run_s" -> j.runMs / 1000.0, "exec_cpu_s" -> j.cpuNs / 1e9,
        "gc_s" -> j.gcMs / 1000.0, "shuffle_write_mb" -> j.shuffleWriteBytes / 1e6,
        "spill_mb" -> j.spillBytes / 1e6)
    }
    def node(s: Span): String = Json.obj("name" -> s.name, "layer" -> s.layer,
      "thread" -> s.thread, "start_ms" -> s.startMs, "dur_s" -> s.seconds,
      "jobs" -> Json.Raw(byGroup.getOrElse(s.group, Nil).sortBy(_.id)
        .map(job).mkString("[", ",", "]")),
      "children" -> Json.Raw(kids.getOrElse(s.id, Nil).sortBy(_.id)
        .map(node).mkString("[", ",", "]")))
    roots.map(node).mkString("[", ",\n", "]")
  }
}

object Trace {
  def group(spanId: Long): String = s"perfbench-$spanId"
}
