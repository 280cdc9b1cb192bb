package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

/** A span: times are milliseconds since the epoch, as Spark's listener
  * events carry them, at nanosecond resolution for the harness's own
  * spans.
  */
final case class Span(id: Int, parent: Int, layer: String, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory spans of one run, all under one run id. */
final class Tracer(val runId: String) {
  private val ids = new AtomicInteger()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nextId(): Int = ids.incrementAndGet()
  def msOf(nanoTime: Long): Double = epochMs0 + (nanoTime - nano0) / 1e6
  def add(s: Span): Unit = spans.add(s)
  def all: Vector[Span] = spans.asScala.toVector.sortBy(s => (s.startMs, s.id))
  def byId(id: Int): Span = spans.asScala.find(_.id == id).getOrElse(sys.error(s"no span $id"))

  /** Run `f` inside a new span; returns its id with the result. */
  def span[A](parent: Int, layer: String, name: String)(f: Int => A): A = {
    val id = nextId()
    val t0 = System.nanoTime()
    try f(id)
    finally add(Span(id, parent, layer, name, msOf(t0), msOf(System.nanoTime())))
  }

  /** self time: a span's duration minus the part its children cover */
  def selfMs: Map[Int, Double] = {
    val byParent = all.groupBy(_.parent)
    all.map { s =>
      val kids = byParent.getOrElse(s.id, Vector.empty)
        .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      kids.foreach { case (a, b) =>
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> (s.durMs - covered)
    }.toMap
  }
}

final case class TaskStat(
    stageId: Int, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, diskSpillBytes: Long)
final case class StageStat(stageId: Int, numTasks: Int, submitMs: Long, doneMs: Long)
final case class JobStat(jobId: Int, group: Option[String], startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = startMs
}

/** What Spark tells its listeners, kept in memory. Attached only in
  * traced runs: a [[SparkListener]] for jobs, stages and tasks, and a
  * [[QueryExecutionListener]] that counts exchanges in each final
  * (post-AQE) physical plan.
  */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  val tasks = new ConcurrentLinkedQueue[TaskStat]()
  val stages = new ConcurrentLinkedQueue[StageStat]()
  val jobs = new ConcurrentHashMap[Int, JobStat]()
  /** (completion time, exchange count) per executed query plan */
  val plans = new ConcurrentLinkedQueue[(Long, Int)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, JobStat(e.jobId, group, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageStat(i.stageId, i.numTasks,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(TaskStat(e.stageId,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.diskBytesSpilled))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plans.add((System.currentTimeMillis(), SparkProbe.exchanges(qe)))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object SparkProbe extends AdaptiveSparkPlanHelper {
  /** exchanges in the executed plan, looking inside AQE query stages
    * and subqueries; reused exchanges are not counted again */
  def exchanges(qe: QueryExecution): Int =
    try collectWithSubqueries(qe.executedPlan) { case e: Exchange => e }.size
    catch { case _: Exception => 0 }
}

/** Spark's per-window totals, computed from a probe's events. */
final case class SparkTotals(
    jobs: Int, stages: Int, tasks: Int, taskRunS: Double, taskCpuS: Double, gcS: Double,
    shuffleWriteMb: Double, shuffleReadMb: Double, spillMb: Double, taskSkew: Double,
    exchanges: Int) {
  def slotIdleShare(wallS: Double, cores: Int): Double =
    if (wallS <= 0) 0.0 else 1.0 - taskRunS / (wallS * cores)

  def metrics(prefix: String, wallS: Double, cores: Int): Map[String, Double] = Map(
    s"${prefix}jobs" -> jobs.toDouble, s"${prefix}stages" -> stages.toDouble,
    s"${prefix}tasks" -> tasks.toDouble, s"${prefix}task_run_s" -> taskRunS,
    s"${prefix}task_cpu_s" -> taskCpuS, s"${prefix}gc_s" -> gcS,
    s"${prefix}slot_idle_share" -> slotIdleShare(wallS, cores),
    s"${prefix}shuffle_write_mb" -> shuffleWriteMb, s"${prefix}shuffle_read_mb" -> shuffleReadMb,
    s"${prefix}spill_mb" -> spillMb, s"${prefix}task_skew" -> taskSkew,
    s"${prefix}exchanges" -> exchanges.toDouble)
}

object SparkTotals {
  /** everything whose job started, or whose plan finished, inside
    * [fromMs, toMs] */
  def of(p: SparkProbe, fromMs: Double, toMs: Double): SparkTotals = {
    val inWindow = (t: Double) => t >= fromMs && t <= toMs
    val js = p.jobs.values().asScala.filter(j => inWindow(j.startMs.toDouble)).toSeq
    val stageIds = js.flatMap(_.stageIds).toSet
    val ss = p.stages.asScala.filter(s => stageIds(s.stageId)).toSeq
    val ts = p.tasks.asScala.filter(t => stageIds(t.stageId)).toSeq
    val skew = ts.groupBy(_.stageId).values.filter(_.size >= 2).map { g =>
      val d = g.map(_.runMs.toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }.foldLeft(1.0)(math.max)
    val mb = 1024.0 * 1024.0
    SparkTotals(
      jobs = js.size, stages = ss.size, tasks = ts.size,
      taskRunS = ts.map(_.runMs).sum / 1e3, taskCpuS = ts.map(_.cpuNs).sum / 1e9,
      gcS = ts.map(_.gcMs).sum / 1e3,
      shuffleWriteMb = ts.map(_.shuffleWriteBytes).sum / mb,
      shuffleReadMb = ts.map(_.shuffleReadBytes).sum / mb,
      spillMb = ts.map(_.diskSpillBytes).sum / mb,
      taskSkew = if (ts.isEmpty) 0.0 else skew,
      exchanges = p.plans.asScala.filter { case (t, _) => inWindow(t.toDouble) }.map(_._2).sum)
  }

  /** spans for the jobs of a parent span: those started under its job
    * group, or, for jobs started with no group (on other threads), those
    * started inside its time window; and their stages */
  def spans(p: SparkProbe, tracer: Tracer, parent: Span): Seq[Span] = {
    val out = mutable.Buffer.empty[Span]
    val stagesById = p.stages.asScala.map(s => s.stageId -> s).toMap
    p.jobs.values().asScala.toSeq.sortBy(_.jobId)
      .filter(j => j.group.fold(j.startMs >= parent.startMs && j.startMs <= parent.endMs)(_ == parent.id.toString))
      .foreach { j =>
        val jid = tracer.nextId()
        out += Span(jid, parent.id, "spark", s"job ${j.jobId}", j.startMs.toDouble, j.endMs.toDouble)
        j.stageIds.flatMap(stagesById.get).foreach { s =>
          out += Span(tracer.nextId(), jid, "spark", s"stage ${s.stageId} (${s.numTasks} tasks)",
            s.submitMs.toDouble, s.doneMs.toDouble)
        }
      }
    out.toSeq
  }
}
