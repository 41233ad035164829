package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `id` tags the Spark jobs the call submits
  * (a local property, inherited by the threads Spark SQL spawns for it). */
final case class Span(id: Int, parent: Int, pass: Int, name: String,
    startMs: Long, endMs: Long, seconds: Double)

final case class JobRec(id: Int, span: Int, execId: Long, startMs: Long, stages: Seq[Int])
final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, cpuNs: Long,
    gcMs: Long, shuffleWrite: Long, spill: Long, failed: Boolean)
final case class ExecRec(id: Long, startMs: Long, endMs: Long, isWrite: Boolean)

/** Spark counters summed over a set of jobs. */
final case class Counters(jobs: Int, stages: Int, tasks: Int, cpuS: Double, gcS: Double,
    shuffleWriteMb: Double, spillMb: Double, failedTasks: Int, busyS: Double)

/** Benchmark-owned listener. Job starts are always recorded (the scoring
  * workload's memoization check counts fit jobs in every run); tasks and SQL
  * executions only while `full` is set, in the traced phase of a traced run. */
final class Recorder(sc: SparkContext) extends SparkListener {
  @volatile var full = false
  private val jobs = ArrayBuffer.empty[JobRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val execs = ArrayBuffer.empty[ExecRec]
  private val execStarts = scala.collection.mutable.Map.empty[Long, (Long, Boolean)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val rec = JobRec(e.jobId, prop(Tracer.Key).map(_.toInt).getOrElse(-1),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), e.time, e.stageIds)
    synchronized { jobs += rec }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (full) {
    val m = Option(e.taskMetrics)
    val rec = TaskRec(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.map(_.executorCpuTime).getOrElse(0L), m.map(_.jvmGCTime).getOrElse(0L),
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L),
      !e.taskInfo.successful)
    synchronized { tasks += rec }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = if (full) e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized {
        execStarts(s.executionId) =
          (s.time, s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand"))
      }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized {
        execStarts.remove(s.executionId).foreach { case (t0, w) =>
          execs += ExecRec(s.executionId, t0, s.time, w)
        }
      }
    case _ =>
  }

  /** Wait until every posted event has reached this listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def jobsOf(spans: Set[Int]): Seq[JobRec] = synchronized { jobs.filter(j => spans(j.span)).toSeq }

  def counters(js: Seq[JobRec]): Counters = synchronized {
    val stageSet = js.flatMap(_.stages).toSet
    val ts = tasks.filter(t => stageSet(t.stage))
    Counters(js.size, ts.map(_.stage).distinct.size, ts.size,
      ts.map(_.cpuNs).sum / 1e9, ts.map(_.gcMs).sum / 1e3,
      ts.map(_.shuffleWrite).sum / 1048576.0, ts.map(_.spill).sum / 1048576.0,
      ts.count(_.failed), unionSeconds(ts.map(t => (t.launchMs, t.finishMs)).toSeq))
  }

  /** SQL executions that ran the given jobs. */
  def execsOf(js: Seq[JobRec]): Seq[ExecRec] = synchronized {
    val ids = js.map(_.execId).toSet
    execs.filter(x => ids(x.id)).toSeq
  }

  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}

/** Scans of one input path and planning time, per query, read from each
  * executed plan. Registered only in the traced phase. */
final class PlanRecorder(inputSuffix: String) extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  /** (planning end ms, scans of the input, analysis+optimization+planning s) */
  val queries = ArrayBuffer.empty[(Long, Int, Double)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val scans = collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.endsWith(inputSuffix)) => s
    }.size
    val phases = qe.tracker.phases
    val planS = Seq("analysis", "optimization", "planning").flatMap(phases.get)
      .map(_.durationMs).sum / 1e3
    val at = phases.get("planning").orElse(phases.get("analysis")).map(_.endTimeMs)
      .getOrElse(System.currentTimeMillis())
    synchronized { queries += ((at, scans, planS)) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def within(fromMs: Long, toMs: Long): Seq[(Long, Int, Double)] =
    synchronized { queries.filter(q => q._1 >= fromMs && q._1 <= toMs).toSeq }
}

/** In-memory span log; written out as JSON when the run ends. */
final class Tracer(sc: SparkContext) {
  val spans = ArrayBuffer.empty[Span]
  var pass = -1
  private var next = 0
  private var current = -1

  def span[T](name: String)(body: => T): T = {
    val id = next
    next += 1
    val parent = current
    current = id
    sc.setLocalProperty(Tracer.Key, id.toString)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      spans += Span(id, parent, pass, name, ms0, System.currentTimeMillis(), s)
      current = parent
      sc.setLocalProperty(Tracer.Key, if (parent < 0) null else parent.toString)
    }
  }

  /** The span and every span nested in it. */
  def subtree(root: Span): Set[Int] = {
    val kids = spans.groupBy(_.parent)
    def go(id: Int): Set[Int] = kids.getOrElse(id, Nil).map(s => go(s.id)).foldLeft(Set(id))(_ ++ _)
    go(root.id)
  }

  def ofPass(p: Int, name: String): Seq[Span] = spans.filter(s => s.pass == p && s.name == name).toSeq
}

object Tracer {
  val Key = "perfbench.span"
}
