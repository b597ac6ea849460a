package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what the `sql` and `exec` layers did, from Spark's public
  * listener APIs only. Events arrive asynchronously on the listener bus,
  * so each carries its own wall-clock time and is attributed afterwards to
  * the op whose [start, end] window holds it (one client, so op windows
  * never overlap). */
final class Tracer(spark: SparkSession, lakeDataPath: String)
    extends SparkListener with QueryExecutionListener {

  /** One QueryExecution: planning phase times and its lake scan nodes. */
  final case class Execution(startMs: Long, endMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, filesRead: Long,
      bytesRead: Long, rowsRead: Long)
  final case class Job(id: Int, startMs: Long)
  final case class Task(launchMs: Long, runMs: Long, cpuNs: Long,
      shuffleBytes: Long)

  val executions = new ConcurrentLinkedQueue[Execution]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  val stagesRun = new ConcurrentLinkedQueue[Long]()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.isEmpty) return
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val start = phases.values.map(_.startTimeMs).min
    val end = phases.values.map(_.endTimeMs).max
    val scans = scala.util.Try(lakeScans(qe.executedPlan)).getOrElse(Nil)
    def metric(s: FileSourceScanExec, k: String) =
      s.metrics.get(k).map(_.value).getOrElse(0L)
    executions.add(Execution(start, end,
      ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
      ms(QueryPlanningTracker.PLANNING),
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum))
  }

  /** File scans over the lake's data path, through adaptive plans, query
    * stages and subqueries; a reused exchange is counted where it ran. */
  private def lakeScans(plan: SparkPlan): Seq[FileSourceScanExec] = {
    val out = Seq.newBuilder[FileSourceScanExec]
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case s: FileSourceScanExec =>
        if (s.relation.location.rootPaths.exists(
          _.toUri.getPath.startsWith(lakeDataPath))) out += s
        s.subqueries.foreach(walk)
      case other =>
        other.subqueries.foreach(walk)
        other.children.foreach(walk)
    }
    walk(plan)
    out.result()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.submissionTime.foreach(t => stagesRun.add(t))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(Task(e.taskInfo.launchTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten))
  }

  /** Waits until the listener bus has delivered every posted event. The
    * bus has no public drain call, so this reaches the method Spark's own
    * tests use; if that is not there, it waits a fixed two seconds. */
  def drain(): Unit = {
    val ok = scala.util.Try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }.isSuccess
    if (!ok) Thread.sleep(2000)
  }

  /** Per-op counters of the `sql` and `exec` layers. */
  def opCounters(startMs: Long, endMs: Long): Map[String, Double] = {
    def in(t: Long) = t >= startMs && t <= endMs
    val ex = executions.asScala.filter(e => in(e.endMs)).toSeq
    val js = jobs.values.asScala.filter(j => in(j.startMs)).toSeq
    val ts = tasks.asScala.filter(t => in(t.launchMs)).toSeq
    // time inside the op with no Spark job running
    val busy = js.map { j =>
      val e = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(endMs)
      (math.max(j.startMs, startMs), math.min(e, endMs))
    }.sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    busy.foreach { case (s, e) =>
      val s2 = math.max(s, cur)
      if (e > s2) { covered += e - s2; cur = e }
    }
    Map(
      "sql.executions" -> ex.size.toDouble,
      "sql.analysis_ms" -> ex.map(_.analysisMs).sum.toDouble,
      "sql.optimization_ms" -> ex.map(_.optimizationMs).sum.toDouble,
      "sql.planning_ms" -> ex.map(_.planningMs).sum.toDouble,
      "scan.files_read" -> ex.map(_.filesRead).sum.toDouble,
      "scan.bytes_read" -> ex.map(_.bytesRead).sum.toDouble,
      "scan.rows_read" -> ex.map(_.rowsRead).sum.toDouble,
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> stagesRun.asScala.count(in).toDouble,
      "exec.tasks" -> ts.size.toDouble,
      "exec.task_run_ms" -> ts.map(_.runMs).sum.toDouble,
      "exec.task_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "exec.shuffle_bytes" -> ts.map(_.shuffleBytes).sum.toDouble,
      "exec.idle_ms" -> math.max(0L, endMs - startMs - covered).toDouble)
  }

  /** Child spans of one op: each QueryExecution's planning phases and each
    * Spark job. */
  def spans(startMs: Long, endMs: Long): Seq[(String, Long, Long)] = {
    def in(t: Long) = t >= startMs && t <= endMs
    executions.asScala.filter(e => in(e.endMs)).toSeq
      .map(e => ("sql", e.startMs, e.endMs)) ++
      jobs.values.asScala.filter(j => in(j.startMs)).toSeq.map { j =>
        ("exec", j.startMs,
          Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(endMs))
      }
  }
}
