package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What one finished Spark job looked like, from the listener bus. */
final case class JobRec(jobId: Int, start: Double, end: Double, stageIds: Seq[Int],
    streamQueryId: Option[String], batchId: Option[Long])

/** One completed stage with its task-metric totals. */
final case class StageRec(stageId: Int, start: Double, end: Double, tasks: Int,
    runMs: Long, cpuMs: Long, gcMs: Long, shuffleWrite: Long,
    shuffleRead: Long, spill: Long, inputBytes: Long, inputRows: Long)

/** One executed Dataset action: planning phases and final-plan counts. */
final case class PlanRec(planStart: Double, planEnd: Double,
    exchanges: Int, topk: Int, gavroRead: Long, gavroTotal: Long)

/** One streaming progress report, stamped when it arrived. */
final case class ProgressRec(at: Double, p: StreamingQueryProgress)

/** Listener-side probes, attached from outside the program.
  *
  * `progress` always runs: the live workload needs streaming progress to
  * know when the backlog has been consumed and to check input counts.
  * The job, stage, task and plan listeners run only in a traced run.
  */
final class Probes(spark: SparkSession, traced: Boolean) {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()
  val failedTasks = new AtomicLong(0)
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

  private val progressListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(ProgressRec(Tracer.nowMs(), e.progress))
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.put(e.jobId, e)

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { s =>
        val props = Option(s.properties)
        def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
        jobs.add(JobRec(e.jobId, s.time.toDouble, e.time.toDouble, s.stageIds,
          prop("sql.streaming.queryId"), prop("streaming.sql.batchId").map(_.toLong)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.reason != org.apache.spark.Success) failedTasks.incrementAndGet()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val start = i.submissionTime.getOrElse(0L).toDouble
      stages.add(StageRec(i.stageId, start, i.completionTime.map(_.toDouble).getOrElse(start),
        i.numTasks,
        m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(Probes.planRec(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.streams.addListener(progressListener)
  if (traced) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    spark.streams.removeListener(progressListener)
    if (traced) {
      spark.sparkContext.removeSparkListener(sparkListener)
      spark.listenerManager.unregister(planListener)
    }
  }

  /** Lets listener-bus events that are still queued arrive. */
  def settle(): Unit = Thread.sleep(300)
}

object Probes {

  /** Every node of a physical plan, descending into AQE's final plan and
    * its query stages. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def planRec(qe: QueryExecution): PlanRec = {
    val phases = qe.tracker.phases.values
    val ns = nodes(qe.executedPlan)
    def metric(name: String): Long =
      ns.flatMap(_.metrics.get(name)).map(_.value).sum
    val exchanges = ns.count { n =>
      val c = n.getClass.getSimpleName
      c.endsWith("ExchangeExec") && !c.startsWith("Reused")
    }
    PlanRec(
      if (phases.isEmpty) 0.0 else phases.map(_.startTimeMs).min.toDouble,
      if (phases.isEmpty) 0.0 else phases.map(_.endTimeMs).max.toDouble,
      exchanges, ns.count(_.getClass.getSimpleName.contains("TopK")),
      metric("gavroBlocksRead"), metric("gavroBlocksTotal"))
  }

  /** Task-metric totals over the stages of a set of jobs, as per-unit
    * metrics: `units` is the number of queries or micro-batches the jobs
    * served, `wallMs` the wall time they ran in. */
  def session(jobs: Seq[JobRec], stages: Map[Int, StageRec], units: Double,
      wallMs: Double, cores: Int, failedTasks: Long): Map[String, Double] = {
    val ss = jobs.flatMap(_.stageIds).distinct.flatMap(stages.get)
    val n = math.max(1.0, units)
    def per(f: StageRec => Long) = ss.map(f).sum / n
    Map(
      "Session.jobs" -> jobs.length / n, "Session.stages" -> ss.length / n,
      "Session.tasks" -> per(_.tasks), "Session.failed_tasks" -> failedTasks.toDouble,
      "Session.task_run_ms" -> per(_.runMs), "Session.task_cpu_ms" -> per(_.cpuMs),
      "Session.gc_ms" -> per(_.gcMs),
      "Session.core_busy_frac" -> (if (wallMs > 0) ss.map(_.runMs).sum / (wallMs * cores) else 0.0),
      "Session.shuffle_write_bytes" -> per(_.shuffleWrite),
      "Session.shuffle_read_bytes" -> per(_.shuffleRead),
      "Session.spill_bytes" -> per(_.spill),
      "sources.input_bytes" -> per(_.inputBytes), "sources.input_rows" -> per(_.inputRows))
  }

  /** Epoch ms of a progress report's trigger start. */
  def triggerStart(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  def durationMs(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** Micro-batch phases in the order the engine runs them. The progress
    * report carries durations only, so the traced spans lay them end to
    * end from the trigger start. */
  val BatchPhases: Seq[String] =
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
}
