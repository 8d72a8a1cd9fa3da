package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `parent` names the span that caused it. Times are
  * epoch millis, the clock Spark's listener events carry.
  */
final case class Span(id: String, parent: String, name: String, startMs: Long, endMs: Long,
    counts: Map[String, Double] = Map.empty)

/** Spark-side trace recorder for the traced benchmark run: a
  * [[SparkListener]] for jobs, stages and tasks, and a
  * [[QueryExecutionListener]] for each execution's planning phases and the
  * counters its executed plan carries (the live scan's `livePages` /
  * `liveDocs` / `liveWindowTiles`, the explode's output rows). Events are
  * kept in memory; [[Tracer.round]] attributes them to one sync round by
  * time interval, exact because a single client runs rounds one after
  * another.
  */
final class Tracer extends SparkListener with QueryExecutionListener {

  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class Task(stageId: Int, durMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, shuffleBytes: Long, spillBytes: Long)
  final case class Exec(startMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, counters: Map[Long, (String, Long)])

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stages = new ConcurrentLinkedQueue[StageInfo]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val execs = new ConcurrentLinkedQueue[Exec]()
  private val started = new AtomicInteger()
  private val ended = new AtomicInteger()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  private def touch(): Unit = lastEvent.set(System.currentTimeMillis())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.add(Job(e.jobId, e.time, e.stageIds)); started.incrementAndGet(); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time); ended.incrementAndGet(); touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.add(e.stageInfo); touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled))
    touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
    execs.add(Exec(start, ms("analysis"), ms("optimization"),
      ms("planning"), Tracer.counters(qe.executedPlan)))
    touch()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this); spark.listenerManager.register(this)
  }
  def detach(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  /** Wait until every started job has ended and no event arrived for a
    * short quiet period — the listener bus delivers asynchronously.
    */
  def awaitQuiet(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() < deadline &&
      (started.get() != ended.get() || System.currentTimeMillis() - lastEvent.get() < 400L))
      Thread.sleep(50L)
  }

  /** The Spark work of one round `[startMs, endMs]` as counters, plus the
    * job and stage spans under `parent`.
    */
  def round(parent: String, startMs: Long, endMs: Long): (Map[String, Double], Seq[Span]) = {
    def in(t: Long) = t >= startMs && t <= endMs
    val rJobs = jobs.asScala.filter(j => in(j.startMs)).toSeq
    val stageIds = rJobs.flatMap(_.stageIds).toSet
    val rStages = stages.asScala.filter(s => stageIds(s.stageId)).toSeq
    val rTasks = tasks.asScala.filter(t => stageIds(t.stageId)).toSeq
    val rExecs = execs.asScala.filter(x => in(x.startMs)).toSeq
    // counters are keyed by accumulator id: an execution nested in another
    // (a command and its query) reports the same scan once
    val counters = rExecs.flatMap(_.counters).toMap.values
    def counter(name: String) = counters.filter(_._1 == name).map(_._2).sum.toDouble
    // the scan stage: the stage carrying the most task time (the narrow
    // scan → explode → insert pipeline runs in one stage)
    val byStage = rTasks.groupBy(_.stageId)
    val scanSkew = if (byStage.isEmpty) 0.0 else {
      val heaviest = byStage.values.maxBy(_.map(_.durMs).sum).map(_.durMs.toDouble).sorted
      val med = Stats.percentile(heaviest, 50)
      if (med > 0) heaviest.last / med else 1.0
    }
    val pages = counter("livePages")
    val docs = counter("liveDocs")
    val c = Map(
      "syncjob.jobs" -> rJobs.size.toDouble,
      "syncjob.stages" -> rStages.size.toDouble,
      "syncjob.tasks" -> rTasks.size.toDouble,
      "planning.analysis_ms" -> rExecs.map(_.analysisMs).sum.toDouble,
      "planning.optimization_ms" -> rExecs.map(_.optimizationMs).sum.toDouble,
      "planning.physical_ms" -> rExecs.map(_.planningMs).sum.toDouble,
      "planning.executions" -> rExecs.size.toDouble,
      "es.pages" -> pages,
      "es.docs" -> docs,
      "es.docs_per_page" -> (if (pages > 0) docs / pages else 0.0),
      "es.window_tiles" -> counter("liveWindowTiles"),
      "es.scan_task_skew" -> scanSkew,
      "explode.plan_rows_out" -> counter(Tracer.GenerateRows),
      "exec.task_run_s" -> rTasks.map(_.runMs).sum / 1e3,
      "exec.task_cpu_s" -> rTasks.map(_.cpuNs).sum / 1e9,
      "exec.shuffle_bytes" -> rTasks.map(_.shuffleBytes).sum.toDouble,
      "exec.spill_bytes" -> rTasks.map(_.spillBytes).sum.toDouble,
      "exec.gc_s" -> rTasks.map(_.gcMs).sum / 1e3)
    val jobSpans = rJobs.map { j =>
      Span(s"job-${j.id}", parent, "spark.job", j.startMs,
        jobEnds.getOrDefault(j.id, endMs),
        Map("stages" -> j.stageIds.size.toDouble))
    }
    val stageSpans = rStages.map { s =>
      val job = rJobs.find(_.stageIds.contains(s.stageId)).map(j => s"job-${j.id}").getOrElse(parent)
      Span(s"stage-${s.stageId}.${s.attemptNumber()}", job, "spark.stage",
        s.submissionTime.getOrElse(startMs), s.completionTime.getOrElse(endMs),
        Map("tasks" -> s.numTasks.toDouble))
    }
    (c, jobSpans ++ stageSpans)
  }
}

object Tracer {
  /** Counter name for the explode's generated rows in an executed plan. */
  val GenerateRows = "generate.numOutputRows"

  private def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec        => nodes(q.plan)
    case c: CommandResultExec     => nodes(c.commandPhysicalPlan)
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }

  /** Counters of one executed plan, keyed by accumulator id: the live scans'
    * custom metrics and the explode's output rows.
    */
  def counters(plan: SparkPlan): Map[Long, (String, Long)] =
    nodes(plan).flatMap {
      case s: BatchScanExec =>
        Seq("livePages", "liveDocs", "liveWindowTiles").flatMap(k =>
          s.metrics.get(k).map(m => m.id -> (k, m.value)))
      case g: GenerateExec =>
        g.metrics.get("numOutputRows").map(m => m.id -> (GenerateRows, m.value)).toSeq
      case _ => Nil
    }.toMap
}
