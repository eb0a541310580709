package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

private final case class Task(stage: Int, attempt: Int, runMs: Long, waitMs: Long,
                              shuffleRead: Long, shuffleWrite: Long, spill: Long,
                              peakMem: Long, ok: Boolean)

/** Execution counters from Spark's public listener API. Jobs are
  * attributed to whatever was running when they were submitted: the
  * benchmark runs one op at a time, so a job's submission time places
  * it in exactly one op, one span and one phase.
  */
final class SparkProbe extends SparkListener {
  final class Job(val id: Int, val startMs: Long, val group: String) {
    @volatile var endMs: Long = -1L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageStart = mutable.Map.empty[(Int, Int), Long]
  private val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    jobs(e.jobId) = new Job(e.jobId, e.time, group)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    stageStart((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    val submitted = stageStart.getOrElse((e.stageId, e.stageAttemptId), info.launchTime)
    tasks += (if (m == null) Task(e.stageId, e.stageAttemptId, 0L, 0L, 0L, 0L, 0L, 0L, ok = false)
    else Task(e.stageId, e.stageAttemptId, m.executorRunTime,
      math.max(0L, info.launchTime - submitted),
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
      info.successful))
  }

  /** Start times (epoch ms) of every job seen so far. */
  def jobStarts: Seq[Long] = synchronized(jobs.values.map(_.startMs).toList)

  /** Totals over the jobs submitted in [fromMs, toMs). */
  def totals(fromMs: Double, toMs: Double): Seq[Metric] = synchronized {
    val js = jobs.values.filter(j => j.startMs >= fromMs && j.startMs < toMs).toList
    val jobIds = js.map(_.id).toSet
    val ts = tasks.filter(t => stageJob.get(t.stage).exists(jobIds)).toList
    val byStage = ts.groupBy(t => (t.stage, t.attempt))
    val skews = byStage.values.filter(_.size >= 2).map { st =>
      val runs = st.map(_.runMs.toDouble)
      runs.max / math.max(1.0, Stats.median(runs))
    }
    Seq(
      Metric("spark.exec_s", js.map(j => math.max(0L, j.endMs - j.startMs)).sum / 1e3, "s"),
      Metric("spark.jobs", js.size, "count"),
      Metric("spark.stages", byStage.size, "count"),
      Metric("spark.tasks", ts.size, "count"),
      Metric("spark.task_busy_s", ts.map(_.runMs).sum / 1e3, "s"),
      Metric("spark.task_wait_s", ts.map(_.waitMs).sum / 1e3, "s"),
      Metric("spark.shuffle_read_bytes", ts.map(_.shuffleRead).sum.toDouble, "bytes"),
      Metric("spark.shuffle_write_bytes", ts.map(_.shuffleWrite).sum.toDouble, "bytes"),
      Metric("spark.spill_bytes", ts.map(_.spill).sum.toDouble, "bytes"),
      Metric("spark.peak_exec_mem_bytes",
        if (ts.isEmpty) 0.0 else ts.map(_.peakMem).max.toDouble, "bytes"),
      Metric("spark.single_task_stages", byStage.values.count(_.size == 1), "count"),
      Metric("spark.max_task_skew", if (skews.isEmpty) 1.0 else skews.max, "ratio"),
      Metric("spark.tasks_failed", ts.count(!_.ok), "count"))
  }

  private var drains = 0

  /** Blocks until every event posted before this call has been
    * delivered: runs a one-task job in a marker group and waits for its
    * end event. Listener delivery is asynchronous and in order.
    */
  def drain(spark: SparkSession): Unit = {
    drains += 1
    val group = s"perfbench-drain-$drains"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "listener drain")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    def seen = synchronized(jobs.values.exists(j => j.group == group && j.endMs >= 0))
    while (!seen) {
      require(System.nanoTime() < deadline, "listener bus did not drain within 60 s")
      Thread.sleep(2)
    }
  }
}

/** Catalyst phase times from each executed query's
  * `QueryPlanningTracker`. Records arrive in completion order; callers
  * take the slice between two `SparkProbe.drain` calls.
  */
final class PlanProbe extends QueryExecutionListener {
  private val rows = mutable.ArrayBuffer.empty[(Double, Double, Double)]

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    add(qe.tracker)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    add(qe.tracker)

  def add(t: QueryPlanningTracker): Unit = {
    def ms(phase: String) = t.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)
    synchronized {
      rows += ((ms(QueryPlanningTracker.ANALYSIS), ms(QueryPlanningTracker.OPTIMIZATION),
        ms(QueryPlanningTracker.PLANNING)))
    }
  }

  def mark: Int = synchronized(rows.size)

  def totals(from: Int, to: Int): Seq[Metric] = synchronized {
    val s = rows.slice(from, to)
    Seq(
      Metric("catalyst.analysis_ms", s.map(_._1).sum, "ms"),
      Metric("catalyst.optimization_ms", s.map(_._2).sum, "ms"),
      Metric("catalyst.planning_ms", s.map(_._3).sum, "ms"))
  }
}

/** Both listeners, registered on a session for a traced run. */
final class Probes(spark: SparkSession, trace: Trace) {
  val exec = new SparkProbe
  val plan = new PlanProbe
  spark.sparkContext.addSparkListener(exec)
  spark.listenerManager.register(plan)
  exec.drain(spark)
  private val planFrom = plan.mark

  /** Spark and Catalyst totals over the timed phase [t0Ns, t1Ns). */
  def finish(t0Ns: Long, t1Ns: Long): Seq[Metric] = {
    exec.drain(spark)
    exec.totals(trace.epochMs(t0Ns), trace.epochMs(t1Ns)) ++
      plan.totals(planFrom, plan.mark)
  }

  /** Jobs submitted while a span matching `pick` was open. */
  def jobsIn(pick: Span => Boolean): Int = {
    val windows = trace.all.filter(pick)
      .map(s => (trace.epochMs(s.startNs), trace.epochMs(s.endNs)))
    exec.jobStarts.count(t => windows.exists { case (a, b) => t >= a && t <= b })
  }
}

object Probes {
  def attach(spark: SparkSession, trace: Trace): Option[Probes] =
    if (trace.on) Some(new Probes(spark, trace)) else None
}

/** Late-to-early latency ratio within each cycle of a workload: the
  * mean over the last quarter of a cycle's ops divided by the mean over
  * its first quarter. Each op is first divided by the run's median for
  * its kind, so the mix of kinds in a quarter does not move the ratio.
  * Input is in run order: (cycle, kind, latency).
  */
object Growth {
  def ratio(ops: Seq[(Int, String, Double)]): Double = {
    val med = ops.groupBy(_._2).map { case (k, xs) => k -> Stats.median(xs.map(_._3)) }
    val norm = ops.map { case (c, k, s) => (c, s / math.max(med(k), 1e-9)) }
    val cycles = norm.groupBy(_._1).values.map(_.map(_._2)).filter(_.size >= 4)
    val first = cycles.flatMap(xs => xs.take(xs.size / 4)).toSeq
    val last = cycles.flatMap(xs => xs.takeRight(xs.size / 4)).toSeq
    if (first.isEmpty) 0.0 else Stats.mean(last) / Stats.mean(first)
  }
}
