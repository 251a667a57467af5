package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Block-manager storage memory, tracked from block-update events: the
  * current total is kept per block id, and `peakMb` is the highest total
  * seen since the last `resetPeak`. Always attached (it feeds the
  * end-to-end `cache_peak_mb`); it does no work per task.
  */
final class StorageWatch extends SparkListener {
  private val blocks = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peak = 0L

  override def onBlockUpdated(ev: SparkListenerBlockUpdated): Unit = synchronized {
    val info = ev.blockUpdatedInfo
    val id = info.blockId.name
    total -= blocks.getOrElse(id, 0L)
    if (info.storageLevel.isValid && info.memSize > 0) {
      blocks(id) = info.memSize
      total += info.memSize
    } else blocks.remove(id)
    peak = math.max(peak, total)
  }

  def resetPeak(): Unit = synchronized { peak = total }
  def peakMb: Double = synchronized(peak / 1e6)
}

/** The traced run's Spark-runtime collector: task metrics from a
  * `SparkListener`, planning time from a `QueryExecutionListener`, and
  * each job's wall time credited to a module by its call site.
  *
  * A job's module is the source file of the first engine frame in its
  * result stage's call site; an MLlib frame credits `mllib`. Jobs whose
  * first such frame is in the harness or in `SparkEntry` (a face's own
  * definition), and jobs with no such frame (started on Spark's own
  * threads), go to `current`, the module of the call being timed. Other
  * engine files go to `other`, listed in `otherCallSites`.
  */
final class Layers(modules: Set[String], current: () => String)
    extends SparkListener with QueryExecutionListener {

  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shuffleW, shuffleR, spill, input = 0L
  private var planMs = 0L
  private var skewWeighted, skewWeight = 0.0
  private val jobStart = mutable.HashMap.empty[Int, (Long, String)]
  private val byModule = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private var active = 0
  private var busySince, busyMs = 0L

  private def moduleOf(stage: Option[StageInfo]): String = {
    val frames = stage.map(_.details.linesIterator.map(_.trim).toSeq).getOrElse(Nil)
    val first = frames.find(f => f.startsWith("org.apache.spark.ml") ||
      f.startsWith("graft.") || f.startsWith("perfbench."))
    first match {
      case Some(f) if f.startsWith("org.apache.spark.ml") => "mllib"
      case Some(f) =>
        val file = "\\(([A-Za-z0-9_$]+)\\.scala:".r.findFirstMatchIn(f).map(_.group(1))
        if (f.startsWith("perfbench.") || file.contains("SparkEntry")) current()
        else file.filter(modules.contains).getOrElse(other(f))
      // no engine frame: a job Spark started on its own thread (a broadcast
      // or subquery) for the call being timed
      case None => current()
    }
  }

  private val otherSites = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  private def other(frame: String): String = {
    otherSites(frame.replaceAll(":[0-9]+\\)", ")")) += 1
    "other"
  }

  /** Call sites credited to `other`, with their job counts (diagnostic). */
  def otherCallSites: Map[String, Long] = synchronized(otherSites.toMap)

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(ev.jobId) = (ev.time, moduleOf(ev.stageInfos.sortBy(_.stageId).lastOption))
    if (active == 0) busySince = ev.time
    active += 1
  }

  override def onJobEnd(ev: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(ev.jobId).foreach { case (t0, m) => byModule(m) += ev.time - t0 }
    active -= 1
    if (active == 0) busyMs += ev.time - busySince
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = ev.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      shuffleW += m.shuffleWriteMetrics.bytesWritten
      shuffleR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
      input += m.inputMetrics.bytesRead
      stageTasks.getOrElseUpdate(ev.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageTasks.remove(ev.stageInfo.stageId).foreach { ts =>
      val s = ts.sorted
      val median = s(s.size / 2).toDouble
      val weight = s.sum.toDouble
      if (median > 0 && weight > 0) {
        skewWeighted += weight * s.last / median
        skewWeight += weight
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      planMs += Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING).flatMap(phases.get).map(_.durationMs).sum
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The counters as per-layer metrics over a window of `windowMs`. */
  def metrics(windowMs: Long): Map[String, Double] = synchronized {
    Map(
      "spark.plan_s" -> planMs / 1e3,
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.driver_s" -> math.max(0L, windowMs - busyMs) / 1e3,
      "spark.task_run_s" -> runMs / 1e3,
      "spark.task_cpu_s" -> cpuNs / 1e9,
      "spark.task_skew" -> (if (skewWeight > 0) skewWeighted / skewWeight else 1.0),
      "spark.shuffle_write_mb" -> shuffleW / 1e6,
      "spark.shuffle_read_mb" -> shuffleR / 1e6,
      "spark.spill_mb" -> spill / 1e6,
      "spark.input_mb" -> input / 1e6) ++
      modules.toSeq.map(m => s"jobs_s.$m" -> byModule(m) / 1e3)
  }
}
