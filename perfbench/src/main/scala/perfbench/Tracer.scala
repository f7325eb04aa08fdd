package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters of one operation, filled from Spark's listener buses. */
final class OpLayers {
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // id, start, end ms
  val stages = mutable.ArrayBuffer.empty[(Int, Int, Long, Long, Int, Boolean)]
  var tasks, failedTasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spillBytes = 0L
  var scanFileBytes, scanRows, fixtureBytes = 0L
  var batches = 0L
  var addBatchMs, planningMs, walMs = 0L
  val triggerMs = mutable.ArrayBuffer.empty[Long]
  val stateByQuery = mutable.LinkedHashMap.empty[String, (Long, Long)]

  /** Union of the job intervals in seconds. */
  def jobBusyS: Double = {
    var busy, reach = 0L
    var first = true
    jobs.map(j => (j._2, j._3)).sortBy(_._1).foreach { case (s, e) =>
      if (first || s > reach) { busy += e - s; reach = e; first = false }
      else if (e > reach) { busy += e - reach; reach = e }
    }
    busy / 1e3
  }
}

/** Records every Spark job, stage, task, SQL scan and streaming progress
  * event of the benchmark's session into the [[OpLayers]] of the operation
  * that is running. Operations run strictly one after another and the
  * harness drains the listener bus after each, so attribution by "current
  * operation" equals attribution by time interval. This also covers jobs
  * started from pool threads that do not inherit job-group properties.
  */
final class Tracer(spark: SparkSession, fixtureDir: String) {
  @volatile var current: OpLayers = new OpLayers
  /** Off between traced passes: the listeners stay registered but skip
    * their work, and the harness skips the per-operation drain. */
  @volatile var active = false
  private val stageJob = mutable.HashMap.empty[Int, Int]

  private object Jobs extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      current.jobs += ((e.jobId, e.time, -1L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
      val js = current.jobs
      val i = js.indexWhere(_._1 == e.jobId)
      if (i >= 0) js(i) = js(i).copy(_3 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
      val s = e.stageInfo
      current.stages += ((s.stageId, stageJob.getOrElse(s.stageId, -1),
        s.submissionTime.getOrElse(-1L), s.completionTime.getOrElse(-1L),
        s.numTasks, s.failureReason.isDefined))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
      val o = current
      o.tasks += 1
      if (!e.taskInfo.successful) o.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.taskRunMs += m.executorRunTime
        o.taskCpuNs += m.executorCpuTime
        o.gcMs += m.jvmGCTime
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        o.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        o.spillBytes += m.diskBytesSpilled
      }
    }
  }

  private object Scans extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) synchronized {
        collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
          .foreach { s =>
            def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
            val bytes = metric("filesSize")
            current.scanFileBytes += bytes
            current.scanRows += metric("numOutputRows")
            if (s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(fixtureDir)))
              current.fixtureBytes += bytes
          }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private object Streams extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = if (active) synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val o = current
      o.batches += 1
      o.addBatchMs += d.getOrElse("addBatch", 0L)
      o.planningMs += d.getOrElse("queryPlanning", 0L)
      o.walMs += d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L)
      d.get("triggerExecution").foreach(o.triggerMs += _)
      o.stateByQuery(p.runId.toString) = (
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum)
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    spark.listenerManager.register(Scans)
    spark.streams.addListener(Streams)
  }

  /** Hands back the finished operation's counters and starts a new set. */
  def next(): OpLayers = {
    org.apache.spark.BusDrain(spark.sparkContext)
    synchronized { val o = current; current = new OpLayers; o }
  }
}
