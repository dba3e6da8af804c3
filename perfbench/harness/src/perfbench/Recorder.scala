package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Raw events of one call, as the three listeners delivered them.
  * Times are epoch milliseconds. */
final case class JobEv(id: Int, start: Long, end: Long, sqlExecution: Boolean,
    site: String, description: String, stageIds: Seq[Int])
final case class StageEv(id: Int, name: String, submitted: Long, completed: Long,
    runMs: Seq[Long], cpuMs: Double, gcMs: Long, schedMs: Long,
    shuffleWriteBytes: Long, shuffleWriteRecords: Long,
    shuffleReadBytes: Long, fetchWaitMs: Long,
    inputBytes: Long, inputRecords: Long, outputBytes: Long)
final case class PlanEv(func: String, phases: Seq[(String, Long, Long)], nodes: Int)
final case class BatchEv(start: Long, triggerMs: Long, planningMs: Long,
    addBatchMs: Long, walCommitMs: Long, commitOffsetsMs: Long,
    latestOffsetMs: Long, inputRows: Long, stateRows: Long, stateMemBytes: Long)
final case class Events(jobs: Seq[JobEv], stages: Seq[StageEv],
    plans: Seq[PlanEv], batches: Seq[BatchEv])

/** Collects Spark, SQL and streaming listener events in memory. The
  * listeners are registered only while a traced pass runs; between
  * calls the caller drains the bus and takes the events. */
final class Recorder(spark: SparkSession) {
  private final class StageAcc {
    val runMs = mutable.ArrayBuffer.empty[Long]
    var cpuNs, gcMs, schedMs, swBytes, swRecs, srBytes, fetchWait, inBytes,
        inRecs, outBytes = 0L
  }
  private val lock = new Object
  private val jobStarts = mutable.HashMap.empty[Int, (Long, Boolean, String, String, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobEv]
  private val stageAcc = mutable.HashMap.empty[Int, StageAcc]
  private val stages = mutable.ArrayBuffer.empty[StageEv]
  private val plans = mutable.ArrayBuffer.empty[PlanEv]
  private val batches = mutable.ArrayBuffer.empty[BatchEv]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      lock.synchronized {
        jobStarts(e.jobId) = (e.time, prop("spark.sql.execution.id").nonEmpty,
          prop("callSite.short"), prop("spark.job.description"), e.stageIds)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStarts.remove(e.jobId).foreach { case (t, sql, site, desc, ids) =>
        jobs += JobEv(e.jobId, t, e.time, sql, site, desc, ids)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null && e.taskInfo != null) {
        val m = e.taskMetrics
        val i = e.taskInfo
        lock.synchronized {
          val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.schedMs += math.max(0L, i.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime)
          a.swBytes += m.shuffleWriteMetrics.bytesWritten
          a.swRecs += m.shuffleWriteMetrics.recordsWritten
          a.srBytes += m.shuffleReadMetrics.totalBytesRead
          a.fetchWait += m.shuffleReadMetrics.fetchWaitTime
          a.inBytes += m.inputMetrics.bytesRead
          a.inRecs += m.inputMetrics.recordsRead
          a.outBytes += m.outputMetrics.bytesWritten
        }
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      lock.synchronized {
        val a = stageAcc.remove(s.stageId).getOrElse(new StageAcc)
        val done = s.completionTime.getOrElse(System.currentTimeMillis())
        stages += StageEv(s.stageId, s.name, s.submissionTime.getOrElse(done), done,
          a.runMs.toSeq, a.cpuNs / 1e6, a.gcMs, a.schedMs,
          a.swBytes, a.swRecs, a.srBytes, a.fetchWait, a.inBytes,
          a.inRecs, a.outBytes)
      }
    }
  }

  private def planEv(func: String, qe: QueryExecution, failed: Boolean): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (k, v) => (k, v.startTimeMs, v.endTimeMs) }
    var nodes = 0
    if (!failed) qe.optimizedPlan.foreach(_ => nodes += 1)
    lock.synchronized { plans += PlanEv(func, phases, nodes) }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit =
      planEv(func, qe, failed = false)
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
      planEv(func, qe, failed = true)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      val start = scala.util.Try(java.time.Instant.parse(p.timestamp).toEpochMilli)
        .getOrElse(System.currentTimeMillis())
      lock.synchronized {
        batches += BatchEv(start, d.getOrElse("triggerExecution", 0L),
          d.getOrElse("queryPlanning", 0L), d.getOrElse("addBatch", 0L),
          d.getOrElse("walCommit", 0L), d.getOrElse("commitOffsets", 0L),
          d.getOrElse("latestOffset", 0L), p.numInputRows,
          ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(planListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until every posted event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Returns and forgets every event recorded since the last take. */
  def take(): Events = lock.synchronized {
    val ev = Events(jobs.toSeq, stages.toSeq, plans.toSeq, batches.toSeq)
    jobStarts.clear(); jobs.clear(); stageAcc.clear(); stages.clear()
    plans.clear(); batches.clear()
    ev
  }
}
