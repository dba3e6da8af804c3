package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Dev tool: per-JOB decomposition of a query invocation (guide §1 —
  * measure first). Registers a listener, runs each named query once
  * warm + once measured, and prints every Spark job's wall time, task
  * count and shuffle bytes with its call site, so "where do the 3 s
  * go" is answered by data instead of plan-reading. Not part of the
  * driver contract (same status as [[Profile]]).
  *
  * Usage: runMain graft.ProfileJobs <sfDir> <query ...>
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-profile-jobs")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_warehouse_pj").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()

    final case class JobRec(id: Int, desc: String, start: Long,
        var end: Long = -1L, var tasks: Int = 0,
        var shufRead: Long = 0L, var shufWrite: Long = 0L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val order = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Int]())
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var recording = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (recording) {
          val desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .orElse(Option(e.properties)
              .flatMap(p => Option(p.getProperty("callSite.short"))))
            .getOrElse("?")
          jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
          order.add(e.jobId)
          e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId)
        if (r != null) r.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) {
          r.tasks += e.stageInfo.numTasks
          r.shufRead += e.stageInfo.taskMetrics.shuffleReadMetrics.totalBytesRead
          r.shufWrite += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    // streaming per-batch decomposition: Spark's own durationMs map
    // (addBatch / queryPlanning / walCommit / getBatch / commitOffsets)
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          if (recording) {
            val d = e.progress.durationMs
            println(s"    [batch ${e.progress.batchId} " +
              s"rows=${e.progress.numInputRows} " +
              s"triggerMs=${d.getOrDefault("triggerExecution", -1L)} " +
              s"planning=${d.getOrDefault("queryPlanning", -1L)} " +
              s"addBatch=${d.getOrDefault("addBatch", -1L)} " +
              s"getBatch=${d.getOrDefault("getBatch", -1L)} " +
              s"latestOffset=${d.getOrDefault("latestOffset", -1L)} " +
              s"walCommit=${d.getOrDefault("walCommit", -1L)} " +
              s"commitOffsets=${d.getOrDefault("commitOffsets", -1L)}]")
          }
      })

    def clearState(): Unit = {
      PinnedBlocks.clearUnpinned(spark)
      spark.catalog.clearCache()
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm pass: scratch layouts, codegen, JIT — outside the record
      try fn(spark, sfDir).count() catch { case scala.util.control.NonFatal(e) =>
        println(s"warm $name failed: ${e.getMessage}") }
      clearState()
      jobs.clear(); order.clear(); stageToJob.clear()
      recording = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      recording = false
      clearState()
      println(f"==== $name total ${dt}%.3f s, ${order.size()} jobs ====")
      val recs = order.toArray(Array.empty[Integer])
        .map(i => jobs.get(i.intValue))
      var covered = 0L
      recs.foreach { r =>
        val ms = if (r.end > 0) r.end - r.start else -1
        covered += math.max(0L, ms)
        println(f"  job ${r.id}%4d ${ms}%6d ms tasks=${r.tasks}%4d " +
          f"sr=${r.shufRead / 1024}%7d KiB sw=${r.shufWrite / 1024}%7d KiB  ${r.desc.take(110)}")
      }
      println(f"  [sum of job walls ${covered / 1000.0}%.3f s vs total ${dt}%.3f s — gap = driver/planning/non-job time]")
    }
    spark.stop()
  }
}
