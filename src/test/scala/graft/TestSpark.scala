package graft

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** One shared local SparkSession for all suites (JVM-wide), with graft's
  * planner additions and `file:` filesystem installed up front, so no
  * suite's plans or file I/O depend on which suite ran first. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      // as GraftSession: `file:` paths through graft's spawn-free filesystem
      .config(Map(graft.sources.LocalFs.fileSystem))
      .getOrCreate()
    graft.plans.Plans.install(s)
    s
  }

  /** The Spark jobs `body` starts from this thread. The listener bus
    * delivers events in order, so once a marker job run after `body` has
    * been seen, every job `body` started has been seen too. */
  def jobsStartedBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"probe-${UUID.randomUUID}"
    val jobs = new AtomicInteger
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == s"$group-end" => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probe")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-end", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(marker.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** The programs started while `body` runs, as a JFR recording of
    * `jdk.ProcessStart` sees them (by file name). A positive control
    * proves the recording sees a process this thread starts. */
  def programsStartedDuring(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val dump = Files.createTempFile("graft_processes", ".jfr")
    val commands = try {
      body
      new ProcessBuilder("true").start().waitFor()
      rec.stop()
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
    val programs = commands.map(_.trim.split("\\s+").head.split('/').last)
    assert(programs.contains("true"), s"recording saw no process start: $commands")
    programs.filter(_ != "true")
  }
}
