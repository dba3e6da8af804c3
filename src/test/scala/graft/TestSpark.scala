package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for all suites (JVM-wide), with graft's
  * planner additions installed up front, so no suite's plans depend on
  * which suite ran first. */
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
}
