package graft.plans

import java.nio.file.Files
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SessionConfs, SparkEntry, TestSpark}
import graft.TestSpark.jobsStartedBy

/** [[SmallSortStrategy]]: a global sort over an input below
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` sorts one
  * coalesced partition, with no range exchange; larger and streaming
  * sorts keep Spark's plan. */
class SmallSortSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark
  import SmallSortSpec._

  private def rangeExchanges(p: SparkPlan): Seq[SparkPlan] = collectWithSubqueries(p) {
    case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
  }
  private def coalesced(p: SparkPlan): Boolean =
    find(p)(_.isInstanceOf[CoalesceExec]).isDefined

  /** The executed plan of `df` after collecting it. */
  private def finalPlan(df: DataFrame): (Seq[Row], SparkPlan) = {
    val rows = df.collect().toSeq
    (rows, df.queryExecution.executedPlan)
  }

  private def smallSortedAggregate(): DataFrame = {
    import spark.implicits._
    (0 until 2000).map(i => (i % 37, i.toLong)).toDF("k", "v")
      .groupBy("k").agg(sum("v").as("s")).orderBy(col("k").desc)
  }

  test("a sorted aggregate of a small input sorts one task: no range exchange, 2 fewer jobs") {
    val ((rows, plan), jobs) = jobsStartedBy(finalPlan(smallSortedAggregate()))
    assert(rangeExchanges(plan).isEmpty, s"small sort still range-partitions:\n$plan")
    assert(coalesced(plan), s"expected CoalesceExec(1) under the sort:\n$plan")
    val ((wideRows, _), wideJobs) = SessionConfs.withConfs(spark, MinSize -> "1") {
      jobsStartedBy(finalPlan(smallSortedAggregate()))
    }
    assert(rows === wideRows)
    assert(rows.map(_.getInt(0)) === (36 to 0 by -1))
    // the range exchange's sampling job and its shuffle-map job are gone
    assert(wideJobs - jobs === 2, s"jobs: $jobs one-task vs $wideJobs range-partitioned")
  }

  test("with minPartitionSize below the input's size the sort still range-partitions") {
    val (_, plan) = SessionConfs.withConfs(spark, MinSize -> "1") {
      finalPlan(smallSortedAggregate())
    }
    assert(rangeExchanges(plan).nonEmpty, s"expected a range exchange:\n$plan")
    assert(!coalesced(plan), plan.toString)
  }

  test("a tiny aggregate of an input above the bound drops the range exchange once AQE re-plans") {
    // 400k longs: a 3.2 MB estimate, so the initial plan range-partitions
    val df = spark.range(0L, 400000L, 1L, 4)
      .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
      .orderBy("k")
    val initial = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => fail(s"expected an adaptive plan:\n$p")
    }
    assert(rangeExchanges(initial).nonEmpty, s"initial plan should range-partition:\n$initial")
    val (rows, plan) = finalPlan(df)
    assert(rangeExchanges(plan).isEmpty, s"re-planned sort still range-partitions:\n$plan")
    assert(coalesced(plan), plan.toString)
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) ===
      (0L until 7L).map(k => (k, (0L until 400000L).count(_ % 7 == k).toLong)))
  }

  test("randomized keys with duplicates and nulls sort as a driver-side sort does") {
    import spark.implicits._
    val rnd = new scala.util.Random(16)
    val input = Seq.tabulate(700) { i =>
      (Option.when(rnd.nextInt(8) > 0)(rnd.nextInt(6)),
        Option.when(rnd.nextInt(8) > 0)(('a' + rnd.nextInt(5)).toChar.toString), i.toLong)
    }
    val df = input.toDF("k1", "k2", "id")
    def sortCol(c: String, asc: Boolean, nullsFirst: Boolean) =
      (asc, nullsFirst) match {
        case (true, true) => col(c).asc_nulls_first
        case (true, false) => col(c).asc_nulls_last
        case (false, true) => col(c).desc_nulls_first
        case (false, false) => col(c).desc_nulls_last
      }
    for ((asc1, nf1, asc2, nf2) <- Seq(
        (true, true, false, false), (false, true, true, false),
        (true, false, false, true), (false, false, true, true))) {
      val (rows, plan) = finalPlan(df.orderBy(
        sortCol("k1", asc1, nf1), sortCol("k2", asc2, nf2)))
      assert(coalesced(plan) && rangeExchanges(plan).isEmpty, plan.toString)
      val got = rows.map(r => (Option(r.get(0)).map(_.asInstanceOf[Int]),
        Option(r.getString(1)), r.getLong(2)))
      val want = input.sortBy(r => (r._1, r._2))(
        Ordering.Tuple2(nullable[Int](asc1, nf1), nullable[String](asc2, nf2)))
      // equal keys may come in any order: compare the key sequence and
      // the rows as a multiset
      assert(got.map(r => (r._1, r._2)) === want.map(r => (r._1, r._2)))
      assert(got.sortBy(_._3) === input)
    }
  }

  test("a streaming complete-mode sort is not rewritten") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_smallsort_stream").toString
    (0 until 300).map(i => (i % 5).toLong).toDF("g").write.mode("overwrite").parquet(dir)
    val counts = spark.readStream.schema("g BIGINT").parquet(dir)
      .groupBy("g").agg(count(lit(1)).as("n")).orderBy(col("g").desc)
    val name = "graft_smallsort_" + UUID.randomUUID().toString.replace("-", "")
    val q = counts.writeStream.outputMode("complete").format("memory").queryName(name).start()
    val plan =
      try {
        q.processAllAvailable()
        q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
      } finally q.stop()
    try {
      assert(spark.table(name).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        (4L to 0L by -1).map(_ -> 60L))
    } finally spark.catalog.dropTempView(name)
    assert(!coalesced(plan), s"streaming sort was rewritten:\n$plan")
    assert(rangeExchanges(plan).nonEmpty, s"expected Spark's range exchange:\n$plan")
  }

  test("the installer is idempotent: one instance of each strategy after two gate calls") {
    SparkEntry.queries("q02_grouped_sum")(spark, "/root/testdata/sf0.001")
    SparkEntry.queries("q02_grouped_sum")(spark, "/root/testdata/sf0.001")
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(exp.extraStrategies.count(_ eq SmallSortStrategy) === 1)
    assert(exp.extraStrategies.count(_ eq AsOfJoinStrategy) === 1)
    assert(exp.extraOptimizations.count(_ eq AsOfJoinRules) === 1)
  }
}

object SmallSortSpec {
  val MinSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** The order of a nullable sort key, as Spark's sort orders define it. */
  def nullable[T](asc: Boolean, nullsFirst: Boolean)(implicit o: Ordering[T]): Ordering[Option[T]] = {
    val values = if (asc) o else o.reverse
    (x: Option[T], y: Option[T]) => (x, y) match {
      case (Some(a), Some(b)) => values.compare(a, b)
      case (None, None) => 0
      case (None, _) => if (nullsFirst) -1 else 1
      case (_, None) => if (nullsFirst) 1 else -1
    }
  }
}
