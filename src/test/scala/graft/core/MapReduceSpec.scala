package graft.core

import graft.TestSpark
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** A case-class key for the bundling tests (top level, so Spark can
  * derive its encoder). */
case class GridKey(row: Int, side: String)

/** Golden ports of the reference's unit tests (mapreduce_unittest.py:13-70)
  * plus semantics pins the reference leaves implicit (SURVEY.md §5.2).
  */
class MapReduceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The reference's golden vector (mapreduce_unittest.py:19-27): per
    * k = x mod 9, max of x² over x in 0..999. */
  val golden: Seq[(Long, Long)] = Seq(
    0L -> 998001L, 1L -> 982081L, 2L -> 984064L, 3L -> 986049L,
    4L -> 988036L, 5L -> 990025L, 6L -> 992016L, 7L -> 994009L,
    8L -> 996004L)

  def maxSquares(ds: org.apache.spark.sql.Dataset[java.lang.Long],
      parts: Option[Int]): Seq[(Long, Long)] = {
    import spark.implicits._
    MapReduce.run[java.lang.Long, Long, Long, (Long, Long)](
      ds,
      x => Iterator((x % 9L, x * x)),
      (k, vs) => (k, vs.max),
      parts)
      .collect().toSeq.sortBy(_._1)
  }

  test("bulk API matches reference golden output (test_simple/test_mr)") {
    assert(maxSquares(spark.range(1000).as("x").map(identity)(
      org.apache.spark.sql.Encoders.LONG), None) === golden)
  }

  test("explicit reducer count reproduces reference topology (4 reducers)") {
    assert(maxSquares(spark.range(1000).map(identity)(
      org.apache.spark.sql.Encoders.LONG), Some(4)) === golden)
  }

  test("string keys work (the reference's sharder was str-only)") {
    import spark.implicits._
    val out = MapReduce.run[java.lang.Long, String, Long, (String, Long)](
      spark.range(100).map(identity)(org.apache.spark.sql.Encoders.LONG),
      x => Iterator(("k" + (x % 3L), x)),
      (k, vs) => (k, vs.sum))
      .collect().toSeq.sortBy(_._1)
    val exp = (0L until 100L).groupBy(x => "k" + (x % 3))
      .map { case (k, vs) => (k, vs.sum) }.toSeq.sortBy(_._1)
    assert(out === exp)
  }

  test("holistic reduce sees the complete value group (median + concat)") {
    import spark.implicits._
    val data = Seq((1, 5.0), (1, 1.0), (1, 3.0), (2, 8.0), (2, 2.0))
    val out = MapReduce.run[(Int, Double), Int, Double, (Int, Double, String)](
      spark.createDataset(data),
      kv => Iterator(kv),
      (k, vs) => {
        val sorted = vs.toSeq.sorted // holistic: materialize the group
        (k, sorted(sorted.size / 2), sorted.mkString(","))
      })
      .collect().toSeq.sortBy(_._1)
    assert(out === Seq((1, 3.0, "1.0,3.0,5.0"), (2, 8.0, "2.0,8.0")))
  }

  test("fan-out mapper: 0..n outputs per input (generator contract)") {
    import spark.implicits._
    val out = MapReduce.run[java.lang.Long, Long, Long, (Long, Long)](
      spark.range(10).map(identity)(org.apache.spark.sql.Encoders.LONG),
      x => if (x % 2 == 0) Iterator((x, x), (x, x * x)) else Iterator.empty,
      (k, vs) => (k, vs.sum))
      .collect().toSeq.sortBy(_._1)
    assert(out === Seq(0L -> 0L, 2L -> 6L, 4L -> 20L, 6L -> 42L, 8L -> 72L))
  }

  test("runAssociative equals holistic run for a commutative monoid") {
    import spark.implicits._
    val ds = spark.range(500).map(identity)(org.apache.spark.sql.Encoders.LONG)
    val assoc = MapReduce.runAssociative[java.lang.Long, Long, Long](
      ds, x => Iterator((x % 7L, x * x)), math.max)
      .collect().toSeq.sortBy(_._1)
    val holistic = maxSquares(spark.range(500).map(identity)(
      org.apache.spark.sql.Encoders.LONG), None)
    // different keyspaces (mod 7 vs mod 9) — recompute expected directly
    val exp = (0L until 500L).map(x => (x % 7L, x * x))
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }
      .toSeq.sortBy(_._1)
    assert(assoc === exp)
    assert(holistic.size === 9)
  }

  /** Collects `ds`, returning its rows and the records its shuffle
    * exchanges wrote, read off their SQL metrics (final once `collect`
    * has returned). */
  private def collectWithShuffleRecords[T](ds: Dataset[T]): (Seq[T], Long) = {
    val rows = ds.collect().toSeq
    val written = new AdaptiveSparkPlanHelper {}.collect(ds.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.metrics("shuffleRecordsWritten").value
    }
    assert(written.nonEmpty, "no shuffle exchange in the plan")
    (rows, written.sum)
  }

  private def longs(n: Long, tasks: Int) =
    spark.range(0, n, 1, tasks).map(identity)(Encoders.LONG)

  test("holistic exchange writes one chunk per (map task, key), not one row per value") {
    import spark.implicits._
    val (tasks, keys, n) = (4, 5, 20000L)
    val (rows, written) = collectWithShuffleRecords(
      MapReduce.run[java.lang.Long, Long, Long, (Long, Long)](
        longs(n, tasks), x => Iterator((x % keys, x)), (k, vs) => (k, vs.size.toLong)))
    assert(rows.sortBy(_._1) === (0L until keys).map(_ -> n / keys))
    // 5,000 longs per task fit one flush, so each task sends one chunk per key
    assert(written <= tasks * 1 * keys, s"$written shuffle records for $n values")
  }

  test("values past the bundling byte budget flush several times and match the oracle") {
    import spark.implicits._
    val pad = "x" * 1000
    val (tasks, keys) = (2, 3)
    // about 1 KB a value: each map task holds three budgets' worth (two
    // tasks, because one partition would need no exchange at all)
    val n = 2 * 3 * MapReduce.BundleBytes / 1000
    val mapF = (i: java.lang.Long) => Iterator(((i % keys).toInt, f"$i%06d" + pad))
    val (rows, written) = collectWithShuffleRecords(
      MapReduce.run[java.lang.Long, Int, String, (Int, Int, String)](
        longs(n, tasks), mapF,
        (k, vs) => {
          val ids = vs.map(v => (v.take(6), v.length)).toSeq
          (k, ids.map(_._2).distinct.sum, ids.map(_._1).sorted.mkString(","))
        }))
    val oracle = (0L until n).flatMap(i => mapF(i)).groupBy(_._1).toSeq.map { case (k, kvs) =>
      (k, pad.length + 6, kvs.map(_._2.take(6)).sorted.mkString(","))
    }
    assert(rows.sortBy(_._1) === oracle.sortBy(_._1))
    // more than one flush per task, yet nowhere near one record per
    // value: a flush holds at least budget / 2 KB of these values
    val maxFlushes = 1 + (n / tasks) * 2048L / MapReduce.BundleBytes
    assert(written > tasks * keys && written <= tasks * maxFlushes * keys,
      s"$written shuffle records for $n values in $tasks tasks")
  }

  test("associative exchange writes at most one partial per (map task, key)") {
    import spark.implicits._
    val (tasks, keys, n) = (4, 5, 20000L)
    val (rows, written) = collectWithShuffleRecords(
      MapReduce.runAssociative[java.lang.Long, Long, Long](
        longs(n, tasks), x => Iterator((x % keys, x.longValue)), _ + _))
    val oracle = (0L until n).groupBy(_ % keys).map { case (k, xs) => (k, xs.sum) }
    assert(rows.sortBy(_._1) === oracle.toSeq.sortBy(_._1))
    // 5,000 longs per task fit one flush of the combiner
    assert(written <= tasks * keys, s"$written shuffle records for $n values")
  }

  test("associative partials shuffle straight to the per-key merge: no partial aggregate before the exchange") {
    import spark.implicits._
    val ds = MapReduce.runAssociative[java.lang.Long, Long, Long](
      longs(1000L, 2), x => Iterator((x % 5L, x.longValue)), _ + _)
    assert(ds.collect().toSeq.sortBy(_._1) ===
      (0L until 1000L).groupBy(_ % 5L).map { case (k, xs) => (k, xs.sum) }.toSeq.sortBy(_._1))
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = ds.queryExecution.executedPlan
    val exchanges = helper.collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1, s"expected one exchange:\n$plan")
    // the map side below the exchange: the combiner's MapPartitions and
    // the key column, with no aggregate of any kind re-merging partials
    val mapSide = helper.collect(exchanges.head.child) { case p => p }
    assert(!mapSide.exists(_.isInstanceOf[org.apache.spark.sql.execution.aggregate.BaseAggregateExec]),
      s"a partial aggregate re-merges the combined partials:\n$plan")
    assert(!mapSide.exists(_.nodeName == "AppendColumns"),
      s"mapValues re-encodes every partial:\n$plan")
  }

  test("nullable values (String with nulls) survive bundling") {
    import spark.implicits._
    val kvs = Seq(("a", "x"), ("a", null), ("b", null), ("b", null), ("c", "y"))
    val out = MapReduce.run[(String, String), String, String, (String, Int, String)](
      spark.createDataset(kvs).repartition(3), kv => Iterator(kv),
      (k, vs) => {
        val l = vs.toList
        (k, l.count(_ == null), l.filter(_ != null).sorted.mkString(","))
      }).collect().toSeq.sortBy(_._1)
    assert(out === Seq(("a", 1, "x"), ("b", 2, ""), ("c", 0, "y")))
  }

  test("case-class keys group by value on both paths") {
    import spark.implicits._
    val mapF = (x: java.lang.Long) =>
      Iterator((GridKey((x % 3).toInt, if (x % 2 == 0) "even" else "odd"), x.longValue))
    val oracle = (0L until 300L).map(x => mapF(x).next()).groupBy(_._1)
      .map { case (k, kvs) => (k.row, k.side, kvs.map(_._2).sum) }.toSeq.sorted
    for (parts <- Seq(None, Some(3))) {
      val got = MapReduce.run[java.lang.Long, GridKey, Long, (Int, String, Long)](
        longs(300, 4), mapF, (k, vs) => (k.row, k.side, vs.sum), parts)
        .collect().toSeq.sorted
      assert(got === oracle, s"parts=$parts")
    }
  }

  test("a reduceFcn that under-consumes its values still sees each key once") {
    import spark.implicits._
    val keys = 7L
    val out = MapReduce.run[java.lang.Long, Long, Long, (Long, Long)](
      longs(1000, 4), x => Iterator((x % keys, x.longValue)),
      (k, vs) => (k, vs.next())).collect().toSeq.sortBy(_._1)
    assert(out.map(_._1) === (0L until keys))
    out.foreach { case (k, v) => assert(v % keys === k) }
    val none = MapReduce.run[java.lang.Long, Long, Long, Long](
      longs(1000, 4), x => Iterator((x % keys, x.longValue)), (k, _) => k)
    assert(none.collect().toSeq.sorted === (0L until keys))
  }

  test("a (K, V) encoder that is not a two-field product is rejected") {
    val e = intercept[IllegalArgumentException] {
      MapReduce.run[java.lang.Long, Int, Long, Int](
        longs(10, 1), x => Iterator((x.intValue, x.longValue)), (k, _) => k)(
        Encoders.kryo[(Int, Long)], Encoders.scalaInt, Encoders.scalaInt)
    }
    assert(e.getMessage.contains("two-field product encoder"))
  }
}
