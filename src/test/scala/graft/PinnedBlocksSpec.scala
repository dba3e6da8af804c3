package graft

import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.funsuite.AnyFunSuite

/** The pinned-checkpoint cache contract of [[PinnedBlocks.cached]]:
  * builds may nest (one key's build reads another key), a hit is the
  * very frame the miss built, and the between-query hygiene never
  * reclaims a cached entry's blocks. */
class PinnedBlocksSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def rddIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }

  /** A fresh pair of keys: `outer`'s build reads `inner` through the
    * cache, the shape of q44's pairs over the shingle frame. The keys
    * share a hashCode ("Aa" and "BB" hash alike), so they always meet in
    * one hash bin: a build run inside ConcurrentHashMap.compute would
    * throw "Recursive update" or drop the inner entry here. */
  private def nested(): (DataFrame, DataFrame, String, String) = {
    val tag = java.util.UUID.randomUUID().toString
    val (innerKey, outerKey) = (s"spec|$tag|Aa", s"spec|$tag|BB")
    assert(innerKey.hashCode == outerKey.hashCode)
    def inner = PinnedBlocks.cached(spark, innerKey)(
      Tables.orders(spark, sf).select("o_orderkey", "o_custkey"))
    val outer = PinnedBlocks.cached(spark, outerKey)(
      inner.groupBy("o_custkey").count())
    (inner, outer, innerKey, outerKey)
  }

  test("a build that calls cached for another key succeeds") {
    val (inner, outer, _, _) = nested()
    val orders = Tables.orders(spark, sf)
    assert(inner.count() === orders.count())
    assert(outer.count() === orders.select("o_custkey").distinct().count())
    assert((rddIds(inner) ++ rddIds(outer)).forall(PinnedBlocks.isPinned))
  }

  test("a second call returns the same frame without rebuilding") {
    val (inner, outer, innerKey, outerKey) = nested()
    assert(PinnedBlocks.cached(spark, innerKey)(sys.error("rebuilt")) eq inner)
    assert(PinnedBlocks.cached(spark, outerKey)(sys.error("rebuilt")) eq outer)
  }

  test("clearUnpinned leaves both entries' blocks in place") {
    val (inner, outer, _, _) = nested()
    val ids = rddIds(inner) ++ rddIds(outer)
    assert(ids.size === 2)
    PinnedBlocks.clearUnpinned(spark)
    val persistent = spark.sparkContext.getPersistentRDDs.keySet
    assert(ids.forall(persistent.contains))
    assert(outer.count() > 0)
  }
}
