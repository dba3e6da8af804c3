package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Map/struct complex-type surface (no DuckDB oracle — map semantics
  * diverge across engines; pinned against hand-computed values). */
class ComplexTypesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("map construction, lookup, keys/values, explode") {
    import spark.implicits._
    val df = Seq((1L, Seq("a", "b"), Seq(10, 20))).toDF("id", "ks", "vs")
      .withColumn("m", map_from_arrays(col("ks"), col("vs")))
    assert(df.select(element_at(col("m"), "b")).head().getInt(0) === 20)
    assert(df.select(map_keys(col("m"))).head().getSeq[String](0) === Seq("a", "b"))
    val exploded = df.select(col("id"), explode(col("m")).as(Seq("k", "v")))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    assert(exploded.toSeq === Seq((1L, "a", 10), (1L, "b", 20)))
  }

  test("struct nesting and field access") {
    import spark.implicits._
    val df = Seq((1L, 2.5, "x")).toDF("id", "v", "s")
      .withColumn("nested", struct(col("v").as("value"),
        struct(col("s").as("tag")).as("meta")))
    assert(df.select(col("nested.meta.tag")).head().getString(0) === "x")
    val reshaped = df.select(col("id"), col("nested.value"))
    assert(reshaped.head().getDouble(1) === 2.5)
  }

  test("cache() reuses the materialized plan (InMemoryTableScan)") {
    val base = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .groupBy("l_returnflag").count()
    val cached = base.cache()
    try {
      cached.collect() // materialize
      val reuse = cached.filter(col("l_returnflag") === "A")
      assert(reuse.queryExecution.executedPlan.toString
        .contains("InMemoryTableScan"))
      assert(reuse.count() === 1)
    } finally cached.unpersist()
  }
}
