package graft.sources

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Source/sink round-trips (SURVEY.md §2.3 "Scans/sources/sinks"): the
  * reference reads text via smart_open and has no writer at all; this
  * engine reads/writes parquet, CSV, JSON, and text through the standard
  * Spark sources. Each format round-trips a real table and compares
  * values exactly.
  */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.orderBy("o_orderkey").collect().map(_.toString).toSeq

  private lazy val orders = Tables.orders(spark, sf)
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_totalprice"),
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"))

  test("Tables.events leaves an unset nanosAsLong conf unset") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // getOption returns a registered key's default; getAll holds set keys only
    val prev = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    try {
      assert(Tables.events(spark, sf).collect().nonEmpty)
      assert(!spark.conf.getAll.contains(key),
        "Tables.events left nanosAsLong explicitly set on the caller's session")
    } finally prev.foreach(spark.conf.set(key, _))
  }

  test("parquet sink/source round-trip") {
    val dir = Files.createTempDirectory("graft-pq").toString
    orders.write.mode("overwrite").parquet(dir)
    assert(canon(spark.read.parquet(dir)) === canon(orders))
  }

  test("csv sink/source round-trip (header + schema)") {
    val dir = Files.createTempDirectory("graft-csv").toString
    orders.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema(orders.schema).csv(dir)
    assert(canon(back) === canon(orders))
  }

  test("json sink/source round-trip") {
    val dir = Files.createTempDirectory("graft-json").toString
    orders.write.mode("overwrite").json(dir)
    val back = spark.read.schema(orders.schema).json(dir)
    assert(canon(back) === canon(orders))
  }

  test("text sink/source round-trip (delimited lines)") {
    val dir = Files.createTempDirectory("graft-txt").toString
    orders.select(concat_ws("\t", orders.columns.map(col).toSeq: _*).as("value"))
      .write.mode("overwrite").text(dir)
    val back = spark.read.textFile(dir)
      .select(split(col("value"), "\t").as("f"))
      .select(
        element_at(col("f"), 1).cast("long").as("o_orderkey"),
        element_at(col("f"), 2).cast("long").as("o_custkey"),
        element_at(col("f"), 3).as("o_orderstatus"),
        element_at(col("f"), 4).cast("double").as("o_totalprice"),
        element_at(col("f"), 5).as("o_date"))
    assert(canon(back) === canon(orders))
  }

  test("partitioned parquet write prunes partitions on read") {
    val dir = Files.createTempDirectory("graft-part").toString
    orders.withColumn("status", col("o_orderstatus"))
      .write.mode("overwrite").partitionBy("status").parquet(dir)
    val pruned = spark.read.parquet(dir).filter(col("status") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    // partition pruning shows up as a PartitionFilters entry on the scan
    assert(pruned.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
    assert(plan.contains("PartitionFilters: [isnotnull(status"))
  }
}
