package graft.operators

import graft.{Q, QueryPack}
import graft.core.MapReduce
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's own query workload (SURVEY.md §2.2 Q1–Q10) re-expressed
  * over the driver's parquet tables. Each capability demonstrated by the
  * reference's bundled user functions becomes a named, oracle-checked
  * query here.
  *
  * Determinism contract: every query sorts its output and rounds doubles,
  * because the reference's output order is unspecified
  * (mapreduce.py:161-163) and the driver hash-compares values.
  */
object RefWorkload extends QueryPack {

  /** Q1 (mapreduce.py:36-38 docstring): projection + arithmetic with 2-row
    * fan-out per input — `yield x, x**2; yield x, x**0.5`. */
  private def q01(s: SparkSession, dir: String): DataFrame = {
    Tables.part(s, dir)
      .select(col("p_partkey"), explode(array(
        struct(lit("square").as("op"), pow(col("p_size"), 2).as("v")),
        struct(lit("sqrt").as("op"), sqrt(col("p_size")).as("v")))).as("e"))
      .select(col("p_partkey"), col("e.op").as("op"), round(col("e.v"), 6).as("v"))
      .orderBy("p_partkey", "op")
  }

  /** Q2 (mapreduce.py:40-41): grouped SUM. */
  private def q02(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy("l_returnflag")

  /** Q3 (mapreduce_unittest.py:6-11, mapreduce_example.py:11-15): grouped
    * MAX of squares with key = x mod 9. */
  private def q03(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(pmod(col("o_orderkey"), lit(9L)).as("k"),
        (col("o_orderkey") * col("o_orderkey")).as("sq"))
      .groupBy("k").agg(max("sq").as("max_sq"))
      .orderBy("k")

  /** Q4 (mapreduce_unittest.py:7): cast/parse a string field to int —
    * here the `k` value inside the events JSON props payload. */
  private def q04(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"),
        regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
      .orderBy("event_id")

  /** Q5+Q6 (basic_mr_month_count.py:15-17): delimited column extraction +
    * tokenize-and-pick. */
  private def q05(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .select(col("p_partkey"),
        split(col("p_name"), " ").getItem(0).as("tok0"),
        split(col("p_name"), " ").getItem(1).as("tok1"),
        regexp_extract(col("p_brand"), "(\\d+)", 1).cast("int").as("brand_num"))
      .orderBy("p_partkey")

  /** Q7 (basic_mr_month_count.py:22): substring date-trunc to month. */
  private def q06(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), date_format(col("ts"), "yyyy-MM").as("month"))
      .orderBy("event_id")

  /** Q8 (basic_mr_month_count.py:27-30): composite key + COUNT(*) — the
    * reference's one production-style job and our flagship entry query. */
  private def q07(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"))
      .orderBy("event_type", "month")

  /** Q9 (basic_mr_month_count.py:14-25): malformed-row routing — bad rows
    * are counted under sentinel keys instead of dropped. */
  private def q08(s: SparkSession, dir: String): DataFrame = {
    val k = regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1)
    Tables.events(s, dir)
      .select(when(k === "", "parse_error")
        .when(k.cast("long") >= 50L, "k_high")
        .otherwise("k_low").as("route"))
      .groupBy("route").agg(count(lit(1)).as("n"))
      .orderBy("route")
  }

  /** Q10 (basic_mr_month_count.py:29-30): formatted string output rows. */
  private def q09(s: SparkSession, dir: String): DataFrame =
    q07(s, dir)
      .select(format_string("%s, %d", col("event_type"), col("n")).as("line"))
      .orderBy("line")

  /** Q3 again, but driven through the generic [[graft.core.MapReduce]]
    * API (the reference's actual programming model, SURVEY.md §2.1
    * O2/O7/O8/O13) rather than DataFrame ops — proving the core API
    * end-to-end inside the correctness gate. */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val keys = Tables.customer(s, dir).select(col("c_custkey")).as[Long]
    MapReduce.run[Long, Long, Long, (Long, Long)](
      keys,
      x => Iterator((x % 9L, x * x)),
      (k, vs) => (k, vs.max))
      .toDF("k", "max_sq")
      .orderBy("k")
  }

  override def queries: Seq[Q] = Seq(
    Q("q01_fanout_powers", q01, Some(
      """SELECT p_partkey, op, v FROM (
        |  SELECT p_partkey, 'square' AS op, round(p_size * p_size * 1.0, 6) AS v FROM part
        |  UNION ALL
        |  SELECT p_partkey, 'sqrt' AS op, round(sqrt(p_size), 6) AS v FROM part
        |) ORDER BY p_partkey, op""".stripMargin)),
    Q("q02_grouped_sum", q02, Some(
      "SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty FROM lineitem GROUP BY 1 ORDER BY 1")),
    Q("q03_max_squares_mod9", q03, Some(
      "SELECT o_orderkey % 9 AS k, max(o_orderkey * o_orderkey) AS max_sq FROM orders GROUP BY 1 ORDER BY 1")),
    Q("q04_parse_cast", q04, Some(
      """SELECT event_id, CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("q05_tokenize_extract", q05, Some(
      """SELECT p_partkey, string_split(p_name, ' ')[1] AS tok0,
        |       string_split(p_name, ' ')[2] AS tok1,
        |       CAST(regexp_extract(p_brand, '(\d+)', 1) AS INT) AS brand_num
        |FROM part ORDER BY p_partkey""".stripMargin)),
    Q("q06_month_trunc", q06, Some(
      "SELECT event_id, strftime(ts, '%Y-%m') AS month FROM events ORDER BY event_id")),
    Q("q07_month_count", q07, Some(
      """SELECT event_type, strftime(ts, '%Y-%m') AS month, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q08_error_routing", q08, Some(
      """SELECT CASE WHEN regexp_extract(props, '"k":\s*(\d+)', 1) = '' THEN 'parse_error'
        |            WHEN CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) >= 50 THEN 'k_high'
        |            ELSE 'k_low' END AS route, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q09_format_string", q09, Some(
      """SELECT printf('%s, %d', event_type, n) AS line FROM (
        |  SELECT event_type, strftime(ts, '%Y-%m') AS month, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |) ORDER BY line""".stripMargin)),
    Q("q10_mr_max_squares", q10, Some(
      "SELECT c_custkey % 9 AS k, max(c_custkey * c_custkey) AS max_sq FROM customer GROUP BY 1 ORDER BY 1")),
  )
}
