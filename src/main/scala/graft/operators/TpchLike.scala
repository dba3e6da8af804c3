package graft.operators

import graft.{CallScope, Q, QueryPack}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical TPC-H-shaped queries adapted to this schema — recognizable
  * multi-join + filter + aggregate + top-k compositions with exact
  * decimal revenue arithmetic.
  */
object TpchLike extends QueryPack {

  import graft.functions.Exact.dec
  private def revenue: Column =
    sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))

  /** q62 ~ TPC-H Q3: shipping-priority — top 10 orders of a segment by
    * revenue from lineitems shipped after the order cutoff. */
  private def q62(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
        col("o_orderpriority"))
      .agg(round(revenue.cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** q63 ~ TPC-H Q6: forecast-revenue — a pure scan-filter-aggregate
    * whose predicates all push into the parquet scan. */
  private def q63(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit("2000-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("2001-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(round(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
        .cast("double"), 2).as("revenue"),
        count(lit(1)).as("n"))

  /** q135 ~ TPC-H Q4: priority count over orders having at least one
    * late-shipped lineitem — a correlated EXISTS subquery, expressed in
    * SQL so Catalyst's RewritePredicateSubquery turns it into a LEFT SEMI
    * join (the scale-correct plan: lineitem never duplicates orders, and
    * the semi join build side is the filtered one-year order slice). */
  private def q135(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders135", Tables.orders(s, dir))
    cs.view("graft_lineitem135", Tables.lineitem(s, dir))
    s.sql(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM graft_orders135
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |  AND o_orderdate < TIMESTAMP '2001-01-01'
        |  AND EXISTS (SELECT 1 FROM graft_lineitem135
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
  }

  /** q136 ~ TPC-H Q17: revenue from small-quantity outlier lineitems,
    * where "small" is relative to each part's own average — a correlated
    * scalar aggregate subquery. Catalyst de-correlates it into a
    * per-part aggregate joined back on `l_partkey` (one extra shuffle of
    * the 2-column projection, not a per-row re-scan — the only plan that
    * survives 100 TB). Determinism: `l_quantity` is integer-valued, so
    * `avg` = exact-integer-sum / count is bit-identical in any engine
    * regardless of summation order; the revenue sum goes through
    * DECIMAL like every other TPC-H money aggregate here. */
  private def q136(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_lineitem136", Tables.lineitem(s, dir))
    s.sql(
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n
        |FROM graft_lineitem136 l
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM graft_lineitem136 l2
        |                    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
  }

  override def queries: Seq[Q] = Seq(
    Q("q62_shipping_priority", q62, Some(
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_date,
        |  o_orderpriority,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin)),
    Q("q63_forecast_revenue", q63, Some(
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-01-01'
        |  AND l_shipdate < TIMESTAMP '2001-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)),
    Q("q135_exists_priority", q135, Some(
      """SELECT o_orderpriority, count(*) AS n_orders
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '2000-01-01'
        |  AND o_orderdate < TIMESTAMP '2001-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Q("q136_below_avg_parts", q136, Some(
      """SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DOUBLE) / 7.0, 2) AS avg_yearly,
        |  count(*) AS n
        |FROM lineitem l
        |WHERE l_quantity < (SELECT 0.2 * avg(l_quantity)
        |                    FROM lineitem l2
        |                    WHERE l2.l_partkey = l.l_partkey)""".stripMargin)),
  )
}
