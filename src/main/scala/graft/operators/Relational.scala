package graft.operators

import graft.{CallScope, Q, QueryPack}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational algebra breadth the reference lacks entirely (SURVEY.md
  * §2.3): joins of every flavor, grouped/distinct/approx aggregation,
  * rollup/cube/grouping sets, set operations, global and windowed top-k.
  *
  * Scale design notes (100 TB):
  *   - Dimension joins (`region`, `nation`, small dims) are explicitly
  *     `broadcast()` — no shuffle of the fact side.
  *   - Fact-fact joins (lineitem⋈orders, orders⋈customer) shuffle on
  *     their join key once; Catalyst + AQE pick sort-merge vs shuffled
  *     hash and handle skew.
  *   - All money aggregates go through DECIMAL(18,2): exact arithmetic
  *     makes results independent of partial-aggregation order, which both
  *     makes the DuckDB hash-compare deterministic and keeps map-side
  *     partial aggregation safe at any cluster size.
  */
object Relational extends QueryPack {

  import graft.functions.Exact.dec
  /** Exact decimal sum rendered as a rounded double for output parity. */
  private def moneySum(c: Column): Column = sum(dec(c)).cast("double")

  /** TPC-H Q1-style pricing summary: filter + multi-aggregate group-by. */
  private def q11(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2001-06-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(moneySum(col("l_quantity")), 2).as("sum_qty"),
        round(moneySum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("double"), 2).as("sum_disc_price"),
        count(lit(1)).as("count_order"),
        round((moneySum(col("l_quantity")) / count(lit(1))), 6).as("avg_qty"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Broadcast dimension join: order revenue per market segment. */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(moneySum(col("o_totalprice")), 2).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")
  }

  /** 5-table star join: revenue per region/nation. lineitem⋈orders⋈
    * customer shuffle on their keys; nation+region broadcast. */
  private def q13(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(col("rev")).cast("double"), 2).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** Left outer join preserving customers with zero orders. */
  private def q14(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select("c_custkey")
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")
  }

  /** Left-semi join (EXISTS): customers that placed ≥1 order, by segment. */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n_active"))
      .orderBy("c_mktsegment")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders at all. */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir).select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Windowed top-k: top-3 orders per customer (deterministic ties). */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
    Tables.orders(s, dir)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rk")
  }

  /** Running (cumulative) revenue per supplier — frame-bounded window
    * aggregation over exact decimals. (l_orderkey, l_linenumber) is NOT
    * unique in this data, so both the window order and the output order
    * include l_extendedprice/running_rev to stay total and deterministic. */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    Tables.lineitem(s, dir)
      .withColumn("running_rev",
        round(sum(dec(col("l_extendedprice"))).over(w).cast("double"), 2))
      .select("l_suppkey", "l_orderkey", "l_linenumber", "running_rev")
      .orderBy("l_suppkey", "l_orderkey", "l_linenumber", "running_rev")
  }

  /** lag/lead: microseconds since each user's previous event. Ordering is
    * by µs-truncated time + event_id in BOTH engines — DuckDB sees full
    * nanoseconds, Spark only micros, so ordering by raw ts could attribute
    * gaps to different rows on same-microsecond collisions. */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    Tables.events(s, dir)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("gap_us", col("us") - lag("us", 1).over(w))
      .select("event_id", "user_id", "gap_us")
      .orderBy("event_id")
  }

  /** Global top-k: TakeOrderedAndProject, no full sort at scale. */
  private def q20(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select("o_orderkey", "o_totalprice")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").desc)
      .limit(10)

  /** UNION (distinct): buyers ∪ high-balance customers. */
  private def q21(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      .union(Tables.customer(s, dir)
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey")))
      .distinct()
      .orderBy("custkey")

  /** INTERSECT: buyers that also have high balances. */
  private def q22(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
      .intersect(Tables.customer(s, dir)
        .filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("custkey")))
      .orderBy("custkey")

  /** EXCEPT: high-balance customers that never bought. */
  private def q23(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_acctbal") > 5000)
      .select(col("c_custkey").as("custkey"))
      .except(Tables.orders(s, dir).select(col("o_custkey").as("custkey")))
      .orderBy("custkey")

  /** Exact distinct-count aggregation (expand-based in Spark). */
  private def q24(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")

  /** HLL approximate distinct — SELF-VERIFYING gate. Spark's HLL sketch
    * differs from DuckDB's, so the approximate VALUE has no SQL oracle;
    * what IS oracle-able is the accuracy contract: compute approx and
    * exact in one aggregation and emit `|approx − exact|/exact ≤ bound`
    * as a checked column. The oracle pins the exact count and
    * `within_bound = true` — a sketch regression now hash-fails the
    * driver gate instead of hiding in a rows-only row. Bound 0.05 =
    * 2.5σ of the requested rsd 0.02. At scale this stays one partial-agg
    * shuffle: HLL buffers and the distinct-count expand merge map-side. */
  private def q25(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("approx"))
      .select(col("l_returnflag"), col("exact_parts"),
        lit(0.05).as("rel_err_bound"),
        (abs(col("approx") - col("exact_parts")).cast("double") /
          col("exact_parts") <= 0.05).as("within_bound"))
      .orderBy("l_returnflag")

  /** ROLLUP with exact decimal sums; NULL subtotal keys labeled 'ALL'. */
  private def q26(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(round(moneySum(col("l_quantity")), 2).as("sum_qty"),
        count(lit(1)).as("n"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("sum_qty"), col("n"))
      .orderBy("flag", "status")

  /** CUBE over event type × month. */
  private def q27(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .cube(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"),
        round(moneySum(col("value")), 2).as("sum_value"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        coalesce(col("month"), lit("ALL")).as("month"),
        col("n"), col("sum_value"))
      .orderBy("event_type", "month")

  /** q64: full-outer join — both unmatched sides survive with nulls;
    * right-outer is the same plan mirrored, exercised in the oracle. */
  private def q64(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir)
      .filter(col("o_totalprice") > 400000)
      .select("o_orderkey", "o_custkey")
    val richCust = Tables.customer(s, dir)
      .filter(col("c_acctbal") > 8000)
      .select("c_custkey", "c_mktsegment")
    bigOrders.join(richCust, col("o_custkey") === col("c_custkey"), "full_outer")
      .select(coalesce(col("o_custkey"), col("c_custkey")).as("custkey"),
        col("o_orderkey"), col("c_mktsegment"))
      .orderBy("custkey", "o_orderkey", "c_mktsegment")
  }

  /** q65: multiset set ops — INTERSECT ALL / EXCEPT ALL keep duplicate
    * multiplicity (min / difference of counts respectively). */
  private def q65(s: SparkSession, dir: String): DataFrame = {
    val noDisc = Tables.lineitem(s, dir)
      .filter(col("l_discount") === 0.0).select(col("l_suppkey"))
    val noTax = Tables.lineitem(s, dir)
      .filter(col("l_tax") === 0.0).select(col("l_suppkey"))
    noDisc.intersectAll(noTax)
      .withColumn("op", lit("intersect_all"))
      .union(noDisc.exceptAll(noTax).withColumn("op", lit("except_all")))
      .orderBy("op", "l_suppkey")
  }

  /** q68: correlated scalar subquery through the SQL entry point — each
    * customer with the totalprice of their single largest order. */
  private def q68(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders68", Tables.orders(s, dir))
    cs.view("graft_customer68", Tables.customer(s, dir))
    s.sql(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM graft_orders68
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM graft_customer68 ORDER BY c_custkey""".stripMargin)
  }

  /** q119: NULL-aware anti join — `NOT IN (subquery)` under SQL
    * three-valued logic, the semantics a plain LEFT ANTI (q16) does NOT
    * have: one NULL in the subquery makes `x NOT IN (...)` UNKNOWN for
    * every x, so nothing survives. Two variants gate both halves: a
    * null-free subquery (real survivors — p_size beyond any
    * l_linenumber) and the same subquery with NULLs injected (zero
    * survivors). Spark plans the single-column case as a broadcast
    * null-aware anti join (isNullAware=true) rather than a nested-loop
    * — the streamed side stays one scan at any scale. */
  private def q119(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_part119", Tables.part(s, dir))
    cs.view("graft_lineitem119", Tables.lineitem(s, dir))
    s.sql(
      """SELECT variant, n_survivors FROM (
        |  SELECT 'no_nulls' AS variant, count(*) AS n_survivors
        |  FROM graft_part119
        |  WHERE p_size NOT IN (SELECT l_linenumber FROM graft_lineitem119)
        |  UNION ALL
        |  SELECT 'with_null' AS variant, count(*) AS n_survivors
        |  FROM graft_part119
        |  WHERE p_size NOT IN (
        |    SELECT CASE WHEN l_orderkey % 97 = 0 THEN NULL
        |           ELSE l_linenumber END
        |    FROM graft_lineitem119)
        |) ORDER BY variant""".stripMargin)
  }

  /** q126: NULL-SAFE equality join (`<=>` / IS NOT DISTINCT FROM) — the
    * join that treats NULL as a matchable value, which plain `=` (and
    * q16's LEFT ANTI) silently drops. Nullable keys are derived with
    * NULLIF so the NULL<=>NULL group really exercises the path; the gate
    * counts pairs per key INCLUDING the NULL key. Still a hash-join key
    * (Spark normalizes `<=>` into EqualNullSafe keys — no nested loop,
    * no skew surprise beyond an ordinary hot key). */
  private def q126(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir)
      .select(nullif(col("s_nationkey") % 5, lit(0)).as("k"))
    val cust = Tables.customer(s, dir)
      .select(nullif(col("c_nationkey") % 5, lit(0)).as("ck"))
    sup.join(cust, col("k") <=> col("ck"))
      .groupBy("k")
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("k").asc_nulls_first)
  }

  /** q124: RECURSIVE CTE (new SQL surface in Spark 4) — an
    * installment-schedule expansion: every ~997th order's total is
    * halved per step until it drops under 1, and the schedule is
    * aggregated per order. Depth is data-dependent (log₂ of the
    * largest total, ~19 here), which is exactly what a recursive CTE
    * expresses and a static UNION chain (q115's fixed power iteration)
    * cannot. Arithmetic uses floor(x·50)/100 rather than round(x/2, 2):
    * floor on exactly-representable products is unambiguous across
    * engines, where half-way decimal rounding of a halved value would
    * sit on .005 boundaries every other step. */
  private def q124(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders124", Tables.orders(s, dir))
    s.sql(
      """WITH RECURSIVE pay(o_orderkey, k, remaining) AS (
        |  SELECT o_orderkey, 0, floor(o_totalprice * 100) / 100
        |  FROM graft_orders124 WHERE o_orderkey % 997 = 0
        |  UNION ALL
        |  SELECT o_orderkey, k + 1, floor(remaining * 50) / 100
        |  FROM pay WHERE remaining >= 1
        |)
        |SELECT o_orderkey, count(*) AS n_installments,
        |  round(sum(remaining), 2) AS total_scheduled
        |FROM pay GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)
  }

  /** GROUPING SETS via SQL (only surface Spark's Dataset API lacks). */
  private def q28(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders", Tables.orders(s, dir))
    s.sql(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS priority,
        |       count(1) AS n,
        |       round(cast(sum(cast(o_totalprice AS decimal(18,2))) AS double), 2) AS revenue
        |FROM graft_orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)
  }

  /** q146: value-picking window functions — lag/lead WITH DEFAULTS,
    * first_value over a running frame, nth_value over the full
    * partition. Completes the window surface next to the rank family
    * (q67) and running/range frames (q18/q49). One exchange on
    * o_custkey serves all four functions (same partition + order), and
    * the defaults make edge rows deterministic without null-handling
    * divergence between engines. */
  private def q146(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        lag(col("o_totalprice"), 1, -1.0).over(w).as("prev_price"),
        lead(col("o_orderkey"), 1, -1L).over(w).as("next_key"),
        first(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .as("first_price"),
        nth_value(col("o_totalprice"), 3).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
          .as("third_price"))
      .orderBy("o_orderkey")
  }

  /** q148: null-skipping aggregate semantics — the count(*) vs count(x)
    * distinction, null-skipping avg through exact DECIMAL, coalesced
    * min over a sparse column, and boolean aggregates. Nulls are
    * MANUFACTURED (every third order) so the gate exercises the skip
    * path on every group rather than relying on fixture nulls. */
  private def q148(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.dec
    val v = when(col("o_orderkey") % 3 =!= 0, col("o_totalprice"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), v.as("v"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_all"),
        count(col("v")).as("n_present"),
        round(sum(dec(col("v"))).cast("double") / count(col("v")), 6)
          .as("avg_present"),
        round(coalesce(min(col("v")), lit(-1.0)), 2).as("min_or_default"),
        bool_and(col("v").isNull || col("v") > 0).as("all_pos_or_null"),
        bool_or(col("v") > 400000).as("any_big"))
      .orderBy("o_orderpriority")
  }

  /** q164: grouping() / grouping_id() — the disambiguation functions
    * that make CUBE results machine-consumable: a NULL group key can
    * mean "subtotal row" or "the key really was NULL", and only the
    * grouping flags tell them apart (q26–q28 produce the lattices;
    * this gate pins the flag semantics downstream pivots rely on).
    * The id is emitted via the explicit flag arithmetic so the gate is
    * independent of any engine's internal bit convention. */
  private def q164(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        grouping(col("l_returnflag")).cast("long").as("g_flag"),
        grouping(col("l_linestatus")).cast("long").as("g_status"))
      .select(coalesce(col("l_returnflag"), lit("~")).as("flag"),
        coalesce(col("l_linestatus"), lit("~")).as("status"),
        col("n"), col("gid"), col("g_flag"), col("g_status"))
      .orderBy("gid", "flag", "status")

  /** q166: LATERAL correlated table subquery (Spark SQL surface) — the
    * per-row dependent subquery relational algebra can't express as a
    * plain join: for every region, its top-2 nations by customer count,
    * with the ORDER BY + LIMIT scoped INSIDE the lateral. Catalyst
    * plans it via DecorrelateInnerQuery into a ranked join — no
    * per-region re-scan survives into the physical plan. */
  private def q166(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_region166", Tables.region(s, dir))
    cs.view("graft_nation166", Tables.nation(s, dir))
    cs.view("graft_customer166", Tables.customer(s, dir))
    s.sql(
      """SELECT r_name, n_name, n_cust
        |FROM graft_region166 r,
        |LATERAL (
        |  SELECT n_name, count(*) AS n_cust
        |  FROM graft_nation166 n
        |  JOIN graft_customer166 c ON c_nationkey = n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n_name
        |  ORDER BY n_cust DESC, n_name LIMIT 2
        |)
        |ORDER BY r_name, n_cust DESC, n_name""".stripMargin)
  }

  /** q171: parameterized SQL — named-parameter binding
    * (`spark.sql(text, args)`) plus a SQL session variable (DECLARE /
    * SET VAR, Spark 4 surface), the injection-safe way to template the
    * same plan over changing thresholds (plan cache keys stay stable;
    * string-spliced literals would defeat both safety and caching at
    * 100 TB orchestration scale). The oracle is the identical query
    * with the values inlined — binding must be semantically invisible. */
  private def q171(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders171", Tables.orders(s, dir))
    s.sql("DECLARE OR REPLACE VARIABLE graft_prio STRING DEFAULT '1-URGENT'")
    cs.defer(s.sql("DROP TEMPORARY VARIABLE IF EXISTS graft_prio"))
    s.sql("SET VAR graft_prio = '2-HIGH'")
    s.sql(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM graft_orders171
        |WHERE o_totalprice > :floor AND o_orderpriority <> graft_prio
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Map("floor" -> 50000))
  }

  /** q213: SQL-language functions (Spark 4 surface) — a scalar
    * `CREATE FUNCTION … RETURN expr` and a table function
    * `CREATE FUNCTION … RETURNS TABLE … RETURN SELECT`, the
    * catalog-registerable way to share business logic across a team's
    * queries. Unlike a Scala/Python UDF, Catalyst INLINES the SQL
    * function body into the calling plan, so the discount arithmetic
    * stays inside whole-stage codegen and pushdown/pruning see through
    * it — at 100 TB an opaque UDF here would black-box the hottest
    * expression in the scan. The table function joins on as a 3-row
    * broadcast. Re-registration is idempotent (pure SQL text, no
    * captured driver state — the bloom-probe single-writer concern
    * doesn't apply). Oracle: the same query with both bodies inlined,
    * which is exactly what the inlining contract promises. */
  private def q213(s: SparkSession, dir: String): DataFrame =
    CallScope.local(s)(sqlFunctionsFrame(s, dir, _))

  /** q213's frame before the collect, shared with PlanSpec's inlining
    * pin: its view and both functions live until `cs` releases them. */
  private[graft] def sqlFunctionsFrame(s: SparkSession, dir: String,
      cs: CallScope): DataFrame = {
    cs.view("graft_li213", Tables.lineitem(s, dir))
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(
            |  p DOUBLE, d DOUBLE) RETURNS DOUBLE
            |RETURN p * (1.0 - d)""".stripMargin)
    cs.defer(s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_disc_price"))
    s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION graft_qty_bands()
            |  RETURNS TABLE(band STRING, lo DOUBLE, hi DOUBLE)
            |RETURN SELECT * FROM VALUES
            |  ('low', 0.0D, 10.0D), ('mid', 10.0D, 30.0D),
            |  ('high', 30.0D, 51.0D)""".stripMargin)
    cs.defer(s.sql("DROP TEMPORARY FUNCTION IF EXISTS graft_qty_bands"))
    s.sql(
      """SELECT l_returnflag, b.band, count(*) AS n,
        |  round(CAST(sum(CAST(graft_disc_price(l_extendedprice, l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  max(b.lo) AS band_lo, max(b.hi) AS band_hi
        |FROM graft_li213 l
        |JOIN graft_qty_bands() b
        |  ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
  }

  /** q263: SQL SCRIPTING (Spark 4 procedural surface) — BEGIN/END,
    * DECLARE'd session variables, WHILE — driving a computation that
    * genuinely NEEDS a loop over full queries: the exact global median
    * by K-ARY SEARCH over the value domain. Each iteration probes 63
    * evenly-spaced split points in ONE grouped pass (a 63-row probe
    * frame cross-joined into conditional counts — 63 counters per data
    * row, still a single read) and shrinks the bracket ~64×, so an
    * exact order statistic of an arbitrarily large corpus costs
    * ⌈log₆₄ domain⌉ ≈ 5 passes with O(1) driver state — the
    * bounded-memory exact-quantile scheme, fanned wide because at scale
    * PASSES are the currency, not per-pass counters (binary bisection's
    * 26 passes measured 1.7× slower here at sf0.1, and the gap widens
    * with data since each extra pass is a full read). Both bracket
    * bounds come
    * back from the single pass PACKED into one BIGINT (base-shifted,
    * dynamic radix = bracket width + 2, sound for negative/zero minima
    * and brackets up to ~3·10⁹ wide) because script variables assign
    * one scalar per SET — two SETs would re-run the pass. Prices are exact integer cents, so
    * the invariant (count(≤lo) < ⌈n/2⌉ ≤ count(≤hi)) terminates on a
    * real data value = the lower median, convention-free. The
    * single-column frame is cached for the script's lifetime: the k
    * passes re-read one materialized column — the honest cost profile
    * of the technique (vs the one-pass sort of percentile_disc when
    * memory allows — q255's territory). */
  private def q263(s: SparkSession, dir: String): DataFrame = {
    // Spread BEFORE caching (r18): the orders parquet is a single row
    // group, so the cached single-column frame held ONE partition and
    // every bisection pass ran its 63 conditional counters over the
    // whole corpus in ONE task (measured 0.22–0.32 s × ~5 passes at
    // sf0.1). The spread is paid once (a ~12 MB shuffle of bare longs),
    // then every pass scans the cache cluster-wide — the cache-once/
    // probe-k-times profile the scaladoc already claims. Parallelism
    // derives from the cluster width, not a constant.
    CallScope.local(s) { cs =>
      val cents = Tables.orders(s, dir)
        .select(round(col("o_totalprice") * 100).cast("long").as("cents"))
        .repartition(s.sparkContext.defaultParallelism)
      cents.cache()
      cs.defer(cents.unpersist(false))
      cs.view("graft_cents263", cents)
      s.sql(
        """BEGIN
          |  DECLARE lo BIGINT;
          |  DECLARE hi BIGINT;
          |  DECLARE n BIGINT;
          |  DECLARE k BIGINT;
          |  DECLARE step BIGINT;
          |  DECLARE base BIGINT;
          |  DECLARE radix BIGINT;
          |  DECLARE packed BIGINT;
          |  SET lo = (SELECT min(cents) - 1 FROM graft_cents263);
          |  SET hi = (SELECT max(cents) FROM graft_cents263);
          |  SET n = (SELECT count(*) FROM graft_cents263);
          |  SET k = (n + 1) DIV 2;
          |  -- base-shifted dynamic-radix packing: (lo - base) and
          |  -- (hi - base) are non-negative and < radix for ANY value
          |  -- domain (negative or zero minima included — a fixed 10^9
          |  -- radix silently corrupted on lo < 0), and packed <= radix^2
          |  -- stays in BIGINT up to a ~3*10^9-wide bracket
          |  SET base = lo;
          |  SET radix = hi - lo + 2;
          |  WHILE hi - lo > 1 DO
          |    SET step = greatest((hi - lo) DIV 64, 1);
          |    SET packed = (
          |      SELECT (coalesce(max(CASE WHEN cnt < k THEN p END), lo)
          |                - base) * radix
          |           + (coalesce(min(CASE WHEN cnt >= k THEN p END), hi)
          |                - base)
          |      FROM (SELECT p.p,
          |              sum(CASE WHEN c.cents <= p.p THEN 1 ELSE 0 END)
          |                AS cnt
          |            FROM graft_cents263 c
          |            CROSS JOIN (SELECT lo + id * step AS p
          |                        FROM range(1, 64)
          |                        WHERE lo + id * step < hi) p
          |            GROUP BY p.p));
          |    SET lo = base + packed DIV radix;
          |    SET hi = base + packed % radix;
          |  END WHILE;
          |  SELECT hi AS median_cents, n AS n_rows;
          |END""".stripMargin)
    }
  }

  /** q264: PARAMETERIZED SQL — the injection-safe query surface next to
    * q263's scripting: a session VARIABLE carries a runtime-derived
    * parameter, `EXECUTE IMMEDIATE ... USING` binds it (with a named
    * :param marker) into a query TEMPLATE, and the same template also
    * runs through the Scala-side `spark.sql(text, args)` named-parameter
    * API — both paths must agree row-for-row (the gate unions them and
    * requires each group to appear exactly twice). Parameters bind as
    * typed literals in the plan, never string-spliced, so the template
    * is safe for hostile parameter values and Catalyst still
    * constant-folds/pushes the bound predicate like any literal. The
    * parameter itself is data-derived (the corpus median price from a
    * 1-row aggregate) — the realistic shape where one query's result
    * feeds the next query's binding. */
  private def q264(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders264", Tables.orders(s, dir))
    s.sql("DECLARE OR REPLACE VARIABLE graft_cut264 DOUBLE")
    cs.defer(s.sql("DROP TEMPORARY VARIABLE IF EXISTS graft_cut264"))
    s.sql("""SET VAR graft_cut264 =
            |  (SELECT percentile_disc(0.5) WITHIN GROUP
            |     (ORDER BY o_totalprice) FROM graft_orders264)""".stripMargin)
    val template =
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    AS DOUBLE), 2) AS revenue
        |FROM graft_orders264 WHERE o_totalprice > :cut
        |GROUP BY 1""".stripMargin
    val viaExec = s.sql(
      s"EXECUTE IMMEDIATE '${template.replace("\n", " ").replace("'", "''")}' " +
        "USING graft_cut264 AS cut")
    val cut = s.sql("SELECT graft_cut264").head().getDouble(0)
    val viaArgs = s.sql(template, Map("cut" -> cut))
    viaExec.unionByName(viaArgs)
      .groupBy("priority", "n", "revenue")
      .agg(count(lit(1)).as("paths_agreeing"))
      .orderBy("priority")
  }

  /** q286: IDENTIFIER() binding — the IDENTIFIER half of injection-safe
    * SQL templating (q264 binds VALUES; this binds NAMES). A report
    * template whose target table AND grouping column arrive as named
    * parameters resolves them through `IDENTIFIER(:p)`, which parses
    * the bound string as exactly one identifier — never as SQL — so a
    * hostile "name" cannot smuggle clauses the way string-spliced
    * table/column names can (the classic templating injection). The
    * gate runs the one template against two (table, column) bindings
    * and unions the reports, tagged by binding; a non-identifier
    * binding fails analysis (pinned in a spec, not here — the gate
    * stays oracle-comparable). At 100 TB this is how a metric layer
    * fans one audited template across a catalog of tables without
    * per-table SQL generation. */
  private def q286(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_cust286", Tables.customer(s, dir))
    cs.view("graft_ord286", Tables.orders(s, dir))
    val template =
      """SELECT CAST(IDENTIFIER(:grp) AS STRING) AS grp, count(*) AS n
        |FROM IDENTIFIER(:tbl) GROUP BY 1""".stripMargin
    val cust = s.sql(template,
      Map("tbl" -> "graft_cust286", "grp" -> "c_mktsegment"))
      .withColumn("report", lit("customer_by_segment"))
    val ord = s.sql(template,
      Map("tbl" -> "graft_ord286", "grp" -> "o_orderpriority"))
      .withColumn("report", lit("orders_by_priority"))
    cust.unionByName(ord)
      .select("report", "grp", "n").orderBy("report", "grp")
  }

  /** q279: SQL PIPE SYNTAX (Spark 4 `|>` operators) — the third modern
    * SQL surface next to q263's scripting and q264's parameters: a
    * linear pipeline of relational steps in source order (FROM first,
    * each `|>` consuming the previous step's rows) instead of SQL's
    * inside-out clause nesting. The gate exercises the operator set a
    * reporting pipeline actually uses — WHERE before aggregation,
    * `AGGREGATE … GROUP BY` (keys ride into the output), a second
    * WHERE over the aggregate (HAVING without the keyword), EXTEND for
    * a derived column over the aggregated frame, SELECT projection,
    * ORDER BY — and the oracle states the identical query in classic
    * nested SQL, so the gate proves pipe syntax is pure surface: the
    * plan (and at 100 TB the shuffle structure) is exactly the classic
    * query's. Exact-cents sums (q11 discipline); the derived average is
    * integer-cents division (`div`) — round-on-double diverges across
    * engines on boundary cells (the r13 red row), so the gate stays in
    * exact integer arithmetic end to end. */
  private def q279(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_li279", Tables.lineitem(s, dir))
    s.sql(
      """FROM graft_li279
        ||> WHERE l_shipdate <= DATE'1998-09-02'
        ||> AGGREGATE count(*) AS n,
        |     sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS price_c
        |     GROUP BY l_returnflag, l_linestatus
        ||> WHERE n >= 10
        ||> EXTEND price_c div n AS avg_cents
        ||> SELECT l_returnflag, l_linestatus, n, price_c, avg_cents
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** q299: ANSI-MODE gate — the round-14 full-board ANSI sweep
    * (SCALING.md: 295/295 green under `spark.sql.ansi.enabled=true`)
    * made REGRESSION-PROOF as one standing gate instead of a one-off
    * note: the query runs with ANSI forced on (q265's conf-scope
    * pattern — collected INSIDE the scope, since optimization happens
    * at execution) and exercises exactly the semantics ANSI changes:
    * strict casts (a valid string→number cast must still succeed),
    * overflow (plain `+` on BIGINT would THROW under ANSI where legacy
    * silently wraps — `try_add` is the sanctioned escape, returning
    * NULL), and the repo's exact-DECIMAL money discipline (unaffected
    * by mode, which is the point of the discipline). At 100 TB ANSI-on
    * is the deployment reality (Spark 4 distros default it); a library
    * whose gates only ever ran legacy-mode semantics would be one
    * `.cast` away from a production surprise. */
  private def q299(s: SparkSession, dir: String): DataFrame =
    CallScope.local(s, "spark.sql.ansi.enabled" -> "true") { cs =>
      // the scope drops the view even when an ANSI execution throw (the
      // failure mode this gate exists to catch) fails the collect
      cs.view("graft_li299", Tables.lineitem(s, dir))
      s.sql(
        """SELECT l_returnflag, count(*) AS n,
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
          |    AS BIGINT) AS price_c,
          |  CAST(sum(CAST(CAST(l_quantity AS STRING) AS DECIMAL(18,2)))
          |    AS BIGINT) AS qty_via_str,
          |  try_add(9223372036854775807, count(*)) AS overflow_is_null
          |FROM graft_li299
          |GROUP BY 1 ORDER BY 1""".stripMargin)
    }

  /** q238: COLLATION-aware grouping (Spark 4 surface) — case-insensitive
    * semantics pushed into the string TYPE via `collate(…,
    * 'UTF8_LCASE')` instead of wrapping every reference in lower().
    * The collated comparison participates in partitioning and
    * aggregation natively (one shuffle on the collation key; Spark 4.1
    * plans collated group keys as map-side-combining SortAggregate —
    * collation-aware hashing isn't wired into HashAggregate yet, a real
    * cost to know about before collating a 100 TB group key), and
    * unlike the lower()-wrap idiom it also governs joins/sorts/DISTINCT
    * wherever the typed column flows. Input case-noise is derived
    * deterministically (custkey mod 3 → UPPER / lower / Initcap), the
    * group key is re-exported as a plain lower-cased UTF8_BINARY string
    * so the sink schema carries no collation, and the oracle mirrors
    * with lower() grouping — same groups by construction. */
  private def q238(s: SparkSession, dir: String): DataFrame = {
    val noisy = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_acctbal"),
        when(col("c_custkey") % 3 === 0, upper(col("c_mktsegment")))
          .when(col("c_custkey") % 3 === 1, lower(col("c_mktsegment")))
          .otherwise(initcap(lower(col("c_mktsegment")))).as("seg"))
    noisy
      .groupBy(collate(col("seg"), "UTF8_LCASE").as("k"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("seg")).as("n_case_variants"),
        // exact decimal sum: double summation order differs per engine
        round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2)
          .as("bal"))
      .select(lower(col("k")).cast("string").as("segment"), col("n"),
        col("n_case_variants"), col("bal"))
      .orderBy("segment")
  }

  override def queries: Seq[Q] = Seq(
    Q("q238_collation_group", q238, Some(
      """WITH noisy AS (SELECT c_custkey, c_acctbal,
        |    CASE WHEN c_custkey % 3 = 0 THEN upper(c_mktsegment)
        |         WHEN c_custkey % 3 = 1 THEN lower(c_mktsegment)
        |         ELSE upper(substring(c_mktsegment, 1, 1)) ||
        |              lower(substring(c_mktsegment, 2)) END AS seg
        |  FROM customer)
        |SELECT lower(seg) AS segment, count(*) AS n,
        |  count(DISTINCT seg) AS n_case_variants,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS bal
        |FROM noisy GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q299_ansi_mode", q299, Some(
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    AS BIGINT) AS price_c,
        |  CAST(sum(CAST(CAST(l_quantity AS STRING) AS DECIMAL(18,2)))
        |    AS BIGINT) AS qty_via_str,
        |  CAST(NULL AS BIGINT) AS overflow_is_null
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q279_sql_pipe_syntax", q279, Some(
      """WITH a AS (
        |  SELECT l_returnflag, l_linestatus, count(*) AS n,
        |    CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |      AS BIGINT) AS price_c
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus, n, price_c,
        |  price_c // n AS avg_cents
        |FROM a WHERE n >= 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    Q("q286_identifier_binding", q286, Some(
      """SELECT report, grp, n FROM (
        |  SELECT 'customer_by_segment' AS report,
        |    CAST(c_mktsegment AS VARCHAR) AS grp, count(*) AS n
        |  FROM customer GROUP BY 2
        |  UNION ALL
        |  SELECT 'orders_by_priority',
        |    CAST(o_orderpriority AS VARCHAR), count(*)
        |  FROM orders GROUP BY 2
        |) ORDER BY report, grp""".stripMargin)),
    Q("q264_parameterized_sql", q264, Some(
      """WITH c AS (SELECT quantile_disc(o_totalprice, 0.5) AS cut
        |  FROM orders)
        |SELECT o_orderpriority AS priority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    AS DOUBLE), 2) AS revenue,
        |  2 AS paths_agreeing
        |FROM orders, c WHERE o_totalprice > c.cut
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q263_sql_scripting_bisect", q263, Some(
      """WITH c AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS cents FROM orders),
        |r AS (SELECT cents,
        |    row_number() OVER (ORDER BY cents) AS rn,
        |    count(*) OVER () AS n
        |  FROM c)
        |SELECT cents AS median_cents, CAST(n AS BIGINT) AS n_rows
        |FROM r WHERE rn = (n + 1) // 2""".stripMargin)),
    Q("q213_sql_functions", q213, Some(
      """WITH b(band, lo, hi) AS (VALUES
        |    ('low', 0.0, 10.0), ('mid', 10.0, 30.0), ('high', 30.0, 51.0))
        |SELECT l_returnflag, b.band, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE), 2) AS revenue,
        |  max(b.lo) AS band_lo, max(b.hi) AS band_hi
        |FROM lineitem l
        |JOIN b ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q11_pricing_summary", q11, Some(
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_base_price,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_disc_price,
        |  count(*) AS count_order,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-06-01'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q12_join_segment_revenue", q12, Some(
      """SELECT c_mktsegment,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q13_star_join_region", q13, Some(
      """SELECT r_name, n_name,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q14_left_join_counts", q14, Some(
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q15_semi_join", q15, Some(
      """SELECT c_mktsegment, count(*) AS n_active FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q16_anti_join", q16, Some(
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    Q("q17_window_topk", q17, Some(
      """SELECT o_custkey, rk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
        |  FROM orders
        |) WHERE rk <= 3 ORDER BY o_custkey, rk""".stripMargin)),
    Q("q18_window_running", q18, Some(
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_rev
        |FROM lineitem ORDER BY l_suppkey, l_orderkey, l_linenumber, running_rev""".stripMargin)),
    Q("q19_lag_gap", q19, Some(
      """SELECT event_id, user_id,
        |  epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |FROM events ORDER BY event_id""".stripMargin)),
    Q("q20_global_topk", q20, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey DESC LIMIT 10""".stripMargin)),
    Q("q21_union", q21, Some(
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY custkey""".stripMargin)),
    Q("q22_intersect", q22, Some(
      """SELECT o_custkey AS custkey FROM orders
        |INTERSECT
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |ORDER BY custkey""".stripMargin)),
    Q("q23_except", q23, Some(
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT o_custkey FROM orders
        |ORDER BY custkey""".stripMargin)),
    Q("q24_distinct_counts", q24, Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Self-verifying: oracle pins the exact count and the accuracy
    // contract (see q25 scaladoc).
    Q("q25_approx_distinct", q25, Some(
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        |  CAST(0.05 AS DOUBLE) AS rel_err_bound, true AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q26_rollup", q26, Some(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin)),
    Q("q27_cube", q27, Some(
      """SELECT coalesce(event_type, 'ALL') AS event_type,
        |  coalesce(strftime(ts, '%Y-%m'), 'ALL') AS month,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY CUBE (event_type, strftime(ts, '%Y-%m'))
        |ORDER BY event_type, month""".stripMargin)),
    Q("q64_full_outer_join", q64, Some(
      """SELECT coalesce(o_custkey, c_custkey) AS custkey, o_orderkey, c_mktsegment
        |FROM (SELECT o_orderkey, o_custkey FROM orders WHERE o_totalprice > 400000) o
        |FULL OUTER JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 8000) c
        |  ON o_custkey = c_custkey
        |ORDER BY custkey, o_orderkey, c_mktsegment""".stripMargin)),
    Q("q65_setops_all", q65, Some(
      """SELECT l_suppkey, 'intersect_all' AS op FROM (
        |  SELECT l_suppkey FROM lineitem WHERE l_discount = 0.0
        |  INTERSECT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_tax = 0.0)
        |UNION ALL
        |SELECT l_suppkey, 'except_all' FROM (
        |  SELECT l_suppkey FROM lineitem WHERE l_discount = 0.0
        |  EXCEPT ALL
        |  SELECT l_suppkey FROM lineitem WHERE l_tax = 0.0)
        |ORDER BY op, l_suppkey""".stripMargin)),
    Q("q68_scalar_subquery", q68, Some(
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders
        |   WHERE o_custkey = c_custkey) AS max_order
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Q("q28_grouping_sets", q28, Some(
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |  coalesce(o_orderpriority, 'ALL') AS priority,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY status, priority""".stripMargin)),
    Q("q126_nullsafe_join", q126, Some(
      """SELECT k, count(*) AS n_pairs FROM
        |  (SELECT NULLIF(s_nationkey % 5, 0) AS k FROM supplier) a
        |JOIN
        |  (SELECT NULLIF(c_nationkey % 5, 0) AS ck FROM customer) b
        |ON a.k IS NOT DISTINCT FROM b.ck
        |GROUP BY k ORDER BY k NULLS FIRST""".stripMargin)),
    Q("q124_recursive_cte", q124, Some(
      """WITH RECURSIVE pay(o_orderkey, k, remaining) AS (
        |  SELECT o_orderkey, 0, floor(o_totalprice * 100) / 100
        |  FROM orders WHERE o_orderkey % 997 = 0
        |  UNION ALL
        |  SELECT o_orderkey, k + 1, floor(remaining * 50) / 100
        |  FROM pay WHERE remaining >= 1
        |)
        |SELECT o_orderkey, count(*) AS n_installments,
        |  round(sum(remaining), 2) AS total_scheduled
        |FROM pay GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin)),
    Q("q119_not_in_nulls", q119, Some(
      """SELECT variant, n_survivors FROM (
        |  SELECT 'no_nulls' AS variant, count(*) AS n_survivors
        |  FROM part
        |  WHERE p_size NOT IN (SELECT l_linenumber FROM lineitem)
        |  UNION ALL
        |  SELECT 'with_null' AS variant, count(*) AS n_survivors
        |  FROM part
        |  WHERE p_size NOT IN (
        |    SELECT CASE WHEN l_orderkey % 97 = 0 THEN NULL
        |           ELSE l_linenumber END
        |    FROM lineitem)
        |) ORDER BY variant""".stripMargin)),
    Q("q171_sql_params", q171, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM orders
        |WHERE o_totalprice > 50000 AND o_orderpriority <> '2-HIGH'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
    Q("q164_grouping_id", q164, Some(
      """SELECT coalesce(l_returnflag, '~') AS flag,
        |  coalesce(l_linestatus, '~') AS status,
        |  count(*) AS n,
        |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus)
        |    AS BIGINT) AS gid,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_status
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY gid, flag, status""".stripMargin)),
    Q("q166_lateral_topk", q166, Some(
      """SELECT r_name, n_name, n_cust
        |FROM region r,
        |LATERAL (
        |  SELECT n_name, count(*) AS n_cust
        |  FROM nation n
        |  JOIN customer c ON c_nationkey = n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  GROUP BY n_name
        |  ORDER BY n_cust DESC, n_name LIMIT 2
        |)
        |ORDER BY r_name, n_cust DESC, n_name""".stripMargin)),
    Q("q146_value_windows", q146, Some(
      """SELECT o_orderkey, o_custkey,
        |  lag(o_totalprice, 1, -1.0) OVER w AS prev_price,
        |  lead(o_orderkey, 1, -1) OVER w AS next_key,
        |  first_value(o_totalprice) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS first_price,
        |  nth_value(o_totalprice, 3) OVER
        |    (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |    AS third_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin)),
    Q("q148_null_aggregates", q148, Some(
      """WITH t AS (SELECT o_orderpriority,
        |  CASE WHEN o_orderkey % 3 != 0 THEN o_totalprice END AS v
        |  FROM orders)
        |SELECT o_orderpriority,
        |  count(*) AS n_all,
        |  count(v) AS n_present,
        |  round(CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) / count(v), 6)
        |    AS avg_present,
        |  round(coalesce(min(v), -1.0), 2) AS min_or_default,
        |  bool_and(v IS NULL OR v > 0) AS all_pos_or_null,
        |  bool_or(v > 400000) AS any_big
        |FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),
  )
}
