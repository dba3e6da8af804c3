package graft.operators

import graft.{CallScope, Q, QueryPack}
import graft.Materialize.MaterializeOps
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Advanced aggregation surface: typed `Aggregator[IN, BUF, OUT]` (the
  * idiomatic Spark form of the reference's reduce_fcn when it is
  * associative — gets map-side partial aggregation the reference never
  * had, SURVEY.md §2.1 O8), exact interpolated percentiles, and
  * range-framed (not row-framed) window aggregation.
  */
object AdvancedAggs extends QueryPack {

  import graft.functions.Exact.dec

  /** Typed average over integer-cent fixed-point — exact, order-free, so
    * partial aggregation can run in any order on any cluster size and the
    * result stays deterministic. */
  object CentAvg extends Aggregator[Double, (Long, Long), Double] {
    override def zero: (Long, Long) = (0L, 0L)
    override def reduce(b: (Long, Long), x: Double): (Long, Long) =
      (b._1 + math.round(x * 100), b._2 + 1)
    override def merge(a: (Long, Long), b: (Long, Long)): (Long, Long) =
      (a._1 + b._1, a._2 + b._2)
    override def finish(b: (Long, Long)): Double =
      if (b._2 == 0) 0.0 else (b._1 / 100.0) / b._2
    override def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** One (priceCents, orderkey) candidate for [[Top3ByPrice]]. */
  case class TopEntry(p: Long, k: Long)
  /** Bounded top-k buffer (k entries, ordered). A case class rather than
    * a bare Seq so `Encoders.product` covers both buffer and output. */
  case class TopBuf(es: Seq[TopEntry])

  /** Bounded per-key TOP-K as a typed Aggregator: the buffer is a
    * k-element ordered list (largest price first, orderkey ties
    * ascending), so reduce/merge are O(k) and the shuffle carries k
    * entries per key — never the key's full history. This is the
    * scale-correct alternative to the row_number() window for "top 3
    * per customer": the window SORTS EVERY GROUP'S ROWS (full data
    * sort on the exchange) where the heap aggregates map-side and
    * ships only survivors. Exact cents keep the ordering engine-neutral. */
  object Top3ByPrice extends Aggregator[TopEntry, TopBuf, TopBuf] {
    private val K = 3
    private val ord: Ordering[TopEntry] =
      Ordering.by((e: TopEntry) => (-e.p, e.k))
    override def zero: TopBuf = TopBuf(Nil)
    override def reduce(b: TopBuf, a: TopEntry): TopBuf =
      TopBuf((a +: b.es).sorted(ord).take(K))
    override def merge(x: TopBuf, y: TopBuf): TopBuf =
      TopBuf((x.es ++ y.es).sorted(ord).take(K))
    override def finish(b: TopBuf): TopBuf = b
    override def bufferEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
    override def outputEncoder: Encoder[TopBuf] = Encoders.product[TopBuf]
  }

  /** q243: top-3 orders per customer via the bounded [[Top3ByPrice]]
    * aggregator — shuffle volume O(k·|keys|) with map-side combine,
    * vs the oracle's row_number() window that sorts every customer's
    * full order history on the exchange. The udaf registration path is
    * the q179 machinery; `posexplode` flattens the k-list back to
    * ranked rows. */
  private def q243(s: SparkSession, dir: String): DataFrame = {
    val top = udaf(Top3ByPrice)
    Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(top(round(col("o_totalprice") * 100).cast("long"),
        col("o_orderkey")).as("t"))
      .select(col("o_custkey"), posexplode(col("t.es")))
      .select(col("o_custkey"), (col("pos") + 1).as("rnk"),
        col("col.k").as("o_orderkey"),
        round(col("col.p") / 100.0, 2).as("price"))
      .orderBy("o_custkey", "rnk")
  }

  /** q38: typed Aggregator — average quantity per return flag. */
  private def q38(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity"))
      .as[(String, Double)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(CentAvg.toColumn.name("avg_qty"))
      .toDF("l_returnflag", "avg_qty")
      .withColumn("avg_qty", round(col("avg_qty"), 6))
      .orderBy("l_returnflag")
  }

  /** q174: typed `cogroup` — the Dataset-API two-sided per-key merge
    * (KeyValueGroupedDataset.cogroup), the surface for arbitrary
    * reconciliation logic that a SQL FULL OUTER JOIN of aggregates can
    * only express when the merge is aggregatable. Per customer key:
    * order count + first order day from one side, event count from the
    * other, presence status from both. Both inputs shuffle ONCE on the
    * key and arrive co-partitioned; the merge function holds O(1) state
    * (counters and a running min — never a buffered group), and every
    * accumulator is order-independent, so the gate is exact whatever
    * iterator order the shuffle delivers. The oracle is the aggregatable
    * projection of the same merge (FULL OUTER JOIN of two GROUP BYs). */
  private def q174(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = Tables.orders(s, dir)
      .select(col("o_custkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("d"))
      .as[(Long, String)]
    val events = Tables.events(s, dir).select(col("user_id")).as[Long]
    orders.groupByKey(_._1).cogroup(events.groupByKey(identity)) { (k, os, es) =>
      var nOrders = 0L
      var firstD: String = null
      os.foreach { case (_, d) =>
        nOrders += 1
        if (firstD == null || d < firstD) firstD = d
      }
      var nEvents = 0L
      es.foreach(_ => nEvents += 1)
      val status =
        if (nOrders > 0 && nEvents > 0) "both"
        else if (nOrders > 0) "orders_only"
        else "events_only"
      Iterator.single(
        (k, nOrders, nEvents, if (firstD == null) "-" else firstD, status))
    }.toDF("cust_key", "n_orders", "n_events", "first_order_d", "status")
      .orderBy("cust_key")
  }

  /** q179: the typed Aggregator registered as a SQL-callable UDAF —
    * `functions.udaf` wraps q38's CentAvg so plain SQL text can call it
    * like a builtin. Registration compiles to a ScalaAggregator
    * expression that still PARTIALLY AGGREGATES map-side (reduce/merge
    * are the partial/merge phases), so the SQL path pays no performance
    * tax over the typed path — shuffle volume stays O(groups). Gate runs
    * the aggregation entirely through `spark.sql(...)` over a temp view
    * and must equal q38's typed result (same oracle). */
  private def q179(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    s.udf.register("graft_cent_avg", udaf(CentAvg))
    cs.view("graft_q179_lineitem", Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity")))
    s.sql(
      """SELECT l_returnflag,
        |  round(graft_cent_avg(l_quantity), 6) AS avg_qty
        |FROM graft_q179_lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** q178: `flatMapSortedGroups` — the engine-provided secondary sort
    * (Spark 4 typed API): values arrive at the user function ORDERED
    * within each key, with the sort done by the engine's spillable
    * SortExec rather than a user-space buffer. The manual form of this
    * pattern is gated as q123 (repartition + sortWithinPartitions + a
    * mapPartitions run-fold); this is its typed-API twin, and the state
    * story is identical: one accumulator per open group, never the
    * group's history — the fold reads each value once in order. Gate:
    * per-user maximum inter-event gap (sentinel -1 for single-event
    * users), a computation that is only correct if the engine really
    * delivers rows in the requested (us, event_id) order. */
  private def q178(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("event_id"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("us"), col("event_id")) { (user, it) =>
        var prev = Long.MinValue
        var maxGap = -1L
        var n = 0L
        it.foreach { case (_, us, _) =>
          if (prev != Long.MinValue) maxGap = math.max(maxGap, us - prev)
          prev = us
          n += 1
        }
        Iterator.single((user, n, maxGap))
      }
      .toDF("user_id", "n_events", "max_gap_us")
      .orderBy("user_id")
  }

  /** q39: exact interpolated percentiles (median, p90) per group. */
  private def q39(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"))
      .orderBy("l_returnflag")

  /** q57: approx_percentile with a SELF-VERIFYING accuracy gate (the
    * sketch-percentile sibling of q25's HLL gate). approx_percentile's
    * contract is a RANK guarantee: with accuracy=1000 the returned
    * element's rank is within n/1000 of the target rank. The gate
    * brackets it by value — the approx median must land between the
    * exact p49 and p51 (rank slack 0.01, 10× the sketch's guarantee) —
    * and emits the verdict as a checked column; the oracle pins the
    * exact median (quantile_cont ≡ Spark percentile) and
    * within_bound = true. At scale approx_percentile is the one that
    * matters: its sketch merges map-side, while exact percentile is a
    * holistic per-group sort. */
  private def q57(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("exact_p50"),
        expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap"),
        expr("percentile(l_extendedprice, 0.49)").as("lo"),
        expr("percentile(l_extendedprice, 0.51)").as("hi"))
      .select(col("l_returnflag"), col("exact_p50"),
        lit(0.01).as("rank_eps"),
        (col("ap") >= col("lo") && col("ap") <= col("hi")).as("within_bound"))
      .orderBy("l_returnflag")

  /** q105: count-min-sketch heavy hitters — the mergeable frequency
    * sketch next to q25's HLL and q57's percentile sketch. One corpus
    * pass tree-aggregates a seeded CMS (width 2/eps ≈ 2000 × depth ~7 —
    * model-sized driver state, merged map-side like any sketch at
    * 100 TB); the gate probes it with the exact top-10 tokens and
    * emits the CMS one-sided error contract as a checked column:
    * estimate ≥ exact (CMS never undercounts) and ≤ exact + eps·N.
    * The oracle pins the exact top-10 (which DuckDB CAN compute) and
    * `true` for the contract — a sketch regression (bad merge, seed
    * drift, undercount) hash-fails the gate. At scale this is how you
    * get "how often does this token/URL/fingerprint occur" for a probe
    * set without shuffling a full groupBy. */
  private def q105(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.001
    val toks = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
    val cms = toks.stat.countMinSketch(col("tok"), eps, 0.99, 42)
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("exact_n")).persist()
    try {
      val top = exact.orderBy(col("exact_n").desc, col("tok")).limit(10).collect()
      val total = exact.agg(sum("exact_n")).head().getLong(0)
      val slack = (eps * total).toLong
      val rows = top.map { r =>
        val est = cms.estimateCount(r.getString(0))
        org.apache.spark.sql.Row(r.getString(0), r.getLong(1),
          est >= r.getLong(1) && est <= r.getLong(1) + slack)
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("tok",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("exact_n",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("cms_ok",
          org.apache.spark.sql.types.BooleanType)))
      s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    } finally exact.unpersist()
  }

  /** q49: RANGE-framed window — per order, how many orders of the same
    * customer fall within ±30 days (value-range frame, not row frame). */
  private def q49(s: SparkSession, dir: String): DataFrame = {
    val day = 86400L
    val w = Window.partitionBy("o_custkey")
      .orderBy("odate_s")
      .rangeBetween(-30 * day, 30 * day)
    Tables.orders(s, dir)
      .withColumn("odate_s",
        expr("unix_micros(cast(o_orderdate AS timestamp)) div 1000000"))
      .withColumn("n_nearby", count(lit(1)).over(w) - 1)
      .select("o_orderkey", "o_custkey", "n_nearby")
      .orderBy("o_orderkey")
  }

  /** q54: salted two-phase aggregation — the skew pattern for hot keys.
    * events has only ~5 event types, so at 100 TB a single-phase groupBy
    * funnels everything through 5 reducers; salting fans each hot key out
    * over 16 shards, partially aggregates, then merges 5×16 tiny rows.
    * Result is identical to the direct aggregate (exact decimal sums). */
  private def q54(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("salt", pmod(col("event_id"), lit(16)))
      .groupBy("event_type", "salt")
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
      .groupBy("event_type")
      .agg(sum("n").as("n"), round(sum("sv").cast("double"), 2).as("sum_value"))
      .orderBy("event_type")

  /** q67: ranking-function family over a deterministic total order. */
  private def q67(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("prank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .filter(col("rnk") <= 100)
      .orderBy("o_orderpriority", "rnk")
  }

  /** q170: categorical distribution diagnostics — Shannon entropy and
    * Gini impurity of each user's event-type mix, the label-balance
    * stats a training-data audit reports per slice. Per-user totals
    * come from a window over the SAME user partitioning as the
    * aggregate (one exchange); the log terms use the q153 fixed-point
    * discipline (round 12 per term, round 6 after the sum) so the
    * entropy hash is stable across engines and summation order. Gini
    * goes further: 1 − Σp² = 1 − (Σcnt²)/tot² is computed from EXACT
    * integer sums (Σcnt² in int64; tot cast to double before squaring,
    * exact to 2^53 and overflow-free where int64 tot·tot would wrap)
    * with one double division at the end — no float accumulation at
    * all, so the value
    * is bit-identical on any engine at any scale and summation order
    * (the rounded-float-term form drifted a half-ulp across a round(…,6)
    * boundary on 0.02% of users at the 10× derived fixture). */
  private def q170(s: SparkSession, dir: String): DataFrame = {
    val counts = Tables.events(s, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("user_id")
    val p = col("cnt") / col("tot")
    counts.withColumn("tot", sum("cnt").over(w))
      .select(col("user_id"),
        round(-p * log(p), 12).as("h_term"),
        (col("cnt") * col("cnt")).as("c2"),
        col("tot"))
      .groupBy("user_id")
      // + 0.0 maps a single-type user's -0.0 entropy (-1·ln 1 = -0.0) to
      // +0.0 identically on both engines; Spark's round normalizes -0.0
      // but DuckDB's keeps it, which would render 0.0 vs -0.0 (ADVICE r6)
      .agg(count(lit(1)).as("n_types"),
        round(sum("h_term") + lit(0.0), 6).as("entropy"),
        // tot is cast to double BEFORE squaring: int64 tot*tot wraps
        // silently in Spark past ~3.03e9 events/user while DuckDB
        // promotes, so the engines would diverge at extreme per-user
        // cardinalities (ADVICE r10). Exactness is preserved — tot² only
        // feeds this one final double division, and a double holds tot
        // exactly to 2^53.
        round(lit(1.0) -
          sum("c2").cast("double") /
            (max("tot").cast("double") * max("tot").cast("double")), 6)
          .as("gini"))
      .orderBy("user_id")
  }

  /** q160: bitwise aggregates + scalar bit ops — bit_and/bit_or/bit_xor
    * fold per group (associative/commutative ⇒ partial-aggregable and
    * order-free, so they're deterministic at any parallelism — the same
    * property that makes them useful as cheap distributed checksums,
    * which is exactly the xor's role here), over masked/shifted keys. */
  private def q160(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        (col("l_orderkey").bitwiseAND(lit(255L))).as("k"),
        shiftleft(col("l_linenumber"), 2).as("sl"))
      .groupBy("l_returnflag")
      .agg(bit_and(col("k")).as("band"),
        bit_or(col("k")).as("bor"),
        bit_xor(col("k").bitwiseXOR(col("sl"))).as("bxor_check"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** q151: Datasketches HLL (Spark 4 surface) — the MERGEABLE sketch
    * family q25's approx_count_distinct doesn't expose: per-group
    * sketches built with `hll_sketch_agg` are later UNIONED with
    * `hll_union_agg` into a global estimate without touching the data
    * again. That mergeability is the whole 100 TB story: per-partition
    * / per-day sketches combine associatively, so distinct counts roll
    * up across any hierarchy for free. Self-verifying like q25: each
    * row emits the exact distinct count plus a checked ±5% bound on the
    * sketch estimate (lgK=12 ⇒ ~1.6% σ, so the bound is ≈3σ), and the
    * oracle pins both. HLL registers are max-merged, so the sketch is
    * insertion-order-independent — deterministic at any parallelism. */
  private def q151(s: SparkSession, dir: String): DataFrame = {
    // ONE distinct (flag, partkey) pass shared by both tiers (r17):
    // per-flag countDistinct ≡ count over the deduped pairs, the global
    // countDistinct runs over the (much smaller) pair frame instead of
    // re-scanning lineitem, and HLL registers are duplicate-insensitive
    // (set semantics: identical hash → identical register update), so
    // sketching the deduped pairs yields the identical sketch and
    // estimate. The old shape paid two full lineitem scans each ending
    // in a two-phase distinct aggregate (measured 0.92 s + 0.21 s of a
    // 1.47 s gate at sf0.1).
    val pairs = Tables.lineitem(s, dir)
      .select("l_returnflag", "l_partkey").distinct().materialized
    val perFlag = pairs.groupBy("l_returnflag")
      .agg(count(lit(1)).as("exact_distinct"),
        hll_sketch_agg(col("l_partkey"), lit(12)).as("sk"))
      .materialized
    def gated(est: Column, exact: Column): Column =
      abs(est.cast("double") - exact) <= exact * lit(0.05)
    val flagRows = perFlag.select(col("l_returnflag"), col("exact_distinct"),
      gated(hll_sketch_estimate(col("sk")), col("exact_distinct")).as("est_ok"))
    val allRow = perFlag.agg(hll_union_agg(col("sk"), lit(true)).as("sk"))
      .crossJoin(broadcast(
        pairs.agg(countDistinct("l_partkey").as("exact_distinct"))))
      .select(lit("ALL").as("l_returnflag"), col("exact_distinct"),
        gated(hll_sketch_estimate(col("sk")), col("exact_distinct"))
          .as("est_ok"))
    flagRows.unionByName(allRow).orderBy("l_returnflag")
  }

  /** q149: exact DECIMAL arithmetic surfaced AS TEXT — the one place
    * the repo's "decimal → rounded double" rendering convention is
    * itself under test. Money sums stay in DECIMAL end-to-end and are
    * emitted as fixed-scale strings, so not a single bit of double
    * rounding is involved anywhere: any precision loss in either
    * engine's decimal path flips the hash. */
  private def q149(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.dec
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        sum(dec(col("l_extendedprice"))).cast("decimal(38,2)").cast("string")
          .as("revenue_exact"),
        sum(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount")))
          .cast("decimal(38,4)").cast("string").as("disc_revenue_exact"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** q141: argmin/argmax aggregates — `min_by`/`max_by` pick a payload
    * column by an ordering column in ONE pass (partial-aggregable, so
    * map-side combine applies), where the window-function equivalent
    * (row_number + filter) would shuffle whole rows and sort each group.
    * Keys on the globally-unique `event_id`, so ties are impossible and
    * the result is deterministic in any engine. */
  private def q141(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("user_id")
      .agg(
        min_by(col("event_type"), col("event_id")).as("first_type"),
        max_by(col("event_type"), col("event_id")).as("last_type"),
        max_by(col("value"), col("event_id")).as("last_value"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")

  /** q230: sketch set algebra — audience overlap (click∩view users) by
    * HLL inclusion–exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), with
    * the union estimated from `hll_union` of the two sketches, NOT a
    * third data pass. This is the q151 mergeability story applied across
    * SETS rather than groups: at 100 TB each segment keeps one 4 KB
    * sketch, and any pairwise (or k-way) overlap matrix is then pure
    * sketch arithmetic — no re-scan, no distinct-pair shuffle. One
    * single-pass aggregation builds both sketches AND the exact
    * reference counts; self-verifying like q151: the oracle pins the
    * exact cardinalities and the checked error bounds (±5% per leg at
    * lgK=12 ≈ 3σ; the intersection inherits both unions' error, gated
    * at 10% of |A∪B|). */
  private def q230(s: SparkSession, dir: String): DataFrame = {
    val isA = col("event_type") === "click"
    val m = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), col("user_id"))
      .agg(
        countDistinct(when(isA, col("user_id"))).as("n_a"),
        countDistinct(when(!isA, col("user_id"))).as("n_b"),
        countDistinct(col("user_id")).as("n_union"),
        hll_sketch_agg(when(isA, col("user_id")), lit(12)).as("ska"),
        hll_sketch_agg(when(!isA, col("user_id")), lit(12)).as("skb"))
    def leg(est: Column, exact: Column): Column =
      abs(est.cast("double") - exact) <= exact * lit(0.05)
    m.select(col("n_a"), col("n_b"), col("n_union"),
        (col("n_a") + col("n_b") - col("n_union")).as("n_inter"),
        hll_sketch_estimate(col("ska")).as("est_a"),
        hll_sketch_estimate(col("skb")).as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_u"))
      .select(col("n_a"), col("n_b"), col("n_union"), col("n_inter"),
        (leg(col("est_a"), col("n_a")) && leg(col("est_b"), col("n_b")) &&
          leg(col("est_u"), col("n_union"))).as("legs_ok"),
        (abs((col("est_a") + col("est_b") - col("est_u")).cast("double") -
          col("n_inter")) <= col("n_union") * lit(0.10)).as("inter_ok"))
  }

  /** q236: ordered LISTAGG (Spark 4 surface) — the within-group ordered
    * string concatenation every report/export layer needs (and the one
    * aggregate where determinism REQUIRES the explicit WITHIN GROUP
    * clause: an unordered listagg is nondeterministic at any
    * parallelism, since partial-aggregate arrival order differs run to
    * run). Two shapes: per-priority customer-count-ranked order-status
    * roll (DISTINCT variant) and per-status ordered priority list.
    * Only surfaced through SQL text — WITHIN GROUP has no Column-API
    * spelling — so this also gates the SQL parser path. Group count is
    * tiny (status × priority); the heavy side pre-aggregates first, so
    * the string build never sees raw rows. */
  private def q236(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_orders236", Tables.orders(s, dir))
    s.sql(
      """WITH pc AS (SELECT o_orderstatus AS status,
        |    o_orderpriority AS priority, count(*) AS n
        |  FROM graft_orders236 GROUP BY 1, 2)
        |SELECT status,
        |  listagg(priority, '|') WITHIN GROUP (ORDER BY n DESC, priority)
        |    AS priorities_by_freq,
        |  listagg(DISTINCT substring(priority, 1, 1), '')
        |    WITHIN GROUP (ORDER BY substring(priority, 1, 1))
        |    AS priority_codes
        |FROM pc GROUP BY status ORDER BY status""".stripMargin)
  }

  /** q237: exact MEDIAN and deterministic MODE builtins (Spark 4
    * `median` / `mode(…, deterministic := true)`) — the one-call
    * spellings of what q72 (holistic MR median) and the value-count
    * machinery (q211/q217) build by hand; gated so the builtin path is
    * pinned to the same R-7 interpolation and lowest-value tie-break
    * the hand-rolled operators contract to. The oracle spells the
    * tie-break explicitly (min over argmax counts) rather than trusting
    * DuckDB's own mode() tie behavior. Per-group cardinality is the
    * value domain, not the row count — both aggregates partial-combine
    * on (group, value) cells. */
  private def q237(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(round(median(col("l_quantity")), 6).as("med_qty"),
        mode(col("l_quantity"), deterministic = true).as("mode_qty"),
        mode(col("l_linestatus"), deterministic = true).as("mode_status"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** q255: ANSI `percentile_cont` / `percentile_disc` WITHIN GROUP —
    * the standard-SQL ordered-set aggregates (Spark 4 surface; only
    * spellable through SQL text, like q236's listagg). cont is pinned
    * to the same R-7 interpolation as the `percentile`/`median`
    * builtins (q55/q237) and the hand-rolled value-count machinery
    * (q211/q217); disc is pinned to "first value whose cumulative
    * distribution ≥ p" — a VALUE FROM THE SET, never interpolated,
    * which is the variant a percentile-of-categorical-codes pipeline
    * must use. Both partial-aggregate on (group, value) cells. */
  private def q255(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    cs.view("graft_q255_lineitem", Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_quantity")))
    s.sql(
      """SELECT l_returnflag,
        |  round(percentile_cont(0.25) WITHIN GROUP (ORDER BY l_quantity),
        |    6) AS p25_cont,
        |  percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)
        |    AS p25_disc,
        |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity),
        |    6) AS p90_cont,
        |  percentile_disc(0.9) WITHIN GROUP (ORDER BY l_quantity)
        |    AS p90_disc
        |FROM graft_q255_lineitem
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** q257: SKETCH ROLLUP — trailing-7-day distinct users from mergeable
    * daily HLL sketches (hll_sketch_agg per day once, hll_union_agg
    * across each window), the 100 TB shape q234's exact fan-out
    * graduates to: the corpus is touched ONCE to build |days| sketches
    * (4 KB each), and any window length / alignment after that is
    * sketch arithmetic on the days frame — where the exact method
    * re-fans the full user-day set per window family. The gate rides
    * both: the exact WAU column is oracle-hash-checked, and the sketch
    * estimate must land within 5% of it (at fixture cardinalities the
    * Datasketches HLL is still in exact sparse mode, so the bound is
    * conservative — the 100 TB error story is q151/q230's). */
  private def q257(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select((unix_micros(col("ts")) / lit(86400000000L)).cast("long")
        .as("day"), col("user_id"))
    val daily = ud.groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val rolled = daily
      .select(explode(sequence(col("day"), col("day") + 6)).as("wend"),
        col("sk"))
      .groupBy("wend")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ud.distinct()
      .select(explode(sequence(col("day"), col("day") + 6)).as("wend"),
        col("user_id"))
      .distinct()
      .groupBy("wend").agg(count(lit(1)).as("wau_exact"))
    exact.join(rolled, "wend")
      .join(broadcast(bounds),
        col("wend") >= col("d0") + 6 && col("wend") <= col("d1"))
      .select(col("wend").as("day"), col("wau_exact"),
        (abs(col("est") - col("wau_exact")) <=
          col("wau_exact") * 0.05).as("approx_within_5pct"))
      .orderBy("day")
  }

  /** q262: rolling QUANTILES from mergeable daily HISTOGRAMS — q257's
    * sketch-along-time idea applied to order statistics. Exact rolling
    * quantiles don't decompose from daily aggregates (the k-th value of
    * a union isn't a function of per-day k-th values), and re-scanning
    * the corpus per window family is the q234 cost problem all over —
    * so the pipeline keeps ONE mergeable sketch per (type, day): a
    * fixed-width integer histogram (unit bins over the clamped [0, 511]
    * value domain). Histogram union is vector addition, so any trailing
    * window is a grouped SUM over the tiny daily-histogram frame
    * (constant 7× fan-out of histogram ROWS, never events), and the
    * histogram quantile — smallest bin whose cumulative count reaches
    * ⌈q·n⌉ — is one cumulative window over ≤512 bins per group. The
    * error contract is the bin width (≤1.0 here) and, because both
    * engines run the identical integer arithmetic (⌈q·n⌉ spelled as
    * cum·100 ≥ n·99 etc. — no doubles anywhere), the gate hash-checks
    * EXACTLY, unlike interpolating t-digest/KLL implementations whose
    * estimates differ per engine. At 100 TB: corpus touched once per
    * day; every window/percentile after that is arithmetic on
    * |days|×|types|×≤512 rows. */
  private def q262(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = Tables.events(s, dir)
      .select(col("event_type"),
        (unix_micros(col("ts")) / lit(86400000000L)).cast("long").as("day"),
        greatest(least(floor(col("value")), lit(511)), lit(0))
          .cast("long").as("bin"))
      .groupBy("event_type", "day", "bin").agg(count(lit(1)).as("cnt"))
    val bounds = daily.agg(min("day").as("d0"), max("day").as("d1"))
    val merged = daily
      .select(col("event_type"),
        explode(sequence(col("day"), col("day") + 6)).as("wend"),
        col("bin"), col("cnt"))
      .groupBy("event_type", "wend", "bin").agg(sum("cnt").as("cnt"))
    val wCum = Window.partitionBy("event_type", "wend").orderBy("bin")
    val wAll = Window.partitionBy("event_type", "wend")
    merged
      .withColumn("cum", sum("cnt").over(wCum))
      .withColumn("n", sum("cnt").over(wAll))
      .groupBy("event_type", "wend")
      .agg(max("n").as("n"),
        min(when(col("cum") * 2 >= col("n"), col("bin"))).as("p50"),
        min(when(col("cum") * 10 >= col("n") * 9, col("bin"))).as("p90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("bin"))).as("p99"))
      .join(broadcast(bounds),
        col("wend") >= col("d0") + 6 && col("wend") <= col("d1"))
      .select(col("event_type"), col("wend").as("day"), col("n"),
        col("p50"), col("p90"), col("p99"))
      .orderBy("event_type", "day")
  }

  override def queries: Seq[Q] = Seq(
    Q("q262_quantile_rollup", q262, Some(
      """WITH e AS (SELECT event_type,
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
        |    CAST(greatest(least(floor(value), 511), 0) AS BIGINT) AS bin
        |  FROM events),
        |daily AS (SELECT event_type, day, bin, count(*) AS cnt
        |  FROM e GROUP BY 1, 2, 3),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily),
        |m AS (SELECT event_type, day + g.i AS wend, bin, sum(cnt) AS cnt
        |  FROM daily CROSS JOIN (SELECT unnest(range(0, 7)) AS i) g
        |  GROUP BY 1, 2, 3),
        |c AS (SELECT event_type, wend, bin,
        |    sum(cnt) OVER (PARTITION BY event_type, wend ORDER BY bin)
        |      AS cum,
        |    sum(cnt) OVER (PARTITION BY event_type, wend) AS n
        |  FROM m)
        |SELECT event_type, wend AS day, CAST(max(n) AS BIGINT) AS n,
        |  min(CASE WHEN cum * 2 >= n THEN bin END) AS p50,
        |  min(CASE WHEN cum * 10 >= n * 9 THEN bin END) AS p90,
        |  min(CASE WHEN cum * 100 >= n * 99 THEN bin END) AS p99
        |FROM c, b WHERE wend >= b.d0 + 6 AND wend <= b.d1
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q257_sketch_rollup", q257, Some(
      """WITH ud AS (SELECT DISTINCT
        |    CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day, user_id
        |  FROM events),
        |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
        |wau AS (SELECT w.day, count(*) AS wau_exact FROM (
        |    SELECT DISTINCT ud.day + g.i AS day, user_id
        |    FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) g) w
        |  GROUP BY 1)
        |SELECT wau.day, wau_exact, true AS approx_within_5pct
        |FROM wau, b WHERE wau.day >= b.d0 + 6 AND wau.day <= b.d1
        |ORDER BY 1""".stripMargin)),
    Q("q255_percentile_within_group", q255, Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.25), 6) AS p25_cont,
        |  quantile_disc(l_quantity, 0.25) AS p25_disc,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90_cont,
        |  quantile_disc(l_quantity, 0.9) AS p90_disc
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q243_topk_aggregator", q243, Some(
      """WITH r AS (SELECT o_custkey,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
        |    o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |               o_orderkey) AS rnk
        |  FROM orders)
        |SELECT o_custkey, rnk, o_orderkey,
        |  round(cents / 100.0, 2) AS price
        |FROM r WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin)),
    Q("q236_listagg", q236, Some(
      """WITH pc AS (SELECT o_orderstatus AS status,
        |    o_orderpriority AS priority, count(*) AS n
        |  FROM orders GROUP BY 1, 2),
        |codes AS (SELECT status, string_agg(c, '' ORDER BY c)
        |    AS priority_codes
        |  FROM (SELECT DISTINCT status, substring(priority, 1, 1) AS c
        |        FROM pc) GROUP BY status),
        |lists AS (SELECT status,
        |    string_agg(priority, '|' ORDER BY n DESC, priority)
        |      AS priorities_by_freq
        |  FROM pc GROUP BY status)
        |SELECT lists.status, priorities_by_freq, priority_codes
        |FROM lists JOIN codes USING (status) ORDER BY status""".stripMargin)),
    Q("q237_mode_median", q237, Some(
      """WITH cells AS (SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2),
        |scells AS (SELECT l_returnflag, l_linestatus, count(*) AS c
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l.l_returnflag,
        |  round(median(l.l_quantity), 6) AS med_qty,
        |  (SELECT min(l_quantity) FROM cells
        |   WHERE cells.l_returnflag = l.l_returnflag
        |     AND c = (SELECT max(c) FROM cells c2
        |              WHERE c2.l_returnflag = l.l_returnflag)) AS mode_qty,
        |  (SELECT min(l_linestatus) FROM scells
        |   WHERE scells.l_returnflag = l.l_returnflag
        |     AND c = (SELECT max(c) FROM scells c2
        |              WHERE c2.l_returnflag = l.l_returnflag)) AS mode_status,
        |  count(*) AS n
        |FROM lineitem l GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q230_hll_set_algebra", q230, Some(
      """SELECT
        |  count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
        |    AS n_a,
        |  count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        |    AS n_b,
        |  count(DISTINCT user_id) AS n_union,
        |  count(DISTINCT CASE WHEN event_type = 'click' THEN user_id END)
        |    + count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        |    - count(DISTINCT user_id) AS n_inter,
        |  TRUE AS legs_ok, TRUE AS inter_ok
        |FROM events WHERE event_type IN ('click', 'view')""".stripMargin)),
    Q("q67_ranking_functions", q67, Some(
      """SELECT o_orderkey, o_orderpriority, rnk, drnk, decile, prank, cdist
        |FROM (
        |  SELECT o_orderkey, o_orderpriority,
        |    rank() OVER w AS rnk,
        |    dense_rank() OVER w AS drnk,
        |    ntile(10) OVER w AS decile,
        |    round(percent_rank() OVER w, 6) AS prank,
        |    round(cume_dist() OVER w, 6) AS cdist
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey)
        |) WHERE rnk <= 100 ORDER BY o_orderpriority, rnk""".stripMargin)),
    Q("q54_salted_agg", q54, Some(
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    // q179 shares q38's oracle: the SQL-registered UDAF must agree with
    // the typed Aggregator exactly.
    Q("q179_sql_udaf", q179, Some(
      """SELECT l_returnflag,
        |  round((CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) / count(*), 6) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q178_sorted_groups_gap", q178, Some(
      """WITH g AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
        |  FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  coalesce(max(gap), -1) AS max_gap_us
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q174_cogroup_reconcile", q174, Some(
      """WITH o AS (SELECT o_custkey AS k, count(*) AS n_orders,
        |             min(o_orderdate) AS first_d
        |           FROM orders GROUP BY 1),
        |e AS (SELECT user_id AS k, count(*) AS n_events
        |      FROM events GROUP BY 1)
        |SELECT coalesce(o.k, e.k) AS cust_key,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(n_events, 0) AS n_events,
        |  coalesce(strftime(first_d, '%Y-%m-%d'), '-') AS first_order_d,
        |  CASE WHEN o.k IS NOT NULL AND e.k IS NOT NULL THEN 'both'
        |       WHEN o.k IS NOT NULL THEN 'orders_only'
        |       ELSE 'events_only' END AS status
        |FROM o FULL OUTER JOIN e ON o.k = e.k
        |ORDER BY cust_key""".stripMargin)),
    Q("q38_typed_aggregator", q38, Some(
      """SELECT l_returnflag,
        |  round((CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)) / count(*), 6) AS avg_qty
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Self-verifying: oracle pins the exact median and the rank-accuracy
    // contract (see q57 scaladoc).
    Q("q57_approx_percentile_bound", q57, Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
        |  CAST(0.01 AS DOUBLE) AS rank_eps, true AS within_bound
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q39_percentiles", q39, Some(
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // Self-verifying: oracle pins the exact top-10 and the CMS
    // one-sided error contract (see q105 scaladoc).
    Q("q105_cms_heavy_hitters", q105, Some(
      """SELECT tok, count(*) AS exact_n, true AS cms_ok
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |GROUP BY tok ORDER BY exact_n DESC, tok LIMIT 10""".stripMargin)),
    Q("q49_range_window", q49, Some(
      """SELECT o_orderkey, o_custkey,
        |  count(*) OVER (PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate) // 1000000
        |    RANGE BETWEEN 2592000 PRECEDING AND 2592000 FOLLOWING) - 1 AS n_nearby
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
    Q("q170_type_entropy", q170, Some(
      """WITH c AS (SELECT user_id, event_type, count(*) AS cnt
        |           FROM events GROUP BY 1, 2),
        |t AS (SELECT user_id, event_type, cnt,
        |        sum(cnt) OVER (PARTITION BY user_id) AS tot FROM c),
        |terms AS (SELECT user_id,
        |            round(-(cnt / CAST(tot AS DOUBLE)) *
        |              ln(cnt / CAST(tot AS DOUBLE)), 12) AS h_term,
        |            cnt * cnt AS c2, tot
        |          FROM t)
        |SELECT user_id, count(*) AS n_types,
        |  round(sum(h_term) + 0.0, 6) AS entropy,
        |  round(1.0 - CAST(sum(c2) AS DOUBLE) /
        |    (CAST(max(tot) AS DOUBLE) * CAST(max(tot) AS DOUBLE)), 6) AS gini
        |FROM terms GROUP BY user_id ORDER BY user_id""".stripMargin)),
    Q("q160_bit_aggs", q160, Some(
      """SELECT l_returnflag,
        |  bit_and(l_orderkey & 255) AS band,
        |  bit_or(l_orderkey & 255) AS bor,
        |  bit_xor(xor(l_orderkey & 255, l_linenumber << 2)) AS bxor_check,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q151_hll_sketch", q151, Some(
      """SELECT l_returnflag, exact_distinct, true AS est_ok FROM (
        |  SELECT l_returnflag,
        |    count(DISTINCT l_partkey) AS exact_distinct
        |  FROM lineitem GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', count(DISTINCT l_partkey) FROM lineitem)
        |ORDER BY l_returnflag""".stripMargin)),
    Q("q149_decimal_exact", q149, Some(
      """SELECT l_returnflag,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)))
        |    AS DECIMAL(38,2)) AS VARCHAR) AS revenue_exact,
        |  CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    CAST(1 - l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4))
        |    AS VARCHAR) AS disc_revenue_exact,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q141_argminmax", q141, Some(
      """SELECT user_id,
        |  arg_min(event_type, event_id) AS first_type,
        |  arg_max(event_type, event_id) AS last_type,
        |  arg_max(value, event_id) AS last_value,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
