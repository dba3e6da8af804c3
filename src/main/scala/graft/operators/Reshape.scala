package graft.operators

import graft.{CallScope, Q, QueryPack}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reshaping + statistical moments: pivot (long→wide), unpivot
  * (wide→long), and exact second-moment statistics (stddev, correlation)
  * computed from decimal power sums so results are independent of
  * aggregation order — the same trick that makes plain sums
  * oracle-exact (see Relational).
  */
object Reshape extends QueryPack {

  import graft.functions.Exact.dec

  /** q55: pivot — monthly counts fanned into one column per event type.
    * Values are enumerated explicitly: at scale this avoids the extra
    * distinct-scan job and keeps the output schema stable. */
  private def q55(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(date_format(col("ts"), "yyyy-MM").as("month"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("month")

  /** q56: unpivot (melt) — wide order attributes into (metric, value). */
  private def q56(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_totalprice"),
        col("o_custkey").cast("double").as("o_custkey_d"))
      .unpivot(Array(col("o_orderkey")),
        Array(col("o_totalprice"), col("o_custkey_d")),
        "metric", "value")
      .orderBy("o_orderkey", "metric")

  /** q58: exact moments — mean, sample stddev, and corr(quantity, price)
    * per return flag from DECIMAL power sums (Σx, Σx², Σxy exact), final
    * formula evaluated in double with an identical expression tree to the
    * oracle. Built-in stddev/corr use streaming float accumulators whose
    * results depend on partition order — unusable for hash-compare. */
  private def q58(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(dec(x)).cast("double").as("sx"),
        sum(dec(x) * dec(x)).cast("double").as("sxx"),
        sum(dec(y)).cast("double").as("sy"),
        sum(dec(y) * dec(y)).cast("double").as("syy"),
        sum(dec(x) * dec(y)).cast("double").as("sxy"))
      .select(col("l_returnflag"),
        col("n"),
        round(col("sx") / col("n"), 6).as("mean_qty"),
        round(sqrt((col("n") * col("sxx") - col("sx") * col("sx")) /
          (col("n") * (col("n") - 1))), 6).as("std_qty"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy"))), 6).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** q147: `unionByName(allowMissingColumns = true)` — schema-drift
    * union IN MEMORY (the read-side twin is q132's mergeSchema): a lean
    * historical projection and a wide current projection combine by
    * column NAME, with the missing column null-filled. Position-based
    * union would silently misalign here; the gate pins the name-based
    * semantics and the null accounting per population. */
  private def q147(s: SparkSession, dir: String): DataFrame = {
    val ord = Tables.orders(s, dir)
    val old = ord.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    val neu = ord.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderpriority"), col("o_totalprice"),
        col("o_orderkey")) // deliberately different column ORDER
    old.unionByName(neu, allowMissingColumns = true)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_priced"),
        round(sum(dec(col("o_totalprice"))).cast("double"), 2)
          .as("priced_total"))
      .orderBy("o_orderpriority")
  }

  /** q161: per-group ordinary least squares (y = extendedprice on
    * x = quantity) from exact DECIMAL power sums — slope, intercept,
    * and r² in the closed forms that need only (n, Σx, Σy, Σx², Σxy,
    * Σy²). One aggregation over the scan computes all five sums
    * map-side-partially; the regression arithmetic happens on five
    * exact decimals per group, so both engines evaluate the identical
    * expression tree on identical operands (the q58 moments
    * discipline — a builtin regr_slope's double accumulation would be
    * summation-order-dependent). */
  private def q161(s: SparkSession, dir: String): DataFrame = {
    val x = dec(col("l_quantity"))
    val y = dec(col("l_extendedprice"))
    // n·Σx² − (Σx)² and the y twin — the denominators every closed form
    // below divides by
    val dxCol = col("n") * col("sxx") - col("sx") * col("sx")
    val dyCol = col("n") * col("syy") - col("sy") * col("sy")
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(x).cast("double").as("sx"), sum(y).cast("double").as("sy"),
        sum(x * x).cast("double").as("sxx"),
        sum(x * y).cast("double").as("sxy"),
        sum(y * y).cast("double").as("syy"))
      .select(col("l_returnflag"), col("n").cast("long").as("n"),
        // degenerate groups (zero x- or y-variance: constant or single
        // observation) pin slope/intercept/r² to NULL explicitly on both
        // engines rather than relying on engine-specific x/0 behavior
        // (ADVICE r6 — same latent shape as q142's sigma guard)
        when(dxCol > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")) / dxCol, 6))
          .as("slope"),
        when(dxCol > 0,
          round((col("sy") * col("sxx") - col("sx") * col("sxy")) / dxCol, 6))
          .as("intercept"),
        // both variances strictly positive (not just a positive product,
        // which FP cancellation could satisfy with two negatives — ADVICE r7)
        when(dxCol > 0 && dyCol > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy")) /
            (dxCol * dyCol), 6))
          .as("r2"))
      .orderBy("l_returnflag")
  }

  /** q211: winsorized robust statistics — per-segment p05/p95 clamp of
    * account balances and the winsorized mean, the outlier-robust
    * location estimate a data-quality audit reports next to the raw
    * mean. The percentile bounds are EXACT and engine-neutral: instead
    * of an interpolating double `percentile` (whose ulp behavior differs
    * across engines at round boundaries), the R-7 definition is evaluated
    * in pure integer arithmetic on cents — pos = (n−1)·p lands between
    * order statistics v_k and v_{k+1}, and bound·100 =
    * v_k·(100−r) + v_{k+1}·r with r = (n−1)·5p mod 100, all int64. The
    * order statistics come from a VALUE-COUNT frame + cumulative sum,
    * never a row-level sort: the shuffle is one groupBy(segment, cents),
    * and the window runs over per-segment DISTINCT values (bounded by
    * the value domain, not row count — at extreme scale you'd pre-bucket
    * the domain, same shape). Clamping and the winsorized sum then
    * happen on the value-count cells (cnt·clamped, exact int64 — cents
    * ×100 ≤ 1e8 so even 2^43 rows/cell fit), one broadcast join of the
    * 5-row bounds frame. */
  private def q211(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    // persist(): the value-count frame is referenced three times below
    // (two order-statistic passes + the clamp join); without the cache
    // each reference re-runs the corpus scan AND the groupBy shuffle.
    // The frame is value-domain-sized and released after the collect.
    val vc = Tables.customer(s, dir)
      .select(col("c_mktsegment").as("grp"),
        round(col("c_acctbal") * 100).cast("long").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      .persist()
    cs.defer(vc.unpersist(false))
    // both bounds through the shared integer R-7 order-statistic helper
    // (q217 factored it out of this query's original inline form); the
    // extra window pass over the CACHED value-count frame costs nothing
    val bounds = orderStat100(vc, 5)
      .select(col("grp"), col("n"), col("stat100").as("b05"))
      .join(orderStat100(vc, 95)
        .select(col("grp"), col("stat100").as("b95")), "grp")
    val clamped = greatest(least(col("v") * 100, col("b95")), col("b05"))
    vc.join(broadcast(bounds), "grp")
      .groupBy("grp")
      .agg(max("n").as("n"),
        round(max("b05") / 10000.0, 4).as("p05"),
        round(max("b95") / 10000.0, 4).as("p95"),
        round(sum(clamped.cast("decimal(18,0)") * col("cnt"))
          .cast("double") / max("n") / 10000.0, 4).as("wmean"),
        sum(when(col("v") * 100 < col("b05"), col("cnt"))
          .otherwise(0L)).as("n_low"),
        sum(when(col("v") * 100 > col("b95"), col("cnt"))
          .otherwise(0L)).as("n_high"))
      .withColumnRenamed("grp", "c_mktsegment")
      .orderBy("c_mktsegment")
  }

  /** q212: Spearman rank correlation (average-rank / tie-corrected) of
    * quantity vs discount per return flag — the monotone-association
    * diagnostic that, unlike q58's Pearson, is robust to the metric of
    * either variable. Scale shape: ranks are NEVER computed with a
    * row-level window (a per-flag global sort would put each flag's
    * entire partition on one reducer) — both variables are
    * low-cardinality, so a (flag, qty, discount) CONTINGENCY table
    * (≤ 3·50·11 cells at any data size, one shuffle over the scan)
    * carries all counts, average ranks come from cumulative sums over
    * the per-flag DISTINCT values, and the Pearson-on-ranks moments are
    * cell-weighted sums on that tiny frame. Exactness: doubled average
    * ranks (2·avgrank = 2·cum − cnt + 1) are int64, every power sum
    * accumulates in DECIMAL (order-independent), and both engines
    * evaluate the identical double expression tree on those identical
    * operands (the q58/q161 discipline). */
  private def q212(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("flag"),
        col("l_quantity").cast("long").as("q"),
        round(col("l_discount") * 100).cast("long").as("d"))
      .groupBy("flag", "q", "d").agg(count(lit(1)).as("cnt"))
    def rank2(frame: DataFrame, v: String, out: String): DataFrame = {
      val w = Window.partitionBy("flag").orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      frame.withColumn("cum", sum("nv").over(w))
        .select(col("flag"), col(v),
          (lit(2) * col("cum") - col("nv") + 1).as(out))
    }
    val rx = rank2(cells.groupBy("flag", "q").agg(sum("cnt").as("nv")), "q", "rx2")
    val ry = rank2(cells.groupBy("flag", "d").agg(sum("cnt").as("nv")), "d", "ry2")
    // widths chosen so cnt·rank·rank stays EXACT DECIMAL on both engines
    // (DuckDB promotes to double past width 38: 12+13+13 = 38 exactly;
    // Spark caps its 40 at 38 with no value loss below 1e38): counts to
    // 1e12 per cell and doubled ranks to 1e13 — i.e. ~5e12 rows per
    // group — before anything saturates, comfortably past a 100 TB
    // lineitem's ~6e11 rows/flag (decimal(12,0) ranks nulled/errored at
    // 5e11 — review r11)
    def dc(c: Column) = c.cast("decimal(12,0)")
    def dr(c: Column) = c.cast("decimal(13,0)")
    val m = cells
      .join(broadcast(rx), Seq("flag", "q"))
      .join(broadcast(ry), Seq("flag", "d"))
      .groupBy("flag")
      .agg(sum("cnt").as("n"),
        sum(dc(col("cnt")) * dr(col("rx2"))).cast("double").as("sx"),
        sum(dc(col("cnt")) * dr(col("ry2"))).cast("double").as("sy"),
        sum(dc(col("cnt")) * dr(col("rx2")) * dr(col("rx2")))
          .cast("double").as("sxx"),
        sum(dc(col("cnt")) * dr(col("ry2")) * dr(col("ry2")))
          .cast("double").as("syy"),
        sum(dc(col("cnt")) * dr(col("rx2")) * dr(col("ry2")))
          .cast("double").as("sxy"))
    val dx = col("n") * col("sxx") - col("sx") * col("sx")
    val dy = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("flag").as("l_returnflag"), col("n"),
        when(dx > 0 && dy > 0,
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt(dx * dy), 6)).as("spearman"))
      .orderBy("l_returnflag")
  }

  /** One exact R-7 order statistic per group from a VALUE-COUNT frame,
    * in pure integer arithmetic: returns (grp, n, stat100) where
    * stat100 = 100·the p-th percentile — v_k·(100−r) + v_{k+1}·r with
    * k = ⌊(n−1)p⌋, r = (n−1)·p5 mod 100. The q211 machinery factored
    * for reuse (q217 applies it twice). `vc` must have integer columns
    * (grp, v, cnt). */
  private def orderStat100(vc: DataFrame, p5: Int): DataFrame = {
    val wOrd = Window.partitionBy("grp").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("grp")
    vc.withColumn("cum", sum("cnt").over(wOrd))
      .withColumn("ntot", sum("cnt").over(wAll))
      .withColumn("k", expr(s"((ntot - 1) * $p5) DIV 100"))
      .withColumn("r", pmod((col("ntot") - 1) * p5, lit(100)))
      .groupBy("grp")
      .agg(max("ntot").as("n"),
        min(when(col("cum") >= col("k") + 1, col("v"))).as("va"),
        min(when(col("cum") >= col("k") + 2, col("v"))).as("vb"),
        max("r").as("r"))
      .select(col("grp"), col("n"),
        (col("va") * (lit(100) - col("r")) +
          coalesce(col("vb"), col("va")) * col("r")).as("stat100"))
  }

  /** q217: median absolute deviation — the robust spread estimate
    * (breakdown point 50%, vs 0% for q58's stddev) a curation audit
    * pairs with q211's winsorized mean. Two exact medians, both through
    * [[orderStat100]]'s integer R-7 interpolation on value-count frames:
    * the per-flag quantity median, then the median of
    * |100·v − median100| — deviations stay exact integers because the
    * first median is carried at ×100. No row ever sorts: both rounds
    * shuffle value COUNTS (≤ 50 cells per flag, deviations ≤ 100 cells),
    * and the median frames re-enter as broadcasts. The same shape holds
    * at any scale — MAD's cost is the cost of the two value-count
    * aggregations. */
  private def q217(s: SparkSession, dir: String): DataFrame = CallScope.local(s) { cs =>
    // persist(): vc feeds the median pass, the deviation build, and
    // (through med) the final join — uncached, each reference re-runs
    // the lineitem scan + shuffle (review r11); cached, the corpus is
    // touched exactly once, and released after the collect
    val vc = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"),
        col("l_quantity").cast("long").as("v"))
      .groupBy("grp", "v").agg(count(lit(1)).as("cnt"))
      .persist()
    cs.defer(vc.unpersist(false))
    val med = orderStat100(vc, 50)
      .select(col("grp"), col("n"), col("stat100").as("med100"))
    val devVc = vc.join(broadcast(med), "grp")
      .select(col("grp"),
        abs(col("v") * 100 - col("med100")).as("v"), col("cnt"))
      .groupBy("grp", "v").agg(sum("cnt").as("cnt"))
    val mad = orderStat100(devVc, 50)
      .select(col("grp"), col("stat100").as("mad10000"))
    med.join(mad, "grp")
      .select(col("grp").as("l_returnflag"), col("n"),
        round(col("med100") / 100.0, 4).as("median_qty"),
        round(col("mad10000") / 10000.0, 4).as("mad_qty"))
      .orderBy("l_returnflag")
  }

  /** q221: chi-square test of independence — is event_type independent
    * of the user segment (user_id mod 4)? The categorical-association
    * audit that complements q220/q204's distribution-drift tests:
    * χ² = Σ_cells (obs − exp)²/exp with exp = row·col/N, plus Cramér's
    * V = √(χ²/(N·min(r−1, c−1))) as the scale-free effect size.
    *
    * Scale shape (100 TB): ONE map-side-combined count shuffle produces
    * the r×c contingency CELL frame (20 rows here — bounded by the
    * category vocabularies, never the data); row/col marginals re-enter
    * as broadcasts, N as a 1-row cross join. Determinism: all counts are
    * exact integers; exp is one double division of identical operands;
    * cell terms round to 12 before the ≤ r·c-term sum rounds to 6 (the
    * q204/q153 fixed-point discipline — summation-order drift ≪ 1e-6). */
  private def q221(s: SparkSession, dir: String): DataFrame = {
    val obs = Tables.events(s, dir)
      .select(col("event_type"), pmod(col("user_id"), lit(4)).as("seg"))
      .groupBy("event_type", "seg").agg(count(lit(1)).as("cnt"))
    val rowTot = obs.groupBy("event_type").agg(sum("cnt").as("row_n"))
    val colTot = obs.groupBy("seg").agg(sum("cnt").as("col_n"))
    val tot = obs.agg(sum("cnt").as("n"))
    obs.join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "seg")
      .crossJoin(broadcast(tot))
      .withColumn("exp",
        col("row_n").cast("double") * col("col_n") / col("n"))
      .withColumn("term",
        round(pow(col("cnt") - col("exp"), 2) / col("exp"), 12))
      .agg(max("n").as("n"),
        ((countDistinct("event_type") - 1) *
          (countDistinct("seg") - 1)).as("dof"),
        round(sum("term"), 6).as("chi2"),
        round(sqrt(sum("term") / (max("n") *
          least(countDistinct("event_type") - 1,
            countDistinct("seg") - 1))), 6).as("cramers_v"))
  }

  /** q227: two-sample Mann–Whitney U test (Wilcoxon rank-sum) — does
    * `value` for 'click' events come from a stochastically larger
    * distribution than for 'view' events? The nonparametric companion to
    * q220's KS: KS asks "any distributional difference", U asks the
    * directional location question a metrics review actually poses, with
    * no normality assumption (vs a t-test on q58's moments).
    *
    * Scale shape: everything runs on the VALUE-COUNT cell frame (the
    * q211/q212/q220 discipline) — one map-side-combined count shuffle to
    * cells keyed by value cents, then average ranks via a cumulative-sum
    * window over the support-sized frame (bounded by distinct cents, not
    * rows), then one single-row aggregate. No row-level rank window ever
    * runs. Tie handling is the textbook average-rank + variance
    * correction: 2·avgrank = 2·cum − t + 1 stays integer, so the rank
    * sum 2R₁ = Σ n₁·(2·avgrank) and the tie term Σ(t³−t) are EXACT
    * DECIMALS on both engines (n₁ to 1e12 per cell × doubled ranks to
    * 1e13, the q212 widths); doubles appear only in the final z. */
  private def q227(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select((col("event_type") === "click").as("is1"),
        round(col("value") * 100).cast("long").as("vc"))
      .groupBy("vc")
      .agg(sum(when(col("is1"), 1L).otherwise(0L)).as("n1c"),
        sum(when(!col("is1"), 1L).otherwise(0L)).as("n2c"))
    val wCum = Window.orderBy("vc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d12(c: Column) = c.cast("decimal(12,0)")
    def d13(c: Column) = c.cast("decimal(13,0)")
    val t = col("n1c") + col("n2c")
    val m = cells
      .withColumn("cum", sum(t).over(wCum))
      // 2·(average rank of the t tied rows at this value)
      .withColumn("r2", lit(2) * col("cum") - t + 1)
      .agg(sum("n1c").as("n1"), sum("n2c").as("n2"),
        sum(d12(col("n1c")) * d13(col("r2"))).as("r12"),
        sum(d12(t) * d12(t) * d12(t) - d12(t)).as("ties"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val n = n1 + n2
    val u1 = (col("r12") - d12(col("n1")) * d12(col("n1") + 1))
      .cast("double") / 2.0
    val sigma = sqrt(n1 * n2 / 12.0 *
      ((n + 1) - col("ties").cast("double") / (n * (n - 1))))
    val z = (u1 - n1 * n2 / 2.0) / sigma
    m.select(col("n1"), col("n2"), u1.as("u1"), round(z, 6).as("z"),
      (abs(z) > 1.959964).as("significant"))
  }

  /** q242: Welch's unequal-variance t-test — the parametric companion to
    * the nonparametric drift suite (q220 KS, q221 chi-square, q227
    * Mann–Whitney): does mean click value differ from mean view value,
    * per user cohort (user_id mod 4)? One scan, one (cohort)-keyed
    * aggregation carrying exact DECIMAL power sums (n, Σx, Σx² at
    * scale-2/scale-4 — associative, partial-aggregable, engine-exact);
    * means, variances, t and the Welch–Satterthwaite df drop to double
    * only in the final projection, where both engines evaluate the
    * IDENTICAL expression over identical decimal inputs (q58/q161
    * discipline). No window, no sort, no second pass — this is the
    * test you can afford per-segment across a 100 TB fact table. */
  private def q242(s: SparkSession, dir: String): DataFrame = {
    def pow(t: String, suffix: String) = Seq(
      sum(when(col("event_type") === t, lit(1L)).otherwise(lit(0L)))
        .as(s"n$suffix"),
      sum(when(col("event_type") === t,
        col("value").cast("decimal(18,2)")).otherwise(lit(null)))
        .as(s"s$suffix"),
      sum(when(col("event_type") === t,
        (col("value").cast("decimal(18,2)") *
          col("value").cast("decimal(18,2)")).cast("decimal(38,4)"))
        .otherwise(lit(null))).as(s"ss$suffix"))
    val sums = pow("click", "1") ++ pow("view", "2")
    val agg = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .groupBy(pmod(col("user_id"), lit(4)).as("cohort"))
      .agg(sums.head, sums.tail: _*)
    def m(i: Int) = col(s"s$i").cast("double") / col(s"n$i")
    def v(i: Int) = (col(s"ss$i").cast("double") -
      col(s"n$i") * m(i) * m(i)) / (col(s"n$i") - 1)
    val se1 = v(1) / col("n1")
    val se2 = v(2) / col("n2")
    val t = (m(1) - m(2)) / sqrt(se1 + se2)
    val df = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (col("n1") - 1) + se2 * se2 / (col("n2") - 1))
    agg.select(col("cohort"), col("n1"), col("n2"),
        round(m(1), 6).as("mean1"), round(m(2), 6).as("mean2"),
        round(t, 6).as("t_stat"), round(df, 3).as("df"),
        (abs(t) > 1.96).as("significant"))
      .orderBy("cohort")
  }

  override def queries: Seq[Q] = Seq(
    Q("q242_welch_ttest", q242, Some(
      """WITH a AS (SELECT user_id % 4 AS cohort,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN CAST(value AS DECIMAL(18,2)) END) AS s1,
        |    sum(CASE WHEN event_type = 'click'
        |        THEN CAST(CAST(value AS DECIMAL(18,2)) *
        |                  CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))
        |        END) AS ss1,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2,
        |    sum(CASE WHEN event_type = 'view'
        |        THEN CAST(value AS DECIMAL(18,2)) END) AS s2,
        |    sum(CASE WHEN event_type = 'view'
        |        THEN CAST(CAST(value AS DECIMAL(18,2)) *
        |                  CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))
        |        END) AS ss2
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |x AS (SELECT cohort, n1, n2,
        |    CAST(s1 AS DOUBLE) / n1 AS m1, CAST(s2 AS DOUBLE) / n2 AS m2,
        |    (CAST(ss1 AS DOUBLE) - n1 * (CAST(s1 AS DOUBLE) / n1) *
        |      (CAST(s1 AS DOUBLE) / n1)) / (n1 - 1) / n1 AS se1,
        |    (CAST(ss2 AS DOUBLE) - n2 * (CAST(s2 AS DOUBLE) / n2) *
        |      (CAST(s2 AS DOUBLE) / n2)) / (n2 - 1) / n2 AS se2
        |  FROM a)
        |SELECT cohort, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  round(m1, 6) AS mean1, round(m2, 6) AS mean2,
        |  round((m1 - m2) / sqrt(se1 + se2), 6) AS t_stat,
        |  round((se1 + se2) * (se1 + se2) /
        |    (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)), 3) AS df,
        |  abs((m1 - m2) / sqrt(se1 + se2)) > 1.96 AS significant
        |FROM x ORDER BY cohort""".stripMargin)),
    Q("q227_mann_whitney", q227, Some(
      """WITH c AS (SELECT CAST(round(value * 100) AS BIGINT) AS vc,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n1c,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n2c
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1),
        |r AS (SELECT n1c, n2c,
        |    2 * sum(n1c + n2c) OVER (ORDER BY vc
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - (n1c + n2c) + 1 AS r2
        |  FROM c),
        |m AS (SELECT CAST(sum(n1c) AS BIGINT) AS n1,
        |    CAST(sum(n2c) AS BIGINT) AS n2,
        |    sum(CAST(n1c AS DECIMAL(12,0)) * CAST(r2 AS DECIMAL(13,0)))
        |      AS r12,
        |    sum(CAST(n1c + n2c AS DECIMAL(12,0))
        |      * CAST(n1c + n2c AS DECIMAL(12,0))
        |      * CAST(n1c + n2c AS DECIMAL(12,0))
        |      - CAST(n1c + n2c AS DECIMAL(12,0))) AS ties
        |  FROM r)
        |SELECT n1, n2,
        |  CAST(r12 - CAST(n1 AS DECIMAL(12,0))
        |    * CAST(n1 + 1 AS DECIMAL(12,0)) AS DOUBLE) / 2.0 AS u1,
        |  round((CAST(r12 - CAST(n1 AS DECIMAL(12,0))
        |      * CAST(n1 + 1 AS DECIMAL(12,0)) AS DOUBLE) / 2.0
        |      - CAST(n1 AS DOUBLE) * n2 / 2.0)
        |    / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
        |      * ((CAST(n1 AS DOUBLE) + n2 + 1)
        |        - CAST(ties AS DOUBLE)
        |          / ((CAST(n1 AS DOUBLE) + n2)
        |            * (CAST(n1 AS DOUBLE) + n2 - 1)))), 6) AS z,
        |  abs((CAST(r12 - CAST(n1 AS DECIMAL(12,0))
        |      * CAST(n1 + 1 AS DECIMAL(12,0)) AS DOUBLE) / 2.0
        |      - CAST(n1 AS DOUBLE) * n2 / 2.0)
        |    / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
        |      * ((CAST(n1 AS DOUBLE) + n2 + 1)
        |        - CAST(ties AS DOUBLE)
        |          / ((CAST(n1 AS DOUBLE) + n2)
        |            * (CAST(n1 AS DOUBLE) + n2 - 1))))) > 1.959964
        |    AS significant
        |FROM m""".stripMargin)),
    Q("q221_chi2_independence", q221, Some(
      """WITH o AS (SELECT event_type, user_id % 4 AS seg, count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, sum(cnt) AS row_n FROM o GROUP BY 1),
        |c AS (SELECT seg, sum(cnt) AS col_n FROM o GROUP BY 1),
        |t AS (SELECT sum(cnt) AS n FROM o),
        |f AS (SELECT o.cnt, o.event_type, o.seg,
        |    CAST(r.row_n AS DOUBLE) * c.col_n / t.n AS exp, t.n
        |  FROM o JOIN r USING (event_type) JOIN c USING (seg) CROSS JOIN t),
        |s AS (SELECT event_type, seg, n,
        |    round((cnt - exp) * (cnt - exp) / exp, 12) AS term FROM f)
        |SELECT CAST(max(n) AS BIGINT) AS n,
        |  (count(DISTINCT event_type) - 1) * (count(DISTINCT seg) - 1) AS dof,
        |  round(sum(term), 6) AS chi2,
        |  round(sqrt(sum(term) / (max(n) *
        |    least(count(DISTINCT event_type) - 1,
        |          count(DISTINCT seg) - 1))), 6) AS cramers_v
        |FROM s""".stripMargin)),
    Q("q217_mad_robust_spread", q217, Some(
      """WITH vc AS (SELECT l_returnflag AS grp,
        |    CAST(l_quantity AS BIGINT) AS v, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |s1 AS (SELECT *,
        |    sum(cnt) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY grp) AS ntot
        |  FROM vc),
        |k1 AS (SELECT *, ((ntot - 1) * 50) // 100 AS k,
        |    ((ntot - 1) * 50) % 100 AS r FROM s1),
        |med AS (SELECT grp, CAST(max(ntot) AS BIGINT) AS n,
        |    min(v) FILTER (WHERE cum >= k + 1) * (100 - max(r)) +
        |    coalesce(min(v) FILTER (WHERE cum >= k + 2),
        |             min(v) FILTER (WHERE cum >= k + 1)) * max(r) AS med100
        |  FROM k1 GROUP BY grp),
        |dv AS (SELECT vc.grp, abs(v * 100 - med100) AS v,
        |    CAST(sum(cnt) AS BIGINT) AS cnt
        |  FROM vc JOIN med ON vc.grp = med.grp GROUP BY 1, 2),
        |s2 AS (SELECT *,
        |    sum(cnt) OVER (PARTITION BY grp ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY grp) AS ntot
        |  FROM dv),
        |k2 AS (SELECT *, ((ntot - 1) * 50) // 100 AS k,
        |    ((ntot - 1) * 50) % 100 AS r FROM s2),
        |mad AS (SELECT grp,
        |    min(v) FILTER (WHERE cum >= k + 1) * (100 - max(r)) +
        |    coalesce(min(v) FILTER (WHERE cum >= k + 2),
        |             min(v) FILTER (WHERE cum >= k + 1)) * max(r) AS mad10000
        |  FROM k2 GROUP BY grp)
        |SELECT med.grp AS l_returnflag, n,
        |  round(med100 / 100.0, 4) AS median_qty,
        |  round(mad10000 / 10000.0, 4) AS mad_qty
        |FROM med JOIN mad ON med.grp = mad.grp
        |ORDER BY 1""".stripMargin)),
    Q("q211_winsorized_stats", q211, Some(
      """WITH vc AS (SELECT c_mktsegment AS seg,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS v, count(*) AS cnt
        |  FROM customer GROUP BY 1, 2),
        |cells AS (SELECT *,
        |    sum(cnt) OVER (PARTITION BY seg ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(cnt) OVER (PARTITION BY seg) AS ntot
        |  FROM vc),
        |ks AS (SELECT *, ((ntot - 1) * 5) // 100 AS k05,
        |    ((ntot - 1) * 5) % 100 AS r05,
        |    ((ntot - 1) * 95) // 100 AS k95,
        |    ((ntot - 1) * 95) % 100 AS r95
        |  FROM cells),
        |b AS (SELECT seg, max(ntot) AS n,
        |    min(v) FILTER (WHERE cum >= k05 + 1) AS v05a,
        |    min(v) FILTER (WHERE cum >= k05 + 2) AS v05b,
        |    min(v) FILTER (WHERE cum >= k95 + 1) AS v95a,
        |    min(v) FILTER (WHERE cum >= k95 + 2) AS v95b,
        |    max(r05) AS r05, max(r95) AS r95
        |  FROM ks GROUP BY seg),
        |bounds AS (SELECT seg, n,
        |    v05a * (100 - r05) + coalesce(v05b, v05a) * r05 AS b05,
        |    v95a * (100 - r95) + coalesce(v95b, v95a) * r95 AS b95
        |  FROM b)
        |SELECT seg AS c_mktsegment, CAST(max(n) AS BIGINT) AS n,
        |  round(max(b05) / 10000.0, 4) AS p05,
        |  round(max(b95) / 10000.0, 4) AS p95,
        |  round(CAST(sum(CAST(greatest(least(v * 100, b95), b05)
        |      AS DECIMAL(18,0)) * cnt) AS DOUBLE) / max(n) / 10000.0, 4)
        |    AS wmean,
        |  CAST(sum(CASE WHEN v * 100 < b05 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_low,
        |  CAST(sum(CASE WHEN v * 100 > b95 THEN cnt ELSE 0 END) AS BIGINT)
        |    AS n_high
        |FROM vc JOIN bounds USING (seg)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q212_spearman", q212, Some(
      """WITH cells AS (SELECT l_returnflag AS flag,
        |    CAST(l_quantity AS BIGINT) AS q,
        |    CAST(round(l_discount * 100) AS BIGINT) AS d, count(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2, 3),
        |qr AS (SELECT flag, q, 2 * sum(nv) OVER (PARTITION BY flag ORDER BY q
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv + 1 AS rx2
        |  FROM (SELECT flag, q, sum(cnt) AS nv FROM cells GROUP BY 1, 2)),
        |dr AS (SELECT flag, d, 2 * sum(nv) OVER (PARTITION BY flag ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nv + 1 AS ry2
        |  FROM (SELECT flag, d, sum(cnt) AS nv FROM cells GROUP BY 1, 2)),
        |m AS (SELECT flag, sum(cnt) AS n,
        |    CAST(sum(CAST(cnt AS DECIMAL(12,0)) * CAST(rx2 AS DECIMAL(13,0)))
        |      AS DOUBLE) AS sx,
        |    CAST(sum(CAST(cnt AS DECIMAL(12,0)) * CAST(ry2 AS DECIMAL(13,0)))
        |      AS DOUBLE) AS sy,
        |    CAST(sum(CAST(cnt AS DECIMAL(12,0)) * CAST(rx2 AS DECIMAL(13,0))
        |      * CAST(rx2 AS DECIMAL(13,0))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(cnt AS DECIMAL(12,0)) * CAST(ry2 AS DECIMAL(13,0))
        |      * CAST(ry2 AS DECIMAL(13,0))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(cnt AS DECIMAL(12,0)) * CAST(rx2 AS DECIMAL(13,0))
        |      * CAST(ry2 AS DECIMAL(13,0))) AS DOUBLE) AS sxy
        |  FROM cells JOIN qr USING (flag, q) JOIN dr USING (flag, d)
        |  GROUP BY flag)
        |SELECT flag AS l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END
        |    AS spearman
        |FROM m ORDER BY 1""".stripMargin)),
    Q("q161_linear_regression", q161, Some(
      """WITH s AS (SELECT l_returnflag,
        |  CAST(count(*) AS DOUBLE) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |           CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) *
        |           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |           CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) END AS slope,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    round((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) END AS intercept,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    round((n * sxy - sx * sy) * (n * sxy - sx * sy) /
        |          ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin)),
    Q("q147_union_by_name", q147, Some(
      """WITH u AS (
        |  SELECT o_orderkey, o_orderpriority, NULL::DOUBLE AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_orderpriority, count(*) AS n_rows,
        |  count(o_totalprice) AS n_priced,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS priced_total
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q55_pivot", q55, Some(
      """SELECT strftime(ts, '%Y-%m') AS month,
        |  count(*) FILTER (WHERE event_type = 'click') AS click,
        |  count(*) FILTER (WHERE event_type = 'error') AS error,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS signup,
        |  count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q56_unpivot", q56, Some(
      """SELECT o_orderkey, 'o_totalprice' AS metric, o_totalprice AS value FROM orders
        |UNION ALL
        |SELECT o_orderkey, 'o_custkey_d', CAST(o_custkey AS DOUBLE) FROM orders
        |ORDER BY o_orderkey, metric""".stripMargin)),
    Q("q58_exact_moments", q58, Some(
      """WITH s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round(sx / n, 6) AS mean_qty,
        |  round(sqrt((n * sxx - sx * sx) / (n * (n - 1))), 6) AS std_qty,
        |  round((n * sxy - sx * sy) /
        |    (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price
        |FROM s ORDER BY l_returnflag""".stripMargin)),
  )
}
