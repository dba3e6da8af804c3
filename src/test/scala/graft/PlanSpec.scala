package graft

import scala.annotation.tailrec

import org.apache.spark.sql.ExecutedPlans
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper, ShuffleQueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
import org.apache.spark.sql.execution.window.WindowGroupLimitExec
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins: the properties that make these queries scale —
  * column-pruned scans, pushed-down predicates, broadcast dimension
  * joins, map-side partial aggregation, and top-k without a global sort.
  * A refactor that silently loses one of these still passes the
  * correctness gate but regresses 100 TB behavior; this suite catches it.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def executedPlan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** The returned frame's plan and every plan the gate's call executed
    * — the only plans of a gate that collects inside its call scope. */
  private def plansOf(name: String): Seq[SparkPlan] = {
    val (df, ran) = ExecutedPlans.during(spark)(SparkEntry.queries(name)(spark, sf))
    df.queryExecution.executedPlan +: ran
  }

  /** Every join node of `plans`, through adaptive stages and subqueries. */
  private def joins(plans: Seq[SparkPlan]): Seq[BaseJoinExec] =
    plans.flatMap(AdaptiveNodes.collectWithSubqueries(_) { case j: BaseJoinExec => j })

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  test("q02 aggregation is partial (map-side combine before the shuffle)") {
    assert(executedPlan("q02_grouped_sum").contains("partial_sum"))
  }

  test("q02 scan is column-pruned to the two referenced columns") {
    val f = formatted("q02_grouped_sum")
    assert(f.contains("struct<l_quantity:double,l_returnflag:string>"))
  }

  test("q11 pushes the shipdate predicate into the parquet scan") {
    val f = formatted("q11_pricing_summary")
    assert(f.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q12/q13 dimension joins broadcast (no fact-side shuffle)") {
    assert(executedPlan("q12_join_segment_revenue").contains("BroadcastHashJoin"))
    assert(executedPlan("q13_star_join_region").contains("BroadcastHashJoin"))
  }

  test("q20 global top-k plans as TakeOrderedAndProject, not a full sort") {
    assert(executedPlan("q20_global_topk").contains("TakeOrderedAndProject"))
  }

  test("q121 weighted-sample selection plans as TakeOrderedAndProject") {
    // the sample draw must be per-partition heaps + merge; a global sort
    // under the rank window would be the 100 TB anti-pattern
    assert(executedPlan("q121_weighted_sample").contains("TakeOrderedAndProject"))
  }

  test("whole-stage codegen covers the scan→aggregate pipeline") {
    // AQE shows the final (codegen-wrapped) plan only after execution
    val df = SparkEntry.queries("q02_grouped_sum")(spark, sf)
    df.collect()
    // "*(n)" prefixes mark WholeStageCodegen stages in simpleString
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }

  test("q45 cosine path uses the native DotProduct expression") {
    val p = SparkEntry.queries("q45_embedding_neardup")(spark, sf)
      .queryExecution.analyzed.toString
    assert(p.contains("graft_dot") || p.contains("dotproduct"),
      "expected the registered graft_dot expression in the plan")
  }

  test("no scalar ScalaUDF anywhere in the dedup/LSH plans") {
    // Fan-out stages must stay typed flatMap, never UDF+posexplode:
    // InferFiltersFromGenerate clones a UDF generator into an inferred
    // interpreted filter and re-runs it per row (the dominant cost of
    // q42/q43/q48 before the r3 rewrite). Zero UDFs in the plan means
    // zero re-evaluation surface.
    for (q <- Seq("q42_minhash_lsh", "q43_simhash", "q44_ngram_jaccard",
        "q48_ann_lsh", "q66_dedup_groups", "q73_multisignal_dedup")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.optimizedPlan
      val udfs = p.flatMap(_.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      }))
      assert(udfs.isEmpty, s"$q plan contains ScalaUDF: $udfs")
    }
  }

  test("q73 embedding leg plans without a cartesian product") {
    val df = SparkEntry.queries("q73_multisignal_dedup")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"q73 must use the tiled equi-join, not an all-pairs join:\n$plan")
  }

  test("q92 postings buffer is bounded (rank-then-aggregate, never a bare collect_list)") {
    // A bare collect_list materializes a hot gram's ENTIRE postings list
    // in one aggregation buffer — the classic 100 TB skew bomb. The
    // bounded form ranks first and collects only `when(rn <= 20, ...)`,
    // so every CollectList in the plan must sit behind the rank guard.
    val p = SparkEntry.queries("q92_inverted_index")(spark, sf)
      .queryExecution.optimizedPlan
    val lists = p.flatMap(_.expressions.flatMap(_.collect {
      case c: org.apache.spark.sql.catalyst.expressions.aggregate.CollectList => c
    }))
    assert(lists.nonEmpty, "q92 should build its postings head via collect_list")
    lists.foreach { c =>
      assert(c.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.CaseWhen],
        s"collect_list input must be the rank-bounded CASE WHEN, got: ${c.child}")
    }
    assert(p.toString.contains("row_number"),
      "q92 must rank postings per gram before aggregating")
  }

  test("q213 SQL-language function is inlined (no UDF node, map-side combine intact)") {
    // The whole point of a SQL UDF over a Scala UDF at 100 TB: Catalyst
    // inlines the body, so the plan must contain NO black-box function
    // node and the aggregate must still combine map-side THROUGH the
    // inlined arithmetic. The gate collects inside its call scope, so
    // the pin plans the gate's frame while its functions are registered.
    CallScope.local(spark) { cs =>
      val qe = graft.operators.Relational.sqlFunctionsFrame(spark, sf, cs)
        .queryExecution
      val udfs = qe.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
      }))
      assert(udfs.isEmpty, s"q213 plan contains ScalaUDF: $udfs")
      assert(qe.executedPlan.toString.contains("partial_sum"),
        "q213 aggregation must stay partial through the inlined SQL function")
      spark.range(1).toDF()
    }
  }

  test("q224 OHLC plans as one-pass aggregates, never a per-bar window sort") {
    // min_by/max_by must survive as partial-aggregable argmin/argmax: a
    // Window node here would mean every tick of every bar gets sorted —
    // the shuffle must carry bars, not ticks.
    val p = executedPlan("q224_ohlc_bars")
    assert(!p.contains("Window"), "q224 must not plan a window sort")
    assert(p.contains("partial_min_by") || p.contains("partial_min by"),
      "q224 open-pick must combine map-side")
  }

  test("q229 NFC normalization is a codegen expression, not a UDF") {
    val qe = SparkEntry.queries("q229_nfc_normalize")(spark, sf).queryExecution
    val udfs = qe.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
    }))
    assert(udfs.isEmpty, s"q229 plan contains ScalaUDF: $udfs")
    assert(qe.analyzed.toString.toLowerCase.contains("nfcnormalize") ||
      qe.analyzed.toString.contains("graft_nfc"),
      "expected the native NfcNormalize expression in the plan")
  }

  test("q223 feature hashing combines map-side (no vocabulary pass)") {
    val p = executedPlan("q223_feature_hashing")
    assert(p.contains("partial_sum"), "q223 weights must combine map-side")
    assert(!p.contains("Window"), "q223 must stay a pure aggregation")
  }

  test("q238 groups on a COLLATED key (collation in the plan, not a lower() wrap)") {
    val qe = SparkEntry.queries("q238_collation_group")(spark, sf).queryExecution
    assert(qe.analyzed.toString.contains("UTF8_LCASE"),
      "q238 must group on a UTF8_LCASE-collated key")
    // engine fact worth pinning: collated group keys are NOT
    // hash-aggregable in Spark 4.1 — they plan as SortAggregate. The
    // scale property that matters is that the aggregation still
    // partials map-side before the exchange.
    val p = qe.executedPlan.toString
    assert(p.contains("SortAggregate"),
      s"q238 expected the collated-key SortAggregate plan:\n$p")
    assert(p.contains("merge_count") || p.contains("partial_count"),
      "q238 aggregation must combine map-side before the exchange")
  }

  test("q235 SQ8 quantization is pure codegen HOFs (no UDF, map-only)") {
    val qe = SparkEntry.queries("q235_sq8_quantize")(spark, sf).queryExecution
    val udfs = qe.executedPlan.collect {
      case p if p.toString.contains("ScalaUDF") => p.nodeName
    }
    assert(udfs.isEmpty, s"q235 plan contains ScalaUDF: $udfs")
    val p = qe.executedPlan.toString
    assert(!p.contains("Exchange") || p.indexOf("Exchange") ==
      p.lastIndexOf("Exchange"), // only the final orderBy range exchange
      s"q235 must stay map-only up to the output sort:\n$p")
  }

  test("q243 bounded top-k aggregates without a window sort (shuffle carries k per key)") {
    val p = executedPlan("q243_topk_aggregator")
    assert(!p.contains("Window"), s"q243 must not plan a window sort:\n$p")
    assert(p.contains("partial_top3byprice") || p.contains("ObjectHashAggregate"),
      s"q243 must partial-aggregate the bounded heap map-side:\n$p")
  }

  test("q247 DSv2 source receives the pushed filters and a pruned read schema") {
    // string-match the executed plan: under AQE the BatchScanExec sits
    // inside AdaptiveSparkPlanExec's private current plan, which a
    // plain collect() does not traverse — toString renders it all
    val d = SparkEntry.queries("q247_dsv2_pushdown")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(d.contains("BatchScan graft_tsv"), s"q247 must plan a DSv2 BatchScan:\n$d")
    assert(d.contains("GraftTsvScan"), s"expected the graft TSV scan:\n$d")
    assert(d.contains("EqualTo(event_type,click)") &&
      d.contains("GreaterThanOrEqual(user_id,50)"),
      s"q247 predicates must reach the source as PushedFilters:\n$d")
    assert(d.contains("ReadSchema: struct<user_id:bigint,value:double>"),
      s"q247 read schema must prune to the two projected columns:\n$d")
  }

  test("q300 mixed plain+gz store keeps the FULL pushdown ladder (filter + aggregate)") {
    // compression must not change the pushdown contract: the gz shards
    // decompress inside the reader, but the scan ladder composes
    // unchanged — the filter is fully pushed AND the aggregation
    // pre-folds per split, so each gz shard emits |groups| rows from
    // its one decompression pass instead of N parsed rows
    val d = SparkEntry.queries("q300_tsv_gzip_scan")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(d.contains("GraftTsvScan"), s"expected the graft TSV scan:\n$d")
    assert(d.contains("GreaterThanOrEqual(user_id,10)"),
      s"q300's predicate must reach the source as a PushedFilter:\n$d")
    assert(d.contains("PushedAggregates: [COUNT_STAR(*), SUM(event_id), COUNT(value)]") &&
      d.contains("PushedGroupBy: [event_type]"),
      s"q300's aggregate must pre-fold inside the (gz) reader:\n$d")
  }

  test("q265 join order flips with ANALYZE stats (CBO join reorder)") {
    import org.apache.spark.sql.catalyst.catalog.HiveTableRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // the stats-driven reorder is the pin: the SAME query optimizes to
    // the syntactic order without CBO and to a supplier-first order
    // with CBO + stats — table statistics, not query-author luck,
    // choose which dim shrinks the fact first
    val db = graft.operators.FileIO.cboSetup(spark, sf)
    def leafOrder(cbo: Boolean): Seq[String] = {
      val confs =
        if (cbo) graft.operators.FileIO.cboConfs
        else graft.operators.FileIO.cboConfs.map { case (k, _) => k -> "false" }
      SessionConfs.withConfs(spark, confs: _*) {
        // optimizedPlan is forced INSIDE the conf scope (lazy val)
        spark.sql(graft.operators.FileIO.cboSql(db))
          .queryExecution.optimizedPlan.collectLeaves().collect {
            case r: LogicalRelation =>
              r.catalogTable.map(_.identifier.table).getOrElse("?")
            case h: HiveTableRelation => h.tableMeta.identifier.table
          }
      }
    }
    val off = leafOrder(cbo = false)
    val on = leafOrder(cbo = true)
    assert(off == Seq("lineitem_cbo", "part_cbo", "supplier_cbo"),
      s"without CBO the syntactic (worst) order must survive: $off")
    assert(on != off, s"CBO did not reorder the join: $on")
    assert(on.indexOf("supplier_cbo") < on.indexOf("part_cbo"),
      s"stats must pull the selective supplier dim before part: $on")
  }

  test("q266 Catalyst injects a runtime bloom probe into the fact side") {
    import graft.operators.ScaleOps
    // under the gate's confs the optimizer must plant might_contain(...)
    // on the lineitem side of the join, fed by a bloom_filter_agg over
    // the filtered orders keys — the engine-native version of q107
    val injected = SessionConfs.withConfs(spark, ScaleOps.runtimeBloomConfs: _*) {
      ScaleOps.runtimeBloomFrame(spark, sf).queryExecution.optimizedPlan.toString
    }
    assert(injected.contains("might_contain"),
      s"expected an injected runtime bloom probe:\n$injected")
    assert(injected.contains("bloom_filter_agg"),
      s"expected the bloom sketch built from the dim keys:\n$injected")
    // under production defaults the 10 GB application-side threshold
    // correctly refuses to pay the sketch cost for a tiny scan
    val default = ScaleOps.runtimeBloomFrame(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!default.contains("might_contain"),
      "threshold gating lost: a sub-threshold scan got a runtime filter")
  }

  test("q267 AQE splits the skewed partition of the sort-merge join") {
    import graft.operators.ScaleOps
    // executed (final adaptive) plan: the hot-key reducer partition must
    // be marked skew=true — the runtime split, not q110's salt rewrite
    def finalPlan(confs: Seq[(String, String)]): String =
      SessionConfs.withConfs(spark, confs: _*) {
        val df = ScaleOps.skewJoinFrame(spark, sf)
        df.collect()
        df.queryExecution.executedPlan.toString
      }
    val withSkew = finalPlan(ScaleOps.skewJoinConfs)
    assert(withSkew.contains("SortMergeJoin"),
      s"the skew reader targets sort-merge joins; got:\n$withSkew")
    assert(withSkew.contains("skew=true"),
      s"expected OptimizeSkewedJoin to mark the join skewed:\n$withSkew")
    val noSkew = finalPlan(ScaleOps.skewJoinConfs.map {
      case (k, _) if k.contains("skewJoin.enabled") ||
        k.contains("forceOptimizeSkewedJoin") => k -> "false"
      case kv => kv
    })
    assert(!noSkew.contains("skew=true"),
      "skew handling off must leave the join unsplit (contrast pin)")
  }

  test("q271 AQE switches the sort-merge join to broadcast at runtime") {
    import graft.operators.ScaleOps
    SessionConfs.withConfs(spark, ScaleOps.joinSwitchConfs: _*) {
      val df = ScaleOps.joinSwitchFrame(spark, sf)
      // initial plan: the dim's PLAN-TIME estimate (whole relation —
      // a stat-less Filter shrinks nothing) prices broadcast out
      val initial = df.queryExecution.executedPlan.toString
      assert(initial.contains("SortMergeJoin"),
        s"plan-time strategy must be sort-merge:\n$initial")
      assert(!initial.contains("BroadcastHashJoin"),
        s"broadcast must NOT be chosen at plan time:\n$initial")
      df.collect()
      // final plan: the materialized dim stage is a few KB, AQE replans
      val fin = df.queryExecution.executedPlan.toString
      assert(fin.contains("BroadcastHashJoin"),
        s"runtime stats must flip the join to broadcast:\n$fin")
      assert(fin.contains("AQEShuffleRead local"),
        s"the fact side must read its map outputs locally:\n$fin")
    }
  }

  test("q270 storage-partitioned join plans with zero hash exchanges") {
    import graft.operators.FileIO
    // the source-reported KeyGroupedPartitioning must satisfy the
    // join's distribution: no Exchange on either side (only the final
    // orderBy's range exchange remains)
    val spj = SessionConfs.withConfs(spark, FileIO.spjConfs: _*) {
      val df = FileIO.spjFrame(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(spj.contains("SortMergeJoin"), s"expected a sort-merge join:\n$spj")
    assert(!spj.contains("Exchange hashpartitioning"),
      s"SPJ must elide both join-side exchanges:\n$spj")
    assert(spj.contains("BatchScan graft_tsv"),
      s"both sides must stay DSv2 scans:\n$spj")
    val off = SessionConfs.withConfs(spark,
      FileIO.spjConfs.map {
        case (k, _) if k.contains("v2.bucketing") => k -> "false"
        case kv => kv
      }: _*) {
      val df = FileIO.spjFrame(spark, sf)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(off.contains("Exchange hashpartitioning"),
      "with v2 bucketing off the join must fall back to shuffles (contrast)")
  }

  test("q307 co-bucketed catalog join: zero exchanges on, shuffle fallback off") {
    import graft.operators.FileIO
    val cname = "graft_pspec_bk"
    val croot = java.nio.file.Files.createTempDirectory("graft_pspec_bk")
    spark.conf.set(s"spark.sql.catalog.$cname",
      classOf[graft.sources.GraftTsvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cname.root", croot.toString)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cname.bk")
    spark.sql(s"CREATE TABLE $cname.bk.l (user_id BIGINT, n BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.sql(s"CREATE TABLE $cname.bk.r (user_id BIGINT, m BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.range(300).selectExpr("id AS user_id", "id AS n")
      .createOrReplaceTempView("pspec_bk_l")
    spark.range(300).selectExpr("id AS user_id", "id * 7 AS m")
      .createOrReplaceTempView("pspec_bk_r")
    spark.sql(s"INSERT INTO $cname.bk.l SELECT * FROM pspec_bk_l")
    spark.sql(s"INSERT INTO $cname.bk.r SELECT * FROM pspec_bk_r")
    def joinPlan(): String = {
      val df = spark.table(s"$cname.bk.l")
        .join(spark.table(s"$cname.bk.r"), "user_id")
      assert(df.count() == 300)
      df.queryExecution.executedPlan.toString
    }
    // ON: the scans' reported bucket(8, user_id) grouping — resolved
    // through the catalog's own FunctionCatalog — satisfies the join's
    // distribution; no exchange on either side
    val on = SessionConfs.withConfs(spark, FileIO.spjConfs: _*)(joinPlan())
    assert(!on.contains("Exchange hashpartitioning"),
      s"co-bucketed join must elide both exchanges:\n$on")
    assert(on.contains("BatchScan"), s"both sides must stay DSv2 scans:\n$on")
    // OFF: with v2 bucketing disabled the same join must fall back to
    // two shuffles (the contrast that proves the elision is real)
    val off = SessionConfs.withConfs(spark,
      FileIO.spjConfs.map {
        case (k, _) if k.contains("v2.bucketing") => k -> "false"
        case kv => kv
      }: _*)(joinPlan())
    assert(off.contains("Exchange hashpartitioning"),
      s"with v2 bucketing off the join must shuffle (contrast):\n$off")
  }

  test("q287 scan-reported ordering elides the fact-side sort in the shard join") {
    import graft.operators.FileIO
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: nodes(a.executedPlan)
      case q: QueryStageExec => p +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    SessionConfs.withConfs(spark, FileIO.spjConfs: _*) {
      val df = FileIO.orderedScanFrame(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val smj = nodes(plan).collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail(s"expected a sort-merge join:\n$plan"))
      // fact side: the scan's reported ordering feeds the merge directly
      assert(!nodes(smj.left).exists(_.isInstanceOf[SortExec]),
        s"fact side must NOT re-sort (SupportsReportOrdering):\n$plan")
      // aggregate side: ordering died in the hash aggregate — it sorts,
      // but only |shards| rows
      assert(nodes(smj.right).exists(_.isInstanceOf[SortExec]),
        s"expected the small aggregate side to sort:\n$plan")
      // and the q270 win still holds: zero hash exchanges
      assert(!plan.toString.contains("Exchange hashpartitioning"),
        s"SPJ must elide all join exchanges:\n$plan")
    }
  }

  test("q268 fact scan carries a dynamicpruning PartitionFilter") {
    import graft.operators.FileIO
    // the dim filter is on an attribute (quarter), not the partition
    // column — only the runtime subquery can prune the fact partitions
    val pruned = FileIO.dppFrame(spark, sf)
      .queryExecution.executedPlan.toString
    assert(pruned.contains("dynamicpruning"),
      s"expected a dynamicpruning expression in PartitionFilters:\n$pruned")
    val off = SessionConfs.withConfs(spark,
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
      FileIO.dppFrame(spark, sf).queryExecution.executedPlan.toString
    }
    assert(!off.contains("dynamicpruning"),
      "with DPP disabled the fact scan must fall back to a full scan")
  }

  test("q273 gram aggregation is partial and carries one buffer row to the exchange") {
    val plan = executedPlan("q273_gram_matrix")
    // the typed Aggregator must partial-aggregate map-side (the whole
    // point vs the explode-and-groupBy formulation the oracle states)
    assert(plan.contains("partial_gramagg"),
      s"expected map-side partial gram buffers:\n$plan")
  }

  test("q272 row-level diff is gated by the LITERAL mismatched-partition list") {
    val plan = executedPlan("q272_partition_reconcile")
    // clean partitions must never reach the row-level full-outer join:
    // the collected digest-mismatch list becomes a static isin filter
    // on both snapshot scans (partition pruning on real layouts)
    assert(plan.contains("IN (3,5,11)") || plan.contains("IN (3, 5, 11)"),
      s"expected the planted dirty parts as a literal pruning filter:\n$plan")
    assert(plan.contains("FullOuter"),
      s"expected the row-level full-outer diff join:\n$plan")
  }

  test("q272 reports exactly the planted dirty partitions, zeros elsewhere") {
    val rows = SparkEntry.queries("q272_partition_reconcile")(spark, sf).collect()
    val dirty = rows.filter(!_.getBoolean(4)).map(_.getLong(0)).toSet
    assert(dirty === Set(3L, 5L, 11L),
      s"planted drift sits in parts 3/5/11; got $dirty")
    for (r <- rows if r.getBoolean(4))
      assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0,
        s"digest-matched partition ${r.getLong(0)} must report zero diffs")
  }

  test("q274 the WoW self-join executes ONE orders scan+shuffle (exchange reuse)") {
    import graft.operators.ScaleOps
    val df = ScaleOps.exchangeReuseFrame(spark, sf)
    df.collect()
    // the AQE string carries the pre-reuse "Initial Plan" section too —
    // pin the FINAL (executed) section only
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(plan.contains("ReusedExchange") || plan.contains("ReusedQueryStage"),
      s"expected the second aggregate side to reuse the first's exchange:\n$plan")
    val scans = "FileScan parquet".r.findAllIn(plan).length
    assert(scans == 1,
      s"the orders fact must be scanned exactly once, found $scans:\n$plan")
  }

  test("q275 aggregation is pushed into the TSV source (partial, final merge stays)") {
    import graft.operators.FileIO
    val df = FileIO.tsvAggFrame(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT_STAR(*), MIN(event_id), " +
      "MAX(event_id), SUM(user_id)]"),
      s"expected the aggregate functions pushed into the scan:\n$plan")
    assert(plan.contains("PushedGroupBy: [event_type]"),
      s"expected the grouping pushed into the scan:\n$plan")
    // PARTIAL pushdown: Spark's final aggregate must still merge the
    // per-split group rows (supportCompletePushDown=false by design)
    assert(plan.contains("HashAggregate"),
      s"expected the final merge aggregate above the scan:\n$plan")
    // the contrast: q247's sum(round(value*100)) is an EXPRESSION input
    // the source refuses — its aggregate stays a plain Spark aggregate
    val q247 = executedPlan("q247_dsv2_pushdown")
    assert(!q247.contains("PushedAggregates"),
      s"expression aggregates must not be pushed:\n$q247")
  }

  test("q276 the keyed TSV fact scan carries a dynamicpruning runtime filter") {
    import graft.operators.FileIO
    val df = FileIO.runtimeFilterFrame(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // the fact side has NO static filter — only the planted runtime
    // subquery (fed by the dim's shard keys) can prune its partitions
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"expected a dynamicpruning runtime filter on the TSV scan:\n$plan")
    // execution evidence: the scan must emit only the surviving shards'
    // rows (cohort 5-of-32 lives on 2 of 16 shard dirs), not the table
    df.collect()
    // AQE wraps stages: walk into query-stage subplans explicitly
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      (p +: p.children.flatMap(allNodes)) ++ (p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          allNodes(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          allNodes(q.plan)
        case _ => Nil
      })
    val scanRows = allNodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
          if b.toString.contains("GraftTsvScan") =>
        b.metrics("numOutputRows").value
    }.get
    val factTotal = graft.sources.Tables.events(spark, sf)
      .filter(org.apache.spark.sql.functions.col("event_type") === "click")
      .select("user_id").distinct().count()
    assert(scanRows > 0 && scanRows <= factTotal / 4,
      s"runtime pruning must skip most shard dirs: read $scanRows of $factTotal")
    val off = SessionConfs.withConfs(spark,
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false") {
      FileIO.runtimeFilterFrame(spark, sf).queryExecution.executedPlan.toString
    }
    assert(!off.contains("dynamicpruning"),
      "with DPP disabled the scan must carry no runtime filter (contrast)")
  }

  test("q279 pipe syntax optimizes to the classic nested query's exact plan") {
    graft.sources.Tables.lineitem(spark, sf)
      .createOrReplaceTempView("graft_li279t")
    val pipe = spark.sql(
      """FROM graft_li279t
        ||> WHERE l_shipdate <= DATE'1998-09-02'
        ||> AGGREGATE count(*) AS n,
        |     sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS price_c
        |     GROUP BY l_returnflag, l_linestatus
        ||> WHERE n >= 10
        ||> EXTEND price_c div n AS avg_cents
        ||> SELECT l_returnflag, l_linestatus, n, price_c, avg_cents
        ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    val classic = spark.sql(
      """SELECT l_returnflag, l_linestatus, n, price_c,
        |  price_c div n AS avg_cents
        |FROM (SELECT l_returnflag, l_linestatus, count(*) AS n,
        |        sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS price_c
        |      FROM graft_li279t
        |      WHERE l_shipdate <= DATE'1998-09-02'
        |      GROUP BY 1, 2) a
        |WHERE n >= 10
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
    // pipe operators are pure SURFACE: after optimization the two
    // queries must be plan-identical (same shuffles at any scale)
    assert(pipe.queryExecution.optimizedPlan.canonicalized ==
      classic.queryExecution.optimizedPlan.canonicalized,
      s"pipe:\n${pipe.queryExecution.optimizedPlan}\n" +
        s"classic:\n${classic.queryExecution.optimizedPlan}")
    spark.catalog.dropTempView("graft_li279t")
  }

  // The SQL-surface subquery gates collect inside their call scope; their
  // scale-correct decorrelations are pinned on the plans the call ran.
  test("q119 NOT IN plans as a broadcast null-aware anti join, never a nested loop") {
    val nullAware = joins(plansOf("q119_not_in_nulls")).collect {
      case j: BroadcastHashJoinExec if j.isNullAwareAntiJoin => j
    }
    assert(nullAware.nonEmpty, "q119 NOT IN must plan a null-aware anti join")
  }

  test("q166 LATERAL top-k decorrelates into a ranked equi-join") {
    val plans = plansOf("q166_lateral_topk")
    assert(joins(plans).exists(j => j.joinType == Inner && j.leftKeys.nonEmpty),
      "q166 lateral must join regions to ranked nations on the region key")
    assert(plans.exists(AdaptiveNodes.find(_)(_.isInstanceOf[WindowGroupLimitExec]).isDefined),
      "q166 LIMIT inside the lateral must plan as a per-region rank limit")
  }

  test("q68 correlated scalar subquery decorrelates into an aggregate outer join") {
    assert(joins(plansOf("q68_scalar_subquery"))
      .exists(j => j.joinType == LeftOuter && j.leftKeys.nonEmpty),
      "q68 subquery must plan as a keyed LEFT OUTER join to its aggregate")
  }

  test("q135 EXISTS plans as a keyed LEFT SEMI join") {
    assert(joins(plansOf("q135_exists_priority"))
      .exists(j => j.joinType == LeftSemi && j.leftKeys.nonEmpty),
      "q135 EXISTS must be rewritten to a keyed semi join")
  }

  test("NO query plans a cartesian / nested-loop join (bounded-broadcast baselines exempt)") {
    // Repo-wide scale pin: every join must be an equi-join (hash/sort) —
    // a CartesianProduct or BroadcastNestedLoopJoin node anywhere else is
    // a 100 TB non-starter. Exemptions, each a deliberately bounded
    // broadcast of a handful of rows against one corpus scan:
    //   q46 — the labeled ANN brute-force baseline: 10 query vectors
    //         broadcast (its non-equi `neighbor != query` condition).
    //   q47 — IVF cell assignment/probing: 16 centroids broadcast.
    //   q94 — histogram bounds: a 1-row global min/max broadcast.
    //   q69 — TF-IDF corpus size: a 1-row count broadcast.
    //   q48 — its self-verifying gate embeds q46's exact baseline.
    //   q98 — k-means assignment: 16 centroids broadcast.
    //   q102/q103 — fitted k-means / fitted IVF: same 16-centroid
    //         broadcast assignment (and q103's gate embeds q46).
    //   q115 — PageRank's |V|: a 1-row node-count broadcast (the q69
    //         corpus-size pattern), once per iteration.
    //   q120 — exact-ntile bucketing: the same 1-row total-count
    //         broadcast feeding the closed-form bucket arithmetic.
    //   q129 — BPE merges: the 1-row learned-rule broadcast applied to
    //         the symbol table each round.
    //   q139 — triangle count: the final single-row result zips three
    //         1-row count aggregates (edges/wedges/triangles) via
    //         broadcast; the graph joins themselves are all equi.
    //   q150 — BPE encode: reuses q129's training loop (its 1-row
    //         learned-rule broadcast per round).
    //   q151 — HLL: the ALL row zips the merged sketch with the 1-row
    //         exact global count.
    //   q153 — perplexity: the corpus-total 1-row broadcast (the q69
    //         TF-IDF pattern).
    //   q169 — basket lift: the 1-row basket-total broadcast.
    //   q189 — SemDeDup cluster assignment: the same 16-centroid
    //         broadcast as q98; the pairwise leg is an equi-join on cid.
    val exempt = Set("q46_ann_bruteforce", "q47_ann_ivf", "q94_length_histogram",
      "q69_tfidf", "q48_ann_lsh", "q98_kmeans_step",
      "q102_kmeans_fit", "q103_ann_ivf_fitted", "q115_pagerank",
      "q120_length_ntile", "q129_bpe_merges", "q139_triangle_count",
      "q150_bpe_encode", "q151_hll_sketch", "q153_perplexity",
      "q169_basket_lift", "q189_semantic_dedup",
      // q197 — bigram LM: the 1-row vocab-size broadcast (q69/q153
      //        pattern); count and score joins are all equi.
      // q202 — incremental-agg maintenance: the 1-row last-day broadcast
      //        splitting base from delta.
      // q209 — sorted export: the final row zips the 1-row content
      //        aggregate with the 1-row manifest audit (q139 pattern).
      "q197_bigram_lm", "q202_incremental_agg", "q209_sorted_export",
      // q210 — BM25: the 1-row corpus-stats broadcast (q69 pattern);
      //        tf/df joins are equi.
      // q213 — SQL table function: the 3-row band frame joins the scan
      //        on a range predicate (a bounded broadcast by design).
      // q214 — vocab coverage: the 3-row k list joins the vocab-sized
      //        rank frame on r <= k, plus the 1-row totals broadcast.
      // q216 — negative sampling: the 1-row corpus-count broadcast
      //        feeding the hash-mod candidate ids (q69 pattern); the
      //        candidate→corpus join is equi on the computed id.
      "q210_bm25_topk", "q213_sql_functions", "q214_vocab_coverage",
      // q219 — hybrid RRF: the dense leg scans the corpus against the
      //        1-row broadcast query vector (q46 pattern); the fusion
      //        join is equi on doc_id over two 50-row cuts.
      // q221 — chi-square: the 1-row grand-total N broadcast re-entering
      //        the r×c cell frame (q69 pattern); the marginal joins are
      //        equi on the row/column labels.
      "q216_negative_sampling", "q219_hybrid_rrf", "q221_chi2_independence",
      // q234 — stickiness: the 1-row (min,max) day-bounds broadcast
      //        trimming partial windows (q69 pattern); DAU/WAU joins
      //        are equi on day.
      // q244 — skew forecast: the 1-row (total, max) broadcast re-enters
      //        the R-row loadmap (q69 pattern); no data-sized join at all.
      // q257 — sketch rollup: q234's 1-row day-bounds broadcast trims
      //        partial windows; the sketch/exact joins are equi on day.
      // q256 — churn set algebra: the 1-row (cut1, cut2) quintile-bounds
      //        broadcast feeding the conditional collect_sets (q69
      //        pattern); the only other exchange is the user_id agg.
      // q262 — quantile rollup: the same 1-row day-bounds broadcast
      //        (q234/q257 pattern); histogram merge + cumsum are equi.
      // q263 — scripted k-ary median search: each pass broadcasts its
      //        63-row probe frame into conditional counts over the one
      //        cached price column (a bounded probe set by design).
      "q234_stickiness", "q244_skew_forecast", "q257_sketch_rollup",
      "q256_array_set_algebra", "q262_quantile_rollup",
      "q263_sql_scripting_bisect")
    val allPairs = for ((q, plans, _) <- swept if !exempt(q);
         plan <- plans
         if plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin"))
      yield s"$q plans an all-pairs join:\n$plan"
    assert(allPairs.isEmpty, allPairs.mkString("\n"))
  }

  test("NO global sort of an input below minPartitionSize range-partitions") {
    // graft.plans.SmallSortStrategy sorts such an input in one coalesced
    // task; a range exchange here means a gate's sort missed it
    val missed = for ((q, _, sorts) <- swept; sort <- sorts)
      yield s"$q range-partitions a small sort:\n$sort"
    assert(missed.isEmpty, missed.mkString("\n"))
  }

  /** Each gate's executed plans as strings, and its global sorts that
    * read a range exchange over an input (the sort's logical child, as
    * the planner estimated it) of at most minPartitionSize bytes. A gate
    * that collects inside its call (CallScope.local) returns a local
    * frame, so the plans its call executed count as well.
    *
    * Streaming queries execute a full drain in fn() and return a
    * collected local frame whose "plan" pins nothing; their batch-side
    * shapes are pinned by their own specs — skip the expensive drains.
    * q165 likewise: its eager localCheckpoints run real jobs during
    * construction and leave only checkpointed-RDD scans in the final
    * plan, so there is no executed-plan shape to pin here at all —
    * FunnelSpec covers q165's results and stage latencies instead. */
  private lazy val swept: Seq[(String, Seq[String], Seq[String])] = {
    val skip = SparkEntry.all.map(_.name).filter(_.matches(
      "q70_.*|q71_.*|q78_.*|q84_.*|q87_.*|q100_.*|q106_.*|q109_.*|q118_.*|q125_.*" +
        "|q165_.*|q168_.*|q173_.*|q175_.*|q176_.*|q177_.*|q180_.*|q184_.*|q191_.*" +
        "|q240_.*|q254_.*|q258_.*")).toSet
    val bound = SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    @tailrec def rangeFed(p: SparkPlan): Boolean = p match {
      case e: ShuffleExchangeLike => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case r: AQEShuffleReadExec => rangeFed(r.child)
      case st: ShuffleQueryStageExec => rangeFed(st.plan)
      case _ => false
    }
    def small(s: SortExec): Boolean = s.logicalLink.exists {
      case l: Sort => l.child.stats.sizeInBytes <= bound
      case _ => false
    }
    for (q <- SparkEntry.all.map(_.name) if !skip(q)) yield {
      val plans = plansOf(q)
      val sorts = plans.flatMap(AdaptiveNodes.collectWithSubqueries(_) {
        case s: SortExec if s.global && rangeFed(s.child) && small(s) => s.toString
      })
      (q, plans.map(_.toString), sorts)
    }
  }
}

/** Plan traversal through adaptive query stages. */
private object AdaptiveNodes extends AdaptiveSparkPlanHelper
