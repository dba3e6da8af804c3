package graft.plans

import graft.TestSpark
import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contract of the native as-of join (q281): semantics identical to the
  * compositional union-window shape, plan strictly better — merge exec
  * instead of WindowExec, per-side-width shuffles instead of a padded
  * union, and output partitioning that survives into a downstream
  * same-key aggregate. */
class AsOfJoinNativeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  import spark.implicits._

  private def leftDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]): DataFrame =
    rows.toDF("k", "t", "l_tag")
  private def rightDf(rows: Seq[(java.lang.Long, java.lang.Long, String)]): DataFrame =
    rows.toDF("rk", "rt", "payload")

  /** Reference semantics, computed driver-side. */
  private def bruteAsOf(
      left: Seq[(java.lang.Long, java.lang.Long, String)],
      right: Seq[(java.lang.Long, java.lang.Long, String)])
      : Set[(Option[Long], Option[Long], String, Option[String])] =
    left.map { case (k, t, tag) =>
      val m =
        if (k == null || t == null) None
        else right.filter(r => r._1 == k && r._2 != null && r._2 <= t)
          .sortBy(_._2.longValue()).lastOption
      (Option(k).map(_.longValue()), Option(t).map(_.longValue()), tag,
        m.map(_._3))
    }.toSet

  private def collectAll(p: SparkPlan): Seq[SparkPlan] =
    p +: p.children.flatMap(collectAll)

  test("boundary semantics: inclusive match, latest wins, nulls never match") {
    val l = leftDf(Seq(
      (1L, 100L, "a"),          // exact-time match is inclusive
      (1L, 150L, "b"),          // picks the latest of two candidates
      (1L, 50L, "c"),           // before every right row -> null
      (2L, 100L, "d"),          // key absent on the right -> null
      (null, 100L, "e"),        // null key -> null
      (3L, null, "f"),          // null time -> null
      (4L, 100L, "g")))         // right row for key 4 has null time -> null
    val r = rightDf(Seq(
      (1L, 100L, "r100"), (1L, 120L, "r120"), (4L, null, "rnull"),
      (null, 10L, "rk-null")))
    val out = NativeAsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt")
      .select($"k", $"t", $"l_tag", $"payload")
      .collect()
      .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]),
        Option(x.get(1)).map(_.asInstanceOf[Long]),
        x.getString(2), Option(x.get(3)).map(_.asInstanceOf[String])))
      .toSet
    assert(out === Set(
      (Some(1L), Some(100L), "a", Some("r100")),
      (Some(1L), Some(150L), "b", Some("r120")),
      (Some(1L), Some(50L), "c", None),
      (Some(2L), Some(100L), "d", None),
      (None, Some(100L), "e", None),
      (Some(3L), None, "f", None),
      (Some(4L), Some(100L), "g", None)))
  }

  test("forward + tolerance: inclusive lower bound, earliest wins, band cut") {
    val l = leftDf(Seq(
      (1L, 100L, "a"),          // exact-time match is inclusive (rt >= lt)
      (1L, 90L, "b"),           // earliest of two candidates wins
      (1L, 130L, "c"),          // past every right row -> null
      (2L, 100L, "d"),          // key absent on the right -> null
      (3L, 100L, "e")))         // match exists but outside tolerance
    val r = rightDf(Seq(
      (1L, 100L, "r100"), (1L, 120L, "r120"), (3L, 200L, "r200")))
    def run(tol: Option[Long]) =
      NativeAsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt",
          forward = true, tolerance = tol)
        .select($"l_tag", $"payload").collect()
        .map(x => x.getString(0) -> Option(x.get(1)).map(_.toString)).toMap
    assert(run(None) === Map(
      "a" -> Some("r100"), "b" -> Some("r100"), "c" -> None,
      "d" -> None, "e" -> Some("r200")))
    assert(run(Some(50L)) === Map(
      "a" -> Some("r100"), "b" -> Some("r100"), "c" -> None,
      "d" -> None, "e" -> None)) // 200 - 100 > 50: band cuts it
    // backward tolerance: same data mirrored
    val back = NativeAsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt",
        forward = false, tolerance = Some(5L))
      .select($"l_tag", $"payload").collect()
      .map(x => x.getString(0) -> Option(x.get(1)).map(_.toString)).toMap
    assert(back === Map(
      "a" -> Some("r100"),      // 100 - 100 = 0 <= 5
      "b" -> None,              // no right at or before 90
      "c" -> None,              // latest at 130 is r120, 130-120=10 > 5
      "d" -> None, "e" -> None))
    // tolerance on a non-long time column is refused
    intercept[IllegalArgumentException] {
      NativeAsOfJoin.leftAsOf(
        l.withColumn("t", $"t".cast("string")),
        r.withColumn("rt", $"rt".cast("string")),
        "k", "rk", "t", "rt", forward = true, tolerance = Some(1L))
    }
  }

  test("randomized forward/tolerance vs brute force") {
    val rnd = new scala.util.Random(282)
    for (round <- 1 to 3) {
      val l = Seq.fill(250)((
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(15)),
        if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextInt(60)),
        s"l${rnd.nextInt(100000)}"))
      val r = Seq.fill(180)((
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(18)),
        if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextInt(60)),
        s"r${rnd.nextInt(100000)}"))
        .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
      val tol = if (round == 1) None else Some(rnd.nextInt(20).toLong)
      def brute(fwd: Boolean): Set[(String, Option[String])] =
        l.map { case (k, t, tag) =>
          val m =
            if (k == null || t == null) None
            else {
              val cands = r.filter(x => x._1 == k && x._2 != null &&
                (if (fwd) x._2 >= t else x._2 <= t) &&
                tol.forall(b => math.abs(x._2 - t) <= b))
              if (fwd) cands.sortBy(_._2.longValue()).headOption
              else cands.sortBy(_._2.longValue()).lastOption
            }
          tag -> m.map(_._3)
        }.toSet
      for (fwd <- Seq(true, false)) {
        val got = NativeAsOfJoin.leftAsOf(leftDf(l), rightDf(r),
            "k", "rk", "t", "rt", forward = fwd, tolerance = tol)
          .select($"l_tag", $"payload").collect()
          .map(x => x.getString(0) -> Option(x.get(1)).map(_.toString)).toSet
        assert(got === brute(fwd), s"round $round fwd=$fwd tol=$tol")
      }
    }
  }

  test("whole-stage codegen ENGAGES on long shapes, and equals the interpreted path") {
    // r14 hardening: the codegen produce path (AsOfMerger + generated
    // consume) and the interpreted doExecute must agree bit-for-bit —
    // and the codegen path must actually RUN (a Janino failure falls
    // back silently under spark.sql.codegen.fallback, which would turn
    // every codegen pin into a no-op without this check)
    val rnd = new scala.util.Random(300)
    val l = Seq.fill(400)((
      if (rnd.nextInt(12) == 0) null else java.lang.Long.valueOf(rnd.nextInt(12)),
      if (rnd.nextInt(12) == 0) null else java.lang.Long.valueOf(rnd.nextInt(80)),
      s"l${rnd.nextInt(100000)}"))
    val r = Seq.fill(250)((
      if (rnd.nextInt(12) == 0) null else java.lang.Long.valueOf(rnd.nextInt(14)),
      if (rnd.nextInt(12) == 0) null else java.lang.Long.valueOf(rnd.nextInt(80)),
      s"r${rnd.nextInt(100000)}"))
      .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
    for (fwd <- Seq(true, false); tol <- Seq(None, Some(9L))) {
      def run(): Seq[String] = NativeAsOfJoin.leftAsOf(leftDf(l), rightDf(r),
          "k", "rk", "t", "rt", forward = fwd, tolerance = tol)
        .select($"l_tag", $"payload").collect()
        .map(x => x.getString(0) + "|" + Option(x.get(1)).getOrElse("∅"))
        .sorted.toSeq
      val on = run()
      val off = graft.SessionConfs.withConfs(spark,
        "spark.sql.codegen.wholeStage" -> "false") { run() }
      assert(on === off, s"codegen/interpreted divergence fwd=$fwd tol=$tol")
    }
    // engagement pin: the executed plan's AsOfJoinExec sits INSIDE a
    // WholeStageCodegen subtree (the display string stars it)
    val j = NativeAsOfJoin.leftAsOf(leftDf(l), rightDf(r), "k", "rk", "t", "rt")
    j.collect() // finalize the AQE plan
    val plan = j.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) AsOfJoin""".r.findFirstIn(plan).isDefined,
      s"AsOfJoin not codegen'd:\n$plan")
  }

  private val day0 = java.time.LocalDate.of(2024, 1, 1)

  test("randomized STRING key + DATE time vs brute force, codegen on and off") {
    // the non-long shapes compare through Spark's interpreted ordering;
    // nulls, duplicate left (key, time) pairs and misses all occur
    val rnd = new scala.util.Random(283)
    def key(n: Int): String = if (rnd.nextInt(10) == 0) null else s"k${rnd.nextInt(n)}"
    def day(): java.time.LocalDate =
      if (rnd.nextInt(12) == 0) null else day0.plusDays(rnd.nextInt(40).toLong)
    val l = (1 to 300).map(i => (key(12), day(), s"l$i"))
    val r = (1 to 200).map(i => (key(15), day(), s"r$i"))
      .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
    assert(l.groupBy(x => (x._1, x._2)).exists(_._2.size > 1), "no duplicate left rows")
    def brute(fwd: Boolean): Seq[String] = l.map { case (k, t, tag) =>
      val m =
        if (k == null || t == null) None
        else {
          val cands = r.filter(x => x._1 == k && x._2 != null &&
            (if (fwd) !x._2.isBefore(t) else !x._2.isAfter(t)))
            .sortBy(_._2.toEpochDay)
          if (fwd) cands.headOption else cands.lastOption
        }
      tag + "|" + m.map(_._3).getOrElse("∅")
    }.sorted
    for (fwd <- Seq(true, false); wholeStage <- Seq("true", "false")) {
      val got = graft.SessionConfs.withConfs(spark,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        NativeAsOfJoin.leftAsOf(l.toDF("k", "t", "l_tag"),
            r.toDF("rk", "rt", "payload"), "k", "rk", "t", "rt", forward = fwd)
          .select($"l_tag", $"payload").collect()
          .map(x => x.getString(0) + "|" + Option(x.getString(1)).getOrElse("∅"))
          .sorted.toSeq
      }
      assert(got.count(!_.endsWith("∅")) > 0 && got.count(_.endsWith("∅")) > 0,
        "both matches and misses")
      assert(got === brute(fwd), s"fwd=$fwd wholeStage=$wholeStage")
    }
  }

  test("a miss null-extends a NON-nullable right column, codegen on and off") {
    // the right child declares rv non-nullable; the exec's output marks
    // it nullable, and a miss must read null there in both modes, never
    // the primitive default
    val l = spark.range(0, 4).select($"id".as("k"), lit(10L).as("t"))
    val r = spark.range(1, 3)
      .select($"id".as("rk"), lit(5L).as("rt"), ($"id" * 100).as("rv"))
    for (wholeStage <- Seq("true", "false")) {
      val got = graft.SessionConfs.withConfs(spark,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        NativeAsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt").select($"k", $"rv")
          .collect().map(x => x.getLong(0) -> Option(x.get(1))).sortBy(_._1).toSeq
      }
      assert(got === Seq(0L -> None, 1L -> Some(100L), 2L -> Some(200L), 3L -> None),
        s"wholeStage=$wholeStage")
    }
  }

  test("whole-stage codegen engages on a STRING key and DATE time too") {
    val j = NativeAsOfJoin.leftAsOf(
      Seq(("a", day0.plusDays(2), "l1")).toDF("k", "t", "l_tag"),
      Seq(("a", day0, "r1")).toDF("rk", "rt", "payload"),
      "k", "rk", "t", "rt")
    // collecting finalizes the AQE plan
    assert(j.collect().map(_.getAs[String]("payload")).toSeq === Seq("r1"))
    val plan = j.queryExecution.executedPlan.toString
    assert("""\*\(\d+\) AsOfJoin""".r.findFirstIn(plan).isDefined,
      s"AsOfJoin not codegen'd:\n$plan")
  }

  test("randomized: native == compositional == brute force (nulls, dups, misses)") {
    val rnd = new scala.util.Random(281)
    for (round <- 1 to 3) {
      val l = Seq.fill(300)((
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(20)),
        if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50)),
        s"l${rnd.nextInt(100000)}"))
      // right unique per (key, time) — the operator's documented
      // precondition (same as the compositional helper's)
      val r = Seq.fill(200)((
        if (rnd.nextInt(10) == 0) null else java.lang.Long.valueOf(rnd.nextInt(25)),
        if (rnd.nextInt(15) == 0) null else java.lang.Long.valueOf(rnd.nextInt(50)),
        s"r${rnd.nextInt(100000)}"))
        .groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
      val native = NativeAsOfJoin
        .leftAsOf(leftDf(l), rightDf(r), "k", "rk", "t", "rt")
        .select($"k", $"t", $"l_tag", $"payload").collect()
        .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]),
          Option(x.get(1)).map(_.asInstanceOf[Long]),
          x.getString(2), Option(x.get(3)).map(_.asInstanceOf[String])))
      assert(native.length === l.length, s"round $round: row count")
      assert(native.toSet === bruteAsOf(l, r), s"round $round: values")
      // the compositional path agrees on its documented contract —
      // non-null right keys/times (its window carry would otherwise
      // treat a null-time right row as "matched since forever", and a
      // null-key right row as a partner for null-key left rows; the
      // native exec states SQL semantics: null never matches)
      val rClean = r.filter(x => x._1 != null && x._2 != null)
      val comp = AsOfJoin.leftAsOf(
          leftDf(l), rightDf(rClean).withColumnRenamed("rt", "rt2"),
          "k", "rk", col("t"), col("rt2"))
        .select($"k", $"t", $"l_tag", $"payload").collect()
        .map(x => (Option(x.get(0)).map(_.asInstanceOf[Long]),
          Option(x.get(1)).map(_.asInstanceOf[Long]),
          x.getString(2), Option(x.get(3)).map(_.asInstanceOf[String])))
      assert(comp.sorted.sameElements(native.sorted), s"round $round: vs compositional")
    }
  }

  test("plan: AsOfJoinExec, no Window/Union, one exchange per side, downstream agg free") {
    val l = leftDf((1 to 100).map(i =>
      (java.lang.Long.valueOf(i % 7), java.lang.Long.valueOf(i), s"l$i")))
    val r = rightDf((1 to 50).map(i =>
      (java.lang.Long.valueOf(i % 5), java.lang.Long.valueOf(i * 2), s"r$i")))
    // AQE wraps exchanges in opaque query stages; pin the static plan
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val (plan, agg) = try {
      val agg0 = NativeAsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt")
        .groupBy("k").agg(count($"payload").as("n"))
      (agg0.queryExecution.executedPlan, agg0)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    val nodes = collectAll(plan)
    assert(nodes.exists(_.isInstanceOf[AsOfJoinExec]), "native exec planned")
    val s = plan.toString
    assert(!s.contains("WindowExec") && !s.contains("Window ["), "no window machinery")
    assert(!s.contains("Union"), "no union padding")
    // two shuffles feed the as-of (one per side); the same-key aggregate
    // reuses the exec's reported output partitioning — NO third exchange
    assert(nodes.count(_.isInstanceOf[ShuffleExchangeLike]) === 2,
      s"exchange count in:\n$s")
    // and the aggregate really sits above the join without one:
    // count(payload) = left rows with SOME right partner (same key,
    // rt <= t); right only covers keys 0..4, left spans 0..6
    val expected = (0 to 6).map { k =>
      k.toLong -> (1 to 100).count { i =>
        i % 7 == k && (1 to 50).exists(j => j % 5 == k && j * 2 <= i)
      }.toLong
    }.toMap
    assert(agg.collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toMap === expected)
  }

  test("optimizer rule: left-only conjuncts push below the node, right ones stay") {
    val l = leftDf((1 to 60).map(i =>
      (java.lang.Long.valueOf(i % 6), java.lang.Long.valueOf(i), s"l$i")))
    val r = rightDf((1 to 30).map(i =>
      (java.lang.Long.valueOf(i % 6), java.lang.Long.valueOf(i * 2), s"r$i")))
    val q = NativeAsOfJoin.leftAsOf(l, r, "k", "rk", "t", "rt")
      .filter($"k" % 2 === 0 && $"payload".isNotNull) // mixed conjuncts, written ABOVE
    val opt = q.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    val node = opt.collectFirst { case j: AsOfJoinNode => j }.get
    // the left-only conjunct moved into the left child...
    assert(node.left.collectFirst { case f: LFilter => f }.isDefined,
      s"left conjunct not pushed:\n$opt")
    // ...and the right-referencing conjunct stayed above the node
    val above = opt.collectFirst { case f: LFilter => f }.get
    assert(above.condition.references.map(_.name).toSet.contains("payload"))
    assert(!above.condition.toString.contains("% 2"), s"push incomplete:\n$opt")
    // values unchanged vs filtering before the join by hand
    val expect = NativeAsOfJoin.leftAsOf(
        l.filter($"k" % 2 === 0), r, "k", "rk", "t", "rt")
      .filter($"payload".isNotNull).select($"l_tag", $"payload")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    val got = q.select($"l_tag", $"payload")
      .collect().map(x => (x.getString(0), x.getString(1))).toSet
    assert(got === expect)
  }

  test("optimizer rule: children prune to referenced + join columns (q283 shape)") {
    val q = graft.SparkEntry.queries("q283_asof_rule_pushdown")(spark, sf)
    val opt = q.queryExecution.optimizedPlan
    val node = opt.collectFirst { case j: AsOfJoinNode => j }.get
    assert(node.right.output.map(_.name).toSet === Set("o_custkey", "o_orderdate"),
      s"orders side not pruned:\n$opt")
    assert(node.left.output.map(_.name).toSet === Set("user_id", "ts"),
      s"events side not pruned:\n$opt")
    // pruning reached the parquet ReadSchema (no props/o_totalprice read)
    val exec = q.queryExecution.executedPlan.toString
    assert(!exec.contains("props") && !exec.contains("o_totalprice"),
      s"scan still wide:\n$exec")
    // and the user_id filter runs below the left exchange
    assert(node.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isDefined)
    assert(q.collect().nonEmpty)
  }

  test("AQE partition coalescing keeps both children aligned (zipPartitions contract)") {
    // the exec's merge zips the two children's partitions positionally;
    // AQE's CoalesceShufflePartitions must therefore coalesce BOTH
    // shuffles with the same partition specs. Force real coalescing to
    // MULTIPLE final partitions (tiny advisory size, skewed key volume)
    // and require exact results — a misaligned zip would drop/mismatch
    // whole key groups, not perturb a row
    val prevAdvisory = spark.conf.get(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "67108864")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    try {
      val rnd = new scala.util.Random(7)
      // skew: key 0 carries half the left volume
      val l = (1 to 6000).map { i =>
        val k = if (i % 2 == 0) 0L else (rnd.nextInt(40) + 1).toLong
        (java.lang.Long.valueOf(k), java.lang.Long.valueOf(rnd.nextInt(500)),
          s"l$i")
      }
      val r = (1 to 800).map { i =>
        (java.lang.Long.valueOf(i % 45), java.lang.Long.valueOf(rnd.nextInt(500)), s"r$i")
      }.groupBy(x => (x._1, x._2)).map(_._2.head).toSeq
      val got = NativeAsOfJoin.leftAsOf(leftDf(l), rightDf(r), "k", "rk", "t", "rt")
        .groupBy("k")
        .agg(count($"payload").as("n_matched"), count(lit(1)).as("n"))
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
      val brute = l.groupBy(_._1).map { case (k, rows) =>
        val matched = rows.count { case (_, t, _) =>
          t != null && r.exists(x => x._1 == k && x._2 != null && x._2 <= t) }
        (k.longValue(), matched.toLong, rows.size.toLong)
      }.toSet
      assert(got === brute)
    } finally spark.conf.set(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", prevAdvisory)
  }

  test("q281 gate equals the compositional q35 carried through the same aggregate") {
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"))
    val ord = graft.sources.Tables.orders(spark, sf)
      .groupBy("o_custkey", "o_orderdate")
      .agg(max("o_orderkey").as("o_orderkey"))
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("o_us"),
        col("o_orderkey"))
    val viaComp = AsOfJoin.leftAsOf(ev, ord, "user_id", "o_custkey",
        col("us"), col("o_us"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("o_orderkey")).as("n_matched"),
        count(when(col("us") - col("o_us") <= lit(30L * 86400L * 1000000L),
          lit(1))).as("n_recent"))
      .orderBy("user_id").collect().toSeq
    val viaNative = graft.SparkEntry.queries("q281_asof_native")(spark, sf)
      .collect().toSeq
    assert(viaNative === viaComp)
    assert(viaNative.nonEmpty)
  }

  test("install is idempotent; mismatched types and shared attributes are refused") {
    Plans.install(spark)
    Plans.install(spark)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    assert(exp.extraStrategies.count(_ eq AsOfJoinStrategy) === 1)
    val l = leftDf(Seq((1L, 1L, "a")))
    intercept[IllegalArgumentException] {
      NativeAsOfJoin.leftAsOf(l, rightDf(Seq((1L, 1L, "r"))), "k", "nope", "t", "rt")
    }
    intercept[IllegalArgumentException] {
      // key type long vs string
      NativeAsOfJoin.leftAsOf(l,
        rightDf(Seq((1L, 1L, "r"))).withColumn("rk", $"payload"),
        "k", "rk", "t", "rt")
    }
    intercept[IllegalArgumentException] {
      // same frame on both sides -> shared expression ids
      NativeAsOfJoin.leftAsOf(l, l, "k", "k", "t", "t")
    }
  }
}
