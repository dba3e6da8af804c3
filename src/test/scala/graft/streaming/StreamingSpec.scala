package graft.streaming

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite

/** Streaming semantics the finite-input oracle can't express: watermark +
  * append-mode window closure, and custom state via mapGroupsWithState.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** The legacy nanos conf a TIMESTAMP(NANOS) events generation needs,
    * scoped to one test so later suites on the shared session never
    * inherit it. */
  private def withNanos[T](body: => T): T = graft.SessionConfs.withConfs(spark,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true")(body)

  test("q289 TSV stream: file-set offsets deliver later files as later batches") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsv_stream").toString
    def dump(ids: Range): Unit = {
      import spark.implicits._
      ids.map(i => (i.toLong, s"t${i % 3}", (i % 4).toLong))
        .toDF("event_id", "event_type", "g")
        .write.format(classOf[graft.sources.TsvSourceProvider].getName)
        .mode("append").option("path", root).save()
    }
    dump(1 to 60)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, g BIGINT")
    val agg = spark.readStream
      .format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema).option("path", root).load()
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    val name = "graft_tsvstream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(name).start()
    try {
      q.processAllAvailable()
      val firstBatch = q.lastProgress.batchId
      val firstRows = q.lastProgress.numInputRows
      dump(61 to 100)
      q.processAllAvailable()
      // the second wave arrived as a strictly later batch with exactly
      // its own rows — the offset DELTA defines the batch
      assert(q.lastProgress.batchId > firstBatch,
        s"expected a later batch, got ${q.lastProgress.batchId} vs $firstBatch")
      assert(q.recentProgress.map(_.numInputRows).sum === 100)
      assert(firstRows === 60)
      val counts = spark.table(name).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(counts === Map("t0" -> 33L, "t1" -> 34L, "t2" -> 33L))
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  test("q289 TSV stream restarts exactly-once from its checkpointed file-set offset") {
    // stop the query between waves and restart against the SAME
    // checkpoint: the resumed stream must deserialize the committed
    // offset (the JSON file-set round-trip only a real restart
    // exercises) and read ONLY the delta — no replays, no gaps
    val root = java.nio.file.Files.createTempDirectory("graft_tsv_restart").toString
    val ck = java.nio.file.Files.createTempDirectory("graft_tsv_restart_ck").toString
    val out = java.nio.file.Files.createTempDirectory("graft_tsv_restart_out").toString
    def dump(ids: Range): Unit = {
      import spark.implicits._
      ids.map(i => (i.toLong, s"t${i % 3}")).toDF("event_id", "event_type")
        .write.format(classOf[graft.sources.TsvSourceProvider].getName)
        .mode("append").option("path", root).save()
    }
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING")
    def start() = spark.readStream
      .format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema).option("path", root).load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ck)
      .format("parquet").option("path", out)
      .start()
    dump(1 to 50)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    dump(51 to 120) // arrives while NO query is running
    val q2 = start() // fresh query object, same checkpoint
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).toSeq.sorted
    assert(ids.length === 120, s"exactly-once violated: ${ids.length} rows")
    assert(ids == (1L to 120L))
  }

  test("q293 bucketed PIT dim joins with no exchange on the dim side per micro-batch") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    StreamingQueries.ensurePitDim(spark, sf)
    withNanos {
      val schema = Tables.events(spark, sf).schema
      val joined = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .join(spark.table(StreamingQueries.pitDimTbl).hint("merge"),
          col("user_id") === col("o_custkey") &&
            col("us") >= col("vf") && col("us") < col("vt"), "left")
        .groupBy("tier").agg(count(lit(1)).as("n"))
      val name = "graft_pitbkt_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = joined.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      val plan =
        try {
          q.processAllAvailable()
          q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan
        } finally q.stop()
      spark.catalog.dropTempView(name)
      def nodes(p: SparkPlan): Seq[SparkPlan] = p +: p.children.flatMap(nodes)
      val dimScan = nodes(plan).collectFirst {
        case f: FileSourceScanExec if f.tableIdentifier.exists(
          _.table == StreamingQueries.pitDimTbl) => f
      }.getOrElse(fail(s"expected the bucketed dim scan:\n$plan"))
      assert(dimScan.bucketedScan, s"dim scan must stay bucketed:\n$plan")
      // no Exchange may sit on the join's DIM branch: the interval
      // table's bytes never move per batch (the aggregate above the join
      // legitimately exchanges O(joined-batch) rows)
      val smj = nodes(plan).collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      }.getOrElse(fail(
        s"expected the merge join (broadcast would re-ship per batch):\n$plan"))
      val dimSide = Seq(smj.left, smj.right).find(side =>
        nodes(side).exists {
          case f: FileSourceScanExec =>
            f.tableIdentifier.exists(_.table == StreamingQueries.pitDimTbl)
          case _ => false
        }).getOrElse(fail(s"dim scan not under the join:\n$plan"))
      assert(!nodes(dimSide).exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]),
        s"dim side re-exchanged per micro-batch:\n$plan")
    }
  }

  test("q285 PIT enrich joins hash-broadcast and stateless per micro-batch") {
    // the interval dim must reach the stream as a broadcast HASH join
    // (equi conjunct on the key, range residual post-probe) with no
    // state store anywhere — an as-of lookup costs a stream no more
    // than q168's snapshot enrich
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey").orderBy("vf")
    val dim = Tables.orders(spark, sf)
      .groupBy(col("o_custkey"), col("o_orderdate"))
      .agg(max("o_totalprice").as("px"))
      .select(col("o_custkey"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("vf"),
        floor(col("px") / 50000).cast("long").as("tier"))
      .withColumn("vt",
        coalesce(lead(col("vf"), 1).over(w), lit(Long.MaxValue)))
    withNanos {
      val schema = Tables.events(spark, sf).schema
      val stream = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sf)
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .join(broadcast(dim),
          col("user_id") === col("o_custkey") &&
            col("us") >= col("vf") && col("us") < col("vt"), "left")
        .groupBy("tier").agg(count(lit(1)).as("n"))
      val name = "graft_pitpin_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = stream.writeStream.outputMode("complete")
        .format("memory").queryName(name).start()
      val (planStr, progress) =
        try {
          q.processAllAvailable()
          val p = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
            .streamingQuery.lastExecution.executedPlan.toString
          (p, q.lastProgress)
        } finally q.stop()
      spark.catalog.dropTempView(name)
      assert(planStr.contains("BroadcastHashJoin"),
        s"expected a broadcast HASH join (equi key + range residual):\n$planStr")
      assert(!planStr.contains("NestedLoop"),
        s"range conjuncts must ride the hash join as residual:\n$planStr")
      // exactly ONE stateful operator: the complete-mode aggregate.
      // The PIT join itself contributes none (no stream-stream join
      // state, no watermark) — that's the stateless-lookup contract
      assert(progress.stateOperators.length === 1,
        s"join must be stateless; state ops: ${progress.stateOperators.mkString(",")}")
    }
  }

  test("append-mode windowed agg emits exactly the watermark-closed windows") {
    withNanos {
      val stream = Replay.eventsStream(spark, sf) // schema-adaptive
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "7 days"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val name = "graft_wm_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = agg.writeStream.outputMode(OutputMode.Append)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      val emitted = spark.table(name)
        .select(col("window.start").cast("long"), col("event_type"), col("n"))
        .collect().map(_.toString).sorted

      // batch equivalent, restricted to windows closed by the final watermark
      val ev = Tables.events(spark, sf)
      val maxTs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val watermarkUs = maxTs - 3600L * 1000000L
      val closed = ev
        .groupBy(window(col("ts"), "7 days"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .filter(unix_micros(col("window.end")) <= watermarkUs)
        .select(col("window.start").cast("long"), col("event_type"), col("n"))
        .collect().map(_.toString).sorted

      assert(emitted.nonEmpty)
      assert(emitted === closed)
    }
  }

  test("q87 evicts closed sessions: post-drain state holds only open sessions") {
    // The 100 TB contract (VERDICT r5 #1): once the watermark passes
    // last_us + gap a session is emitted exactly once and dropped, and a
    // group with no open sessions is removed entirely. After the full
    // drain every real user's sessions have closed, so the state store
    // must hold exactly ONE row — the flush sentinel's group (its own
    // session never closes). A regression back to accumulate-forever
    // state shows up here as state rows ≈ user count instead of 1.
    val result = graft.SparkEntry.queries("q87_stateful_sessions")(spark, sf)
    val rows = result.collect()
    assert(rows.nonEmpty)
    assert(StreamingQueries.q87FinalStateRows == 1L,
      s"expected 1 surviving state row (sentinel only), " +
        s"got ${StreamingQueries.q87FinalStateRows}")
    // and emit-exactly-once append output must still equal the batch
    // session_window computation (same oracle as q71)
    val batch = graft.SparkEntry.queries("q71_session_window")(spark, sf)
      .collect()
    assert(rows.map(_.toString).toSeq === batch.map(_.toString).toSeq)
  }

  test("mapGroupsWithState session counting matches the window-based q37") {
    import spark.implicits._
    withNanos {
      val stream = Replay.eventsStream(spark, sf) // ts already µs Timestamp
        .select(col("user_id"), unix_micros(col("ts")).as("us"))
        .as[(Long, Long)]
      val gapUs = 1800L * 1000000L
      val counted = stream.groupByKey(_._1)
        .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
          (user: Long, rows: Iterator[(Long, Long)], state: GroupState[Long]) =>
            // count gap-separated sessions within this user's events
            val times = rows.map(_._2).toArray.sorted
            var sessions = 0L
            var prev = Long.MinValue
            times.foreach { t =>
              if (prev == Long.MinValue || t - prev > gapUs) sessions += 1
              prev = t
            }
            val total = state.getOption.getOrElse(0L) + sessions
            state.update(total)
            (user, total)
        }
      val name = "graft_st_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val q = counted.toDF("user_id", "n_sessions").writeStream
        .outputMode(OutputMode.Update)
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      val got = spark.table(name)
        .groupBy("user_id").agg(max("n_sessions").as("n_sessions"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

      val expected = graft.SparkEntry.queries("q37_sessionize")(spark, sf)
        .groupBy("user_id").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === expected)
    }
  }

  test("streaming gates restore the nanosAsLong conf they set (no session leak)") {
    // VERDICT r6 #5 / r7 #3: the gates set the legacy nanos conf so a
    // TIMESTAMP(NANOS) events generation reads (current µs data ignores
    // it), but must not leave the session modified — a later query that
    // WANTS timestamp semantics for some other nanos parquet would be
    // silently flipped. The gate must succeed AND leave the conf exactly
    // as the caller had it, whichever way the data was generated.
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // conf.getOption on a registered key returns its DEFAULT, never None,
    // so "explicitly set" must be read off getAll (set entries only)
    def explicitly = spark.conf.getAll.get(key)
    val prev = explicitly
    try {
      val gate = graft.SparkEntry.queries("q70_stream_month_count")
      spark.conf.unset(key)
      assert(gate(spark, sf).count() > 0)
      assert(explicitly.isEmpty,
        "gate left nanosAsLong explicitly set after running with it unset")
      spark.conf.set(key, "false")
      assert(gate(spark, sf).count() > 0)
      assert(explicitly.contains("false"),
        "gate did not restore the caller's explicit conf value")
    } finally prev.fold(spark.conf.unset(key))(v => spark.conf.set(key, v))
  }

  test("q118 merge kernel is associative and idempotent over any batch split") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val rows = (0 until 300).map { i =>
      (rnd.nextInt(20).toLong, i.toLong, s"t${rnd.nextInt(3)}",
        rnd.nextInt(1000).toLong * 1000L, rnd.nextDouble())
    }
    def frame(xs: Seq[(Long, Long, String, Long, Double)]) =
      xs.toDF("user_id", "last_event_id", "last_event_type",
        "last_ts_us", "last_value")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val direct = canon(StreamingQueries.latestPerUser(frame(rows)))
    // fold the same rows through different batch decompositions — the
    // foreachBatch accumulation path must land on the identical table
    for (nBatches <- Seq(1, 3, 7)) {
      val folded = rows.grouped((rows.size + nBatches - 1) / nBatches)
        .foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) { (acc, b) =>
          Some(acc match {
            case None => StreamingQueries.latestPerUser(frame(b))
            case Some(st) =>
              StreamingQueries.latestPerUser(st.unionByName(frame(b)))
          })
        }.get
      assert(canon(folded) === direct, s"nBatches=$nBatches diverged")
    }
    // idempotent: replaying the final state through the merge is a no-op
    val st = StreamingQueries.latestPerUser(frame(rows))
    assert(canon(StreamingQueries.latestPerUser(st.unionByName(st))) === direct)
  }

  test("q222 genuinely drops late data and accounts every late window") {
    val rows = graft.SparkEntry.queries("q222_stream_late_drop")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ev = Tables.events(spark, sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        dayofmonth(col("ts")).as("dom"))
    val onTime = ev.filter(col("dom") >= 16).groupBy("day")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val lateWindows = ev.filter(col("dom") <= 9)
      .select("day").distinct().count()
    assert(lateWindows > 0, "fixture must actually contain late days")
    assert(rows("DROPPED") === lateWindows,
      "numRowsDroppedByWatermark must count one row per late WINDOW")
    assert((rows - "DROPPED") === onTime,
      "emitted windows must be exactly the on-time per-day counts")
  }
}
