package graft.streaming

import graft.{Q, QueryPack}
import graft.SessionConfs.withConfs
import graft.sources.Tables
import graft.streaming.Replay.{drain, eventsStream, nanosAsLong, rmrfAll, run}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming surface (north-star extension — the reference is
  * explicitly batch-only, mapreduce.py:24): 34 gates, each a real
  * streaming query over a finite replay whose drained result must equal
  * a batch oracle exactly, plus q71, their batch session_window twin.
  *
  * Every gate keeps only its own pipeline and read-back; the replay
  * harness is [[Replay]]. A memory-sink gate calls [[Replay.drain]],
  * which starts the query under a unique name with the gate's confs
  * scoped around `start()`, drains it until no input is left (again
  * after each between-step: sentinel appends, second ingest waves),
  * records the final `batchId` under the gate's key, stops it, and
  * collects the read-back of the sink table and its progress into a
  * local frame before dropping the sink view. File, `foreachBatch` and
  * `toTable` sinks use the lower-level [[Replay.run]]. Watermark/append-
  * mode late-data semantics not expressible as a finite-input oracle are
  * pinned in StreamingSpec instead.
  */
object StreamingQueries extends QueryPack {

  /** Process-local record of bucketed index-table builds: table name →
    * source dir (the FileIO.layoutSource pattern — a fresh process or a
    * different sf dir rebuilds, a dropped catalog rebuilds). */
  private val tableSource =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Drain-scoped confs shared by many gates. Stateful-operator
    * parallelism = shuffle.partitions at stream start, and a finite
    * replay's per-partition state-store commits dominate at wider
    * settings; no-data micro-batches are pure per-batch overhead wherever
    * the gate puts every emission in a REAL data batch. */
  private val twoParts = "spark.sql.shuffle.partitions" -> "2"
  private val noDataOff = "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"
  private val rocksDb = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** The join gates' two flush sets: one sentinel per SIDE at the first
    * flush instant (each side's watermark operator sits behind its
    * event_type filter and only advances on rows it actually sees), then
    * a trivial 'flush' row a day later that both sides filter out — it
    * shifts no watermark but forces one more REAL micro-batch, whose
    * state eviction emits what the first set closed. */
  private def joinFlush(s: SparkSession, dir: String): Seq[Seq[Row]] = {
    val us = Replay.flushUs(s, dir)
    Seq(Seq(Replay.sentinel(us, -2L, -1L, "purchase"),
        Replay.sentinel(us, -2L, -2L, "click")),
      Seq(Replay.sentinel(us + Replay.DayUs, -3L, -3L, "flush")))
  }

  /** The join gates' event-time range condition: a purchase matches the
    * same user's clicks in its preceding hour. */
  private val withinHour = col("p_user") === col("c_user") &&
    col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
    col("c_ts") <= col("p_ts")

  /** Purchases joined (`how`) to clicks over the purchase/click dump —
    * the q173/q191/q218/q240 pipeline head. */
  private def pcJoin(s: SparkSession, dir: String, how: String): DataFrame =
    Replay.joinSide(s, dir, "purchase", "p")
      .join(Replay.joinSide(s, dir, "click", "c"), withinHour, how)

  /** q70: month-count as a streaming aggregation. */
  private def q70(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    // The file-stream source wants a directory; eventsStream selects just
    // the events table out of the sf dir with a glob filter.
    val agg = eventsStream(s, dir)
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).as("n"))
    drain(s, "q70", agg, "complete")((t, _) => t.orderBy("event_type", "month"))
  }

  /** q78: streaming dedup — `dropDuplicates` keeps first-seen keys in
    * state (the streaming counterpart of Dedup q40), then the deduped
    * stream is aggregated batch-side. Exact vs the batch DISTINCT oracle:
    * with a finite replay, first-seen-per-key is set-equal to DISTINCT
    * regardless of arrival order. At scale the state store bounds memory;
    * `dropDuplicatesWithinWatermark` is the knob when keys outlive the
    * retention window (pinned in StreamingDedupSpec). */
  private def q78(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val stream = eventsStream(s, dir)
      .select(col("event_type"), col("user_id"))
      .dropDuplicates("event_type", "user_id")
    drain(s, "q78", stream, "append")((t, _) => t
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type"))
  }

  /** q106: streaming dedup with BOUNDED state —
    * `dropDuplicatesWithinWatermark`, the production form of q78: state
    * evicts a key once the watermark passes its event time + delay, so
    * memory is bounded by the key arrival rate × delay window instead of
    * total distinct keys forever (q78's `dropDuplicates` holds state for
    * the stream's lifetime — fine for bounded key domains, an OOM for
    * unbounded ones). Dedup is only guaranteed among duplicates whose
    * event times fall within the delay of each other; the gate's delay
    * (40 days) exceeds the corpus span, so on this finite replay the
    * result is exactly global first-seen-per-key and the batch DISTINCT
    * oracle applies. */
  private def q106(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val stream = eventsStream(s, dir)
      .withWatermark("ts", "40 days")
      .select(col("event_type"), col("user_id"), col("ts"))
      .dropDuplicatesWithinWatermark("event_type", "user_id")
    // the watermark only EVICTS dedup state; survivors emit in their own
    // data batch, so no-data batches are pure overhead on a finite replay
    drain(s, "q106", stream, "append", Seq(noDataOff))((t, _) => t
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type"))
  }

  /** q109: sliding-window streaming aggregation — 2-day windows sliding
    * by 1 day, so every event lands in exactly 2 overlapping windows
    * (`size/slide`); this is the windowing shape behind rolling-rate
    * dashboards and trailing-window quality monitors. Spark aligns
    * window starts to epoch multiples of the slide, which the oracle
    * reproduces with integer floor-division on `epoch_us`, and each
    * event is fanned to its `size/slide` windows with a 2-row cross
    * product. State at scale: complete mode here is gate plumbing only —
    * the production shape is `withWatermark` + append (q100's sink
    * pattern), where state holds just the open windows per type
    * (windows × types, independent of event volume). Decimal-cast sum
    * keeps the value aggregation order-independent and hash-exact. */
  private def q109(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val agg = eventsStream(s, dir)
      .groupBy(window(col("ts"), "2 days", "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4)
          .as("sum_value"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("event_type"), col("n"), col("sum_value"))
    drain(s, "q109", agg, "complete")((t, _) => t.orderBy("ws_us", "event_type"))
  }

  /** q84: stream-stream inner join — purchases joined to the same user's
    * clicks in the preceding hour, with event-time range condition and
    * watermarks on BOTH sides (what bounds the join state at scale: each
    * side buffers only rows younger than watermark + range). On a finite
    * replay the inner join emits exactly the batch join, so the oracle is
    * the plain SQL join. All time arithmetic happens at microsecond
    * precision on both engines (eventsStream normalizes `ts` to µs
    * TimestampType whatever the parquet generation; the oracle compares
    * `epoch_us(ts)`), so boundary rows land identically. */
  private def q84(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    def side(eventType: String, prefix: String) = eventsStream(s, dir)
      // deterministic 50% user stratum: the join's state cost grows with
      // Σ_user (purchases × clicks), so the GATE runs a bounded slice —
      // the machinery (two watermarked sides, range condition, state
      // buffering) is identical at any volume
      .filter(col("event_type") === eventType && pmod(col("user_id"), lit(2)) === 0)
      .select(col("user_id").as(s"${prefix}_user"),
        col("ts").as(s"${prefix}_ts"),
        col("event_id").as(s"${prefix}_id"))
      .withWatermark(s"${prefix}_ts", "2 hours")
    val joined = side("purchase", "p").join(side("click", "c"), withinHour)
    // Stateful-operator parallelism = shuffle.partitions at stream start,
    // and a two-sided join commits FOUR state stores per partition per
    // batch — at 32 partitions the store-commit fsyncs dominate (measured
    // ~18s regardless of data volume). This finite replay drains inside
    // this call, so scope the stream to few partitions and restore; a
    // real deployment sizes this to state volume, not core count.
    // inner-join matches emit inside the data batch that completes them,
    // so the post-drain no-data bookkeeping batches add only cost here
    drain(s, "q84", joined, "append", Seq(twoParts, noDataOff))((t, _) => t
      .select(col("p_id"), col("c_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
      .orderBy("p_id", "c_id"))
  }

  /** q173: stream-stream LEFT OUTER join — the surface q84's inner join
    * cannot express: a purchase with NO click in its preceding hour must
    * still emit, null-padded, and append mode only allows that emission
    * once the watermark PROVES no matching click can still arrive (the
    * outer-join state-eviction contract; matched rows emit immediately
    * like the inner join). The raw sf dir is read-only, so the gate
    * replays the day-shard dump (q118's, dump-once) and flushes with one
    * sentinel purchase + one sentinel click far past the corpus: each
    * side's event-time watermark only sees its OWN filtered slice, so
    * BOTH sides need a sentinel for the global watermark to pass every
    * real purchase's join window — after which the finite replay equals
    * the batch LEFT JOIN exactly. Unmatched columns are coalesced to -1
    * on both engines (NULL ordering differs between them; a sentinel
    * value keeps the presentation sort engine-neutral). State at scale:
    * left rows buffer until the watermark passes their event time, right
    * rows until watermark passes event time + range — bounded by arrival
    * rate × (delay + range), never by history. */
  private def q173(s: SparkSession, dir: String): DataFrame =
    // 2 main-drain batches over 30 day shards; the two sentinel flush
    // batches keep the gate ≥ 4 micro-batches (pinned by MultiBatchSpec).
    // No-data batches off: the two-sentinel flush discipline makes every
    // eviction happen in a REAL data batch, so the watermark-bookkeeping
    // batches are pure per-batch overhead here (~0.3-0.5 s each).
    // Null-padded outer rows evict in a batch AFTER the one that advanced
    // the watermark; the second flush set forces that batch rather than
    // resting on Spark's no-data micro-batch (q87's discipline).
    Replay.withSentinels(s, dir, "events_stream_days_pc", joinFlush(s, dir): _*) { flush =>
      drain(s, "q173", pcJoin(s, dir, "leftOuter"), "append",
          Seq(twoParts, noDataOff), flush)((t, _) => t
        .filter(col("p_user") >= 0) // drop the sentinels' own emissions
        .select(col("p_id"), coalesce(col("c_id"), lit(-1L)).as("c_id"),
          coalesce(unix_micros(col("p_ts")) - unix_micros(col("c_ts")),
            lit(-1L)).as("gap_us"))
        .orderBy("p_id", "c_id"))
    }

  /** q240: CHAINED stateful operators in one streaming query — a
    * watermarked stream-stream join whose output feeds a downstream
    * event-time window aggregation (Spark 4 multi-stateful support;
    * before 3.4 this exact pipeline was rejected at analysis). The
    * capability under test is WATERMARK PROPAGATION: the aggregation's
    * watermark must be derived through the join (input watermark minus
    * the join's own event-time lag) so late-ness is judged correctly at
    * the second state store — one query, one checkpoint, exactly-once
    * across BOTH state stores, vs. the two-query-plus-intermediate-sink
    * workaround that loses atomicity.
    *
    * Drain discipline: join matches emit within their data batch, but
    * the window agg in append mode only emits once the PROPAGATED
    * watermark passes a window's end — the q173 two-sentinel +
    * trivial-flush pattern (each side's watermark operator advances
    * only on rows its event_type filter passes). The same-instant
    * sentinel pair does join, but its far-future window never
    * finalizes, so it stays in state and never reaches the sink;
    * outputs are additionally bounded to real corpus windows. State at
    * scale: join side ∝ rate × (delay + range), agg side ∝ open
    * windows — both watermark-bounded, never history-bounded. */
  private def q240(s: SparkSession, dir: String): DataFrame = {
    val agg = pcJoin(s, dir, "inner")
      .withColumn("gap_us", unix_micros(col("p_ts")) - unix_micros(col("c_ts")))
      .groupBy(window(col("p_ts"), "1 day"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("gap_us")).as("sum_gap_us"))
      .select(unix_micros(col("window.start")).as("ws_us"),
        col("n_pairs"), col("sum_gap_us"))
    val maxUs = Replay.eventsMaxUs(s, dir)
    // finalized windows evict a batch after the watermark moves — the
    // second flush set forces that REAL batch
    Replay.withSentinels(s, dir, "events_stream_days_pc", joinFlush(s, dir): _*) { flush =>
      drain(s, "q240", agg, "append", Seq(twoParts, noDataOff), flush)((t, _) => t
        .filter(col("ws_us") <= maxUs) // real corpus windows only
        .orderBy("ws_us"))
    }
  }

  /** q191: stream-stream FULL OUTER join — completes the streaming join
    * matrix (q84 inner, q173 left outer): clicks with no purchase in
    * the hour AFTER them must also emit, null-padded on the purchase
    * side, once the watermark proves no matching purchase can still
    * arrive. Same two-sentinel + trivial-flush drain discipline as
    * q173 (each side's watermark operator only advances on rows its
    * event_type filter passes; the final flush row forces the real
    * micro-batch that evicts the last outer rows without relying on
    * no-data batches). State at scale is bounded on BOTH sides by
    * arrival rate × (delay + range): left rows evict when the
    * watermark passes their event time, right rows when it passes
    * event time + range — never by history. Sentinels are dropped by
    * sign; unmatched sides coalesce to -1 so the presentation sort is
    * engine-neutral. */
  private def q191(s: SparkSession, dir: String): DataFrame =
    Replay.withSentinels(s, dir, "events_stream_days_pc", joinFlush(s, dir): _*) { flush =>
      drain(s, "q191", pcJoin(s, dir, "fullOuter"), "append",
          Seq(twoParts, noDataOff), flush)((t, _) => t
        // drop sentinel emissions on EITHER side (the two sentinels
        // also match each other); real users are non-negative
        .filter(coalesce(col("p_user"), lit(0L)) >= 0 &&
          coalesce(col("c_user"), lit(0L)) >= 0)
        .select(coalesce(col("p_id"), lit(-1L)).as("p_id"),
          coalesce(col("c_id"), lit(-1L)).as("c_id"),
          coalesce(unix_micros(col("p_ts")) - unix_micros(col("c_ts")),
            lit(-1L)).as("gap_us"))
        .orderBy("p_id", "c_id"))
    }

  /** q254: streaming OBSERVABILITY surface — `StreamingQueryListener`
    * (the async monitoring bus a production deployment wires to its
    * metrics system) and `query.recentProgress` (the synchronous
    * in-process view), gated against each other and against the oracle:
    * Σ numInputRows over all progress events must equal the exact row
    * count of the replayed source. The pipeline under observation is a
    * stateless projection (cheapest possible drain, 2 main batches);
    * the capability under test is that the metrics REPORT the truth.
    * Listener delivery is asynchronous, so the gate polls the listener
    * totals until they match the synchronous recentProgress view
    * (bounded wait) — the pattern any listener-driven monitor needs. */
  private def q254(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
    import StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
    // the listener bus is SESSION-global and async: a queued event from
    // the previous gate's query would otherwise inflate the totals
    // (flaky, load-dependent) — keep every event, count only OUR run's
    val heard = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = { heard.add(e.progress); () }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    s.streams.addListener(listener)
    try {
      val stream = Replay.replayStream(s, dir, "events_stream_days_upsert", 15)
        .select(col("event_id"))
      drain(s, "q254", stream, "append", Seq(twoParts, noDataOff)) { (_, progress) =>
        val syncRows = progress.map(_.numInputRows).sum
        val runId = progress.head.runId
        def ours = heard.toArray(Array.empty[StreamingQueryProgress]).filter(_.runId == runId)
        // listener events ride an async bus: wait (bounded) until the
        // listener's total catches the synchronous recentProgress view
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (ours.map(_.numInputRows).sum < syncRows && System.nanoTime() < deadline)
          Thread.sleep(20)
        val seen = ours
        val rows = seen.map(_.numInputRows).sum
        import s.implicits._
        Seq((rows, syncRows, rows == syncRows, seen.length >= 2))
          .toDF("listener_rows", "progress_rows", "views_agree", "multi_batch")
      }
    } finally s.streams.removeListener(listener)
  }

  /** q218: stream-stream LEFT SEMI join — completes the streaming join
    * matrix (q84 inner, q173 left outer, q191 full outer): purchases
    * that HAVE at least one click in their preceding hour, emitted with
    * LEFT columns only and each at most once. Semi emission is
    * MATCH-driven — a buffered purchase emits in the micro-batch where
    * its first matching click arrives, never on watermark proof — so a
    * finite replay drains to exactly the batch EXISTS semi join with NO
    * sentinel flushing at all: the cheapest gate in the family, and the
    * one that isolates cross-batch state buffering (matches whose two
    * sides arrive in different micro-batches must still emit; unmatched
    * purchases age out of state silently when the watermark passes).
    * State bounds as q84: each side buffers arrival rate × (delay +
    * range), never history. */
  private def q218(s: SparkSession, dir: String): DataFrame =
    // 2 main-drain batches over 30 day shards: the cross-batch
    // buffering contract needs >1 data batch
    drain(s, "q218", pcJoin(s, dir, "leftSemi"), "append",
        Seq(twoParts, noDataOff))((t, _) => t
      .select(col("p_id"), col("p_user"), unix_micros(col("p_ts")).as("p_us"))
      .orderBy("p_id"))

  /** q100: streaming into a REAL file sink — the production shape the
    * memory-sink gates deliberately avoid: `writeStream.format("parquet")`
    * with a checkpoint location (exactly-once via the sink's file
    * manifest + source offsets in the checkpoint), append output mode,
    * and a watermark that actually gates emission. Per-day × event-type
    * counts stream over a multi-batch day-shard replay; append mode only
    * writes a window once the watermark passes its end, so after the
    * main drain a SENTINEL event past `maxUs + delay` pushes the
    * watermark past every real window and a second sentinel forces the
    * data batch that emits them (the q87/q173 two-flush discipline — no
    * reliance on no-data micro-batches, which this gate turns off as
    * pure overhead). The watermark delay (40 days) exceeds the
    * corpus span, so the drain is ORDER-INDEPENDENT: whatever order the
    * file source delivers day shards (delivery is by file mtime, an
    * unpinned artifact of the local write), no real event is ever behind
    * the watermark, and only the sentinel closes windows. The sentinel's
    * own window stays open forever and is therefore never emitted, so
    * the file sink holds exactly the real windows; a watermark or
    * flush-semantics regression surfaces as missing/extra rows against
    * the batch oracle. Scale: state = open windows × event types, file
    * manifest grows with emitted windows only. */
  private def q100(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val sinkOut = graft.operators.FileIO.scratch(dir, s"q100_sink_$uid")
    val cp = graft.operators.FileIO.scratch(dir, s"q100_cp_$uid")
    // day shards carrying (event_type, us) — richer than q87's
    // (user_id, us) shards, same dump-once contract; 2 main batches +
    // the sentinel flush batches
    val agg = Replay.replayStream(s, dir, "events_stream_days_typed", 15)
      .select(col("event_type"), expr("timestamp_micros(us)").as("ts"))
      .withWatermark("ts", "40 days") // > corpus span ⇒ order-independent
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    // flush sentinels: the first pushes the watermark beyond every real
    // window (real windows end ≤ maxDay+1; watermark after = maxUs +
    // 2 days); the SECOND forces the data batch in which the append-mode
    // aggregation actually emits those closed windows — the sentinels'
    // own far-future windows never close, so the sink holds exactly the
    // real windows
    val flush = Replay.flushUs(s, dir)
    try {
      Replay.withSentinels(s, dir, "events_stream_days_typed",
          Seq(Replay.sentinel(flush, "__flush")),
          Seq(Replay.sentinel(flush + 600L * 1000000L, "__flush"))) { steps =>
        // scope stateful parallelism down while the finite replay drains —
        // per-partition state-store + sink-manifest commits dominate
        // otherwise (same sizing note as q84/q87); no-data batches off:
        // the two-flush discipline puts every window emission in a REAL
        // data batch (q87/q173's discipline)
        run(withConfs(s, twoParts, noDataOff) {
          agg.writeStream
            .outputMode("append")
            .format("parquet")
            .option("path", sinkOut)
            .option("checkpointLocation", cp)
            .start()
        }, "q100", steps: _*)
      }
      // detach from the sink files before the dirs are removed (the dump
      // stays pristine and cached for repeated passes)
      Replay.local(s.read.parquet(sinkOut)
        .select(date_format(col("window.start"), "yyyy-MM-dd").as("day"),
          col("event_type"), col("n"))
        .orderBy("day", "event_type"))
    } finally rmrfAll(s, sinkOut, cp)
  }

  /** q222: the watermark's NEGATIVE contract — late data is actually
    * DROPPED, and the drop is accounted. Every other streaming gate
    * proves equivalence to batch on a finite replay where nothing is
    * late (40-day delays > corpus span); this one makes rows genuinely
    * late and pins what happens to them. Phase A writes the on-time
    * slice (days ≥ 16) and drains — the watermark advances to
    * max(A) − 1 h. Phase B then appends days ≤ 9: every row's 1-day
    * window ended far below the watermark, so the aggregation drops
    * ALL of them, and `numRowsDroppedByWatermark` (the state-operator
    * metric a production pipeline alerts on) must equal the number of
    * DISTINCT LATE WINDOWS exactly — the filter sits at the state store,
    * AFTER the partial+final hash aggregates have merged the batch to
    * one row per window key, so the metric counts window-granularity
    * rows, not raw inputs. The oracle hash-checks it as the 'DROPPED'
    * row next to the per-day on-time counts. Phased appends make batch
    * composition deterministic (no reliance on file-source mtime
    * ordering); the two-sentinel flush then closes the real windows
    * (q100's discipline — sentinel windows never close, so they never
    * surface). State: open windows only; dropped rows never enter it. */
  private def q222(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = graft.operators.FileIO.scratch(dir, s"q222_src_$uid")
    val ev = Tables.events(s, dir)
      .select(unix_micros(col("ts")).as("us"), dayofmonth(col("ts")).as("dom"))
    // phase slices and sentinels are pure functions of the source dir —
    // library-cached one-file parquets copied into the per-run src
    // (4 Spark write jobs per invocation → 4 file copies, r17)
    val libBase = graft.operators.FileIO.scratch(dir, "q222_lib")
    def writeSlice(tag: String, cond: org.apache.spark.sql.Column): Unit =
      Replay.copySliceInto(s, src, libBase, tag)(ev.filter(cond).select("us"))
    writeSlice("a", col("dom") >= 16) // phase A: on-time
    val schema = new org.apache.spark.sql.types.StructType().add("us", "long")
    val agg = s.readStream.schema(schema).parquet(src)
      .select(expr("timestamp_micros(us)").as("ts"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
    // a batch only FILTERS against a watermark some earlier batch already
    // carried in its metadata, so phase B must wait until one batch has
    // RUN with the post-A watermark (the engine's no-data micro-batch —
    // a drain alone does not promise it has fired yet).
    // Progress reports the watermark each batch was planned with; poll it.
    def awaitCommittedWatermark(query: org.apache.spark.sql.streaming.StreamingQuery,
        ms: Long): Unit = {
      def committed = query.recentProgress.exists(p =>
        Option(p.eventTime.get("watermark"))
          .exists(java.time.Instant.parse(_).toEpochMilli >= ms))
      // FAIL LOUDLY on timeout rather than proceed: writing phase B
      // against an uncommitted watermark silently turns the drop count
      // load-dependent (observed once at 10× under a concurrent bench
      // — a wrong answer that looked like data, not like a hang)
      val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
      while (!committed && System.nanoTime < deadline) Thread.sleep(25)
      require(committed,
        "q222: the post-phase-A watermark did not commit within 120 s " +
          "(host overload?) — refusing to write the late phase against " +
          "an unplanned watermark")
    }
    val maxUs = Replay.eventsMaxUs(s, dir)
    def flushRow(us: Long): Unit = Replay.appendRowsFile(s, src, schema,
      Seq(Row(us)), libBase = Some(libBase))
    // NO noDataMicroBatches override here, unlike the flush-sentinel
    // gates: the late-row filter compares against the watermark COMMITTED
    // BY THE PREVIOUS BATCH (SPARK-40925's two-watermark design — a batch
    // that merely computed a new watermark hasn't committed it for late
    // filtering yet), and it is exactly the engine's no-data micro-batch
    // after each drain that commits it. Disable them and phase B would be
    // planned with the pre-A watermark — nothing would drop.
    try drain(s, "q222", agg, "append", Seq(twoParts), Seq(
        query => { // batch 0 drained: wm → max(A) − 1 h, once committed
          awaitCommittedWatermark(query, maxUs / 1000L - 3600L * 1000)
          writeSlice("b", col("dom") <= 9) // phase B: all late — dropped, counted
        },
        // two-sentinel flush (q100's discipline): the second sentinel's
        // DATA batch carries the first's watermark, so emission of the
        // real windows never depends on a no-data batch racing stop()
        _ => flushRow(Replay.flushUs(s, dir)),
        _ => flushRow(Replay.flushUs(s, dir) + 600L * 1000000L))) { (t, progress) =>
      val dropped = progress
        .flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      t.select(date_format(col("window.start"), "yyyy-MM-dd").as("day"), col("n"))
        .union(s.range(1).select(lit("DROPPED").as("day"), lit(dropped).as("n")))
        .orderBy("day")
    } finally rmrfAll(s, src)
  }

  /** State rows remaining after the most recent q87 drain, read off the
    * final StreamingQueryProgress (spec pin: must equal the number of
    * groups still holding OPEN sessions — i.e. 1, the flush sentinel). */
  @volatile private[graft] var q87FinalStateRows: Long = -1L

  /** q87: explicit state management — gap-sessionization via
    * `flatMapGroupsWithState` across REAL multiple micro-batches (events
    * are re-sharded by day and fed `maxFilesPerTrigger` files at a time,
    * so sessions genuinely persist and extend across batches). The state
    * merge is ORDER-INDEPENDENT: sessions and new events are merged as
    * intervals glued when the gap is under 30 min — the connected
    * components of the "within 30 min" relation don't depend on arrival
    * order, so the result is exact whatever the batch composition.
    *
    * State is WATERMARK-EVICTED (the 100 TB contract): once the event-time
    * watermark passes `last_us + gap`, no arrivable event (all ≥ watermark)
    * can extend that session, so it is emitted EXACTLY ONCE (append mode)
    * and dropped from state; a group whose sessions all closed is removed
    * entirely (`state.remove`). Groups with no new data are woken by
    * `EventTimeTimeout` set to the earliest possible close among their open
    * sessions. State therefore holds only open sessions at every instant —
    * bounded by active users × gap, NOT by stream history (the unbounded
    * per-key buffering of the reference's reducer, mapreduce.py:118-128,
    * is exactly what this avoids). The watermark delay (40 days) exceeds
    * the corpus span, so the finite replay is order-independent: no real
    * event is ever late whatever order the file source delivers day
    * shards. Real windows are flushed by two sentinel events (user −1)
    * past `maxUs + delay`: the first advances the watermark beyond every
    * real session close, the second triggers the batch in which that
    * watermark fires the timeouts (sentinel sessions themselves stay open
    * and are filtered out). Must equal the batch session_window
    * computation (same oracle as q71). */
  private def q87(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = 1800L * 1000000L
    // the watermarked ts column must ride into the stateful operator's
    // input (the event-time-timeout check reads the watermark metadata
    // off the child's output attributes), so keep it alongside us
    val stream = Replay.replayStream(s, dir, "events_stream_days", 15)
      // 2 main batches + 2 sentinel flush batches = 4 micro-batches
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "40 days") // > corpus span ⇒ order-independent
      .select(col("user_id"), col("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
    // session summary = (start, lastEventUs, nEvents); plain tuples keep
    // the state encoder on the well-trodden product path
    val sessions = stream.groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], (Long, Long, Long, Long)](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (user, rows, state: GroupState[List[(Long, Long, Long)]]) =>
          val held = state.getOption.getOrElse(Nil)
          val pieces = (held ++ rows.map { case (_, t, _) => (t, t, 1L) })
            .sortBy(p => (p._1, p._2))
          val merged = pieces.foldLeft(List.empty[(Long, Long, Long)]) { (acc, p) =>
            acc match {
              case cur :: rest if p._1 - cur._2 < gapUs =>
                (cur._1, math.max(cur._2, p._2), cur._3 + p._3) :: rest
              case _ => p :: acc
            }
          }.reverse
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // closed = can never merge again: any extending event would have
          // ts < last + gap ≤ watermark, and such events no longer arrive
          val (closed, open) = merged.partition(_._2 + gapUs <= wmUs)
          if (open.nonEmpty) {
            state.update(open)
            // earliest possible close, µs→ms rounded UP so the timeout
            // timestamp is strictly beyond the current watermark
            state.setTimeoutTimestamp((open.map(_._2).min + gapUs + 999L) / 1000L)
          } else state.remove()
          closed.iterator.map(m => (user, m._1, m._2, m._3))
      }
      .toDF("user_id", "start_us", "last_us", "n_events")
    // flush sentinels (user −1; removed again after the drain, so the
    // cached day-shard dump is always restored to pristine state): the
    // first moves the watermark to maxUs + 2 days, the second merges into
    // the same open session and forces the batch that fires the timeouts
    val flush = Replay.flushUs(s, dir)
    Replay.withSentinels(s, dir, "events_stream_days",
        Seq(Replay.sentinel(flush, -1L)),
        Seq(Replay.sentinel(flush + 600L * 1000000L, -1L))) { steps =>
      // scope stateful parallelism down while the finite replay drains —
      // state-store commits per partition per batch dominate otherwise
      // (same sizing note as q84); no-data batches off — the two-sentinel
      // discipline never needs them (same rationale as q173)
      drain(s, "q87", sessions, "append", Seq(twoParts, noDataOff), steps) {
        (t, progress) =>
          // pin material: state rows surviving the full drain (groups
          // still holding open sessions — the sentinel user only)
          q87FinalStateRows = progress.reverseIterator
            .map(_.stateOperators).collectFirst {
              case ops if ops.nonEmpty => ops.map(_.numRowsTotal).sum
            }.getOrElse(-1L)
          t.filter(col("user_id") >= 0) // drop the sentinel's emissions (none)
            .select(col("user_id"), col("start_us"),
              (col("last_us") + gapUs).as("end_us"), col("n_events"))
            .orderBy("user_id", "start_us")
      }
    }
  }

  /** q118: streaming MERGE/upsert sink via `foreachBatch` — the CDC
    * "apply the change stream to a table" shape that the append-mode file
    * sink (q100) can't express: each micro-batch is folded into a keyed
    * parquet target holding one latest row per user. The per-batch merge
    * (old state ∪ batch, keep max by (ts, event_id)) is ASSOCIATIVE and
    * IDEMPOTENT, so the final table is the global latest-per-key whatever
    * the batch composition — and a replayed batch (failure/restart with
    * the same checkpoint) converges to the same state, which is the
    * exactly-once story for an overwrite-merge sink. The argmax is
    * `max(struct(ts, id, …))` — map-side combinable, no window sort.
    *
    * Scale shape: a real deployment swaps the full-rewrite target for a
    * partitioned/bucketed table and rewrites only touched partitions
    * (the merge logic is unchanged); state lives in the TARGET, not the
    * stream — the streaming operator itself is stateless. Gated against
    * the batch latest-record compaction (q91's oracle). */
  /** One latest row per user by (ts, event_id) — q118's per-batch merge
    * kernel. Associative + idempotent over unions (property-pinned in
    * StreamingSpec), which is what makes the fold over micro-batches
    * order-insensitive and replay-safe. */
  private[streaming] def latestPerUser(df: DataFrame): DataFrame = df
    .groupBy("user_id")
    .agg(max(struct(col("last_ts_us"), col("last_event_id"),
      col("last_event_type"), col("last_value"))).as("m"))
    .select(col("user_id"), col("m.last_event_id").as("last_event_id"),
      col("m.last_event_type").as("last_event_type"),
      col("m.last_ts_us").as("last_ts_us"),
      col("m.last_value").as("last_value"))

  private def q118(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val target = graft.operators.FileIO.scratch(dir, s"q118_target_$uid")
    val tmp = graft.operators.FileIO.scratch(dir, s"q118_tmp_$uid")
    val cp = graft.operators.FileIO.scratch(dir, s"q118_cp_$uid")
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def exists(p: String) = fs.exists(new org.apache.hadoop.fs.Path(p))
    def rmrf(p: String): Unit = fs.delete(new org.apache.hadoop.fs.Path(p), true)
    val stream = Replay.replayStream(s, dir, "events_stream_days_upsert", 12) // several genuine merge batches
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"), col("us").as("last_ts_us"),
        col("value").as("last_value"))
    try {
      run(withConfs(s, twoParts) {
        stream.writeStream
          .option("checkpointLocation", cp)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val sp = batch.sparkSession
            val merged =
              if (exists(target))
                latestPerUser(sp.read.parquet(target).unionByName(batch))
              else latestPerUser(batch)
            // write-then-swap: the target is never half-written, and the
            // read above finished before the old copy is dropped
            merged.coalesce(1).write.mode("overwrite").parquet(tmp)
            rmrf(target)
            if (!fs.rename(new org.apache.hadoop.fs.Path(tmp),
                new org.apache.hadoop.fs.Path(target)))
              sys.error(s"q118: rename $tmp -> $target failed")
            ()
          }
          .start()
      }, "q118")
      Replay.local(s.read.parquet(target)
        .select("user_id", "last_event_id", "last_event_type",
          "last_ts_us", "last_value")
        .orderBy("user_id"))
    } finally rmrfAll(s, target, tmp, cp)
  }

  /** q125: `transformWithState` — Spark 4's arbitrary-state API (the
    * successor to q87's flatMapGroupsWithState) on the RocksDB state
    * store, its required production backend: per-user running stats
    * (count / id-sum / min / max) held in a typed `ValueState` and
    * re-emitted each update. Every accumulator is integer arithmetic,
    * so the fold is order-independent across any batch composition —
    * the memory-sink rows are per-batch snapshots, and the LATEST
    * snapshot per user (max count wins; counts strictly increase) must
    * equal the batch aggregation oracle. State is one fixed-width tuple
    * per user — bounded by keyspace, not stream length — and RocksDB
    * keeps it off-heap and spillable at production state volumes. */
  private def q125(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    val processor =
      new StatefulProcessor[Long, (Long, Long), (Long, Long, Long, Long, Long)] {
        @transient private var st: ValueState[(Long, Long, Long, Long)] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState[(Long, Long, Long, Long)]("agg",
            org.apache.spark.sql.Encoders.product[(Long, Long, Long, Long)],
            TTLConfig.NONE)
        override def handleInputRows(key: Long, rows: Iterator[(Long, Long)],
            tv: TimerValues): Iterator[(Long, Long, Long, Long, Long)] = {
          var (n, sum, mn, mx) = Option(st.get())
            .getOrElse((0L, 0L, Long.MaxValue, Long.MinValue))
          rows.foreach { case (_, id) =>
            n += 1; sum += id; mn = math.min(mn, id); mx = math.max(mx, id)
          }
          st.update((n, sum, mn, mx))
          Iterator.single((key, n, sum, mn, mx))
        }
      }
    val stream = Replay.replayStream(s, dir, "events_stream_days_upsert", 12)
      .select(col("user_id"), col("event_id"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(processor, TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "n_events", "sum_event_ids", "min_event_id", "max_event_id")
    // transformWithState requires the RocksDB provider; scope it (and the
    // drain parallelism) to this finite replay.
    // Latest snapshot per user: counts strictly increase, so max(n) is
    // the final state — integer argmax, exact at any batch composition
    drain(s, "q125", stream, "update", Seq(twoParts, rocksDb))((t, _) => t
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("sum_event_ids"),
        col("min_event_id"), col("max_event_id"))).as("m"))
      .select(col("user_id"), col("m.n_events").as("n_events"),
        col("m.sum_event_ids").as("sum_event_ids"),
        col("m.min_event_id").as("min_event_id"),
        col("m.max_event_id").as("max_event_id"))
      .orderBy("user_id"))
  }

  /** q184: TIMER-driven state eviction in `transformWithState` — the
    * arbitrary-state surface q125 leaves uncovered: q125's ValueState
    * only ever changes when input for the key arrives, but production
    * session timeouts must fire when input STOPS arriving. Here the
    * eviction logic lives exclusively in `handleExpiredTimer`:
    * `handleInputRows` only merges events into open session intervals
    * (q87's interval glue, verbatim semantics) and re-arms one
    * event-time timer at the earliest possible session close; when the
    * watermark passes that expiry the engine calls the timer handler,
    * which emits every session that can no longer merge and re-arms for
    * the remainder. Runs on RocksDB (the required transformWithState
    * backend). Same finite-replay discipline as q87: 40-day watermark
    * delay makes the drain order-independent (no timer fires until the
    * sentinel), one sentinel advances the watermark past every real
    * close, and a second sentinel forces the REAL micro-batch in which
    * the expired timers actually run (never relying on no-data
    * batches). The sentinel's own session stays open forever — filtered
    * out, never emitted. Result must equal the batch gap-merge oracle
    * (q87's). At scale: state is open intervals per key + ONE timer per
    * key, both watermark-bounded; the timer registry is the engine's
    * RocksDB-backed secondary index, not a user-space scan of all keys
    * per batch — which is what makes timeout detection O(expired), not
    * O(keys), on a 100 TB keyspace. */
  private def q184(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
    val gapUs = 1800L * 1000000L
    // state type is Seq, NOT List: the value deserializer materializes a
    // List under codegen but a Vector under the interpreted fallback
    // (factoryMode=NO_CODEGEN, [[gateExecConfs]]) — a List-typed state
    // would CCE the moment the interpreted path runs. Seq admits both;
    // merge() normalizes to List internally for the :: patterns.
    val sessEnc = implicitly[org.apache.spark.sql.Encoder[Seq[(Long, Long, Long)]]]
    val processor =
      new StatefulProcessor[Long, (Long, Long, java.sql.Timestamp), (Long, Long, Long, Long)] {
        @transient private var st: ValueState[Seq[(Long, Long, Long)]] = _
        override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
          st = getHandle.getValueState("sessions", sessEnc, TTLConfig.NONE)
        private def merge(pieces: Seq[(Long, Long, Long)]) =
          pieces.sortBy(p => (p._1, p._2))
            .foldLeft(List.empty[(Long, Long, Long)]) { (acc, p) =>
              acc match {
                case cur :: rest if p._1 - cur._2 < gapUs =>
                  (cur._1, math.max(cur._2, p._2), cur._3 + p._3) :: rest
                case _ => p :: acc
              }
            }.reverse
        /** One timer per key at the earliest possible close (µs→ms
          * rounded UP so the expiry sits strictly past the watermark). */
        private def rearm(open: Seq[(Long, Long, Long)]): Unit = {
          getHandle.listTimers().foreach(getHandle.deleteTimer)
          if (open.nonEmpty)
            getHandle.registerTimer((open.map(_._2).min + gapUs + 999L) / 1000L)
        }
        override def handleInputRows(key: Long,
            rows: Iterator[(Long, Long, java.sql.Timestamp)],
            tv: TimerValues): Iterator[(Long, Long, Long, Long)] = {
          val held = Option(st.get()).getOrElse(Nil)
          // merge only — eviction is EXCLUSIVELY the timer handler's job
          val merged = merge(held ++ rows.map { case (_, us, _) => (us, us, 1L) })
          st.update(merged)
          rearm(merged)
          Iterator.empty
        }
        override def handleExpiredTimer(key: Long, tv: TimerValues,
            info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long)] = {
          val held = Option(st.get()).getOrElse(Nil)
          val wmUs = tv.getCurrentWatermarkInMs() * 1000L
          val (closed, open) = held.partition(_._2 + gapUs <= wmUs)
          if (open.nonEmpty) st.update(open) else st.clear()
          rearm(open)
          closed.iterator.map(m => (key, m._1, m._2, m._3))
        }
      }
    val sessions = Replay.replayStream(s, dir, "events_stream_days", 15)
      // 2 main batches + 2 sentinel flush batches = 4 micro-batches
      .withColumn("ts", expr("timestamp_micros(us)"))
      .withWatermark("ts", "40 days") // > corpus span ⇒ order-independent
      // ts rides into the operator input so the watermark metadata
      // reaches the stateful operator (same note as q87)
      .select(col("user_id"), col("us"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(processor, TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "start_us", "last_us", "n_events")
    // the first sentinel advances the watermark past every close; the
    // second merges into the open sentinel session and forces the batch
    // whose timers fire
    val flush = Replay.flushUs(s, dir)
    Replay.withSentinels(s, dir, "events_stream_days",
        Seq(Replay.sentinel(flush, -1L)),
        Seq(Replay.sentinel(flush + 600L * 1000000L, -1L))) { steps =>
      // RocksDB is transformWithState's required backend; no-data batches
      // off because timers fire in the second sentinel's REAL batch (the
      // q173/q87 discipline — never a dependence on bookkeeping batches)
      drain(s, "q184", sessions, "append", Seq(twoParts, rocksDb, noDataOff),
          steps)((t, _) => t
        .filter(col("user_id") >= 0) // the sentinel session never closes
        .select(col("user_id"), col("start_us"),
          (col("last_us") + gapUs).as("end_us"), col("n_events"))
        .orderBy("user_id", "start_us"))
    }
  }

  /** q175: streaming restart + exactly-once — the recovery contract every
    * other streaming gate assumes but none exercises: a query is stopped
    * PART-WAY through the corpus and a NEW query instance resumes from
    * the same checkpoint over a grown source directory. The file source
    * must replay nothing it already committed (offsets in the checkpoint
    * WAL) and the file sink must surface each input row exactly once
    * (manifest-based commit; an uncommitted in-flight batch from the
    * stopped instance is invisible until re-emitted). The gate stages
    * half the day shards, drains + stops, stages the rest, resumes, and
    * aggregates the sink: count / distinct-id count / exact id sum per
    * event type — duplicates and losses each break a different column,
    * and all three must equal the batch aggregation over the full table.
    * The pipeline itself is a stateless projection, so this isolates the
    * source/sink transactional machinery from state-store semantics. */
  private def q175(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = graft.operators.FileIO.scratch(dir, s"q175_src_$uid")
    val sink = graft.operators.FileIO.scratch(dir, s"q175_sink_$uid")
    val cp = graft.operators.FileIO.scratch(dir, s"q175_cp_$uid")
    try {
      driveRestartHalves(s, dir, "q175", src, stream => stream
        .writeStream
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", cp)
        .start())
      Replay.local(s.read.parquet(sink)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          sum(col("event_id")).as("id_sum"))
        .orderBy("event_type"))
    } finally rmrfAll(s, src, sink, cp)
  }

  /** q176: `Trigger.AvailableNow` — the production batch-drain trigger
    * (periodic backfill / catch-up jobs): the query plans the snapshot of
    * available files at start, consumes it in rate-limited micro-batches
    * (maxFilesPerTrigger still applies, unlike the deprecated Trigger.Once
    * which gulped everything in one batch), and TERMINATES ITSELF. Every
    * other gate drains through a test API that leaves the query
    * running; this one must come to a clean self-stop, which
    * the gate enforces with a bounded awaitTermination. Aggregation is
    * the exact-DECIMAL per-type stats, oracled against the batch table. */
  private def q176(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.dec
    val agg = Replay.replayStream(s, dir, "events_stream_days_upsert", 12) // 3 planned batches over 30 shards
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("sum_value"))
    // AvailableNow's contract IS self-termination — a hang here is a
    // correctness failure, not a timing flake, so the drain fails loudly
    drain(s, "q176", agg, "complete", Seq(twoParts), availableNowMs = 300000L)(
      (t, _) => t.orderBy("event_type"))
  }

  /** q177: the BUILT-IN session_window running as a STREAM — the third
    * corner of the sessionization triangle: q71 gates the built-in in
    * batch, q87 gates hand-rolled streaming session state
    * (flatMapGroupsWithState), and this gates Spark's own streaming
    * session operator (MergingSessionsExec: per-key session state that
    * merges across micro-batches as gaps close). Multi-batch replay via
    * the day-shard dump (maxFilesPerTrigger), complete output mode so
    * every session — open or closed — surfaces without sentinel flushing;
    * the result must equal the batch session_window computation exactly
    * (same oracle as q71/q87). At scale the state is open sessions per
    * key (watermark-evicted in the append-mode production form), and the
    * operator's merge is the engine-maintained version of q87's interval
    * glue. */
  private def q177(s: SparkSession, dir: String): DataFrame = {
    val agg = Replay.replayStream(s, dir, "events_stream_days", 12) // sessions must merge across batches
      .withColumn("ts", expr("timestamp_micros(us)"))
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
    drain(s, "q177", agg, "complete", Seq(twoParts))((t, _) => t.orderBy("user_id", "start_us"))
  }

  /** q180: UNION of two streams — one streaming query over TWO sources
    * (each a filtered file stream on its own offsets, tracked separately
    * in the shared checkpoint): the combining-feeds production shape.
    * Catalyst plans one query with two source legs; progress reporting,
    * recovery, and the complete-mode aggregation all span both. The two
    * legs deliberately select DIFFERENT slices of the same table so a
    * leg-drop or double-replay of either side breaks a different output
    * row; result ≡ the batch union oracle. */
  private def q180(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    import graft.functions.Exact.dec
    def leg(eventType: String, tag: String) = eventsStream(s, dir)
      .filter(col("event_type") === eventType)
      .select(col("event_id"), lit(tag).as("side"), col("value"))
    val unioned = leg("click", "c").union(leg("purchase", "p"))
      .groupBy("side")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("sum_value"))
    drain(s, "q180", unioned, "complete")((t, _) => t.orderBy("side"))
  }

  /** q71: session_window (30-minute gap) per user. */
  private def q71(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("session_window.start")).as("start_us"),
        unix_micros(col("session_window.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  /** q168: stream-STATIC dimension enrichment — the most common
    * production streaming shape: an unbounded fact stream joined to a
    * bounded dimension table loaded batch-side. The dim side is
    * broadcast (no state store involved — unlike stream-stream q84,
    * a static join needs no watermark and holds no join state; the
    * dimension simply ships with the tasks), then the enriched stream
    * aggregates in complete mode. LEFT join + UNKNOWN default keeps
    * the gate deterministic at every scale factor regardless of key
    * coverage. Money sums go through the exact-DECIMAL discipline. */
  private def q168(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    import graft.functions.Exact.dec
    val stream = eventsStream(s, dir)
    val dim = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = stream
      .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(coalesce(col("c_mktsegment"), lit("UNKNOWN")).as("segment"),
        col("event_type"), col("value"))
      .groupBy("segment", "event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("total_value"))
    drain(s, "q168", agg, "complete")((t, _) => t.orderBy("segment", "event_type"))
  }

  /** q289: STREAMING THE TSV STORE — the reference's native format
    * becomes an unbounded source ([[graft.sources.TsvMicroBatchStream]],
    * TableCapability.MICRO_BATCH_READ): the offset is a version into
    * the checkpointed seen-files log (since r15 — one integer, O(new
    * files) per trigger), a micro-batch is the logged file delta, and
    * the TSV SINK's
    * commit-time rename (q277) is exactly the immutability contract the
    * source's listing relies on (half-written task files live under
    * `_temporary/`, invisible to offsets). The gate writes the corpus
    * in TWO WAVES through the DSv2 sink with the stream already
    * running, so the second wave arrives as a genuinely later
    * micro-batch (StreamingSpec pins batchId ≥ 1 and the per-batch
    * input split); complete-mode counts must equal the batch oracle
    * over the full table. This closes the reference's own gap: its TSV
    * front door is batch-only (SURVEY §1), ours streams. */
  private def q289(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val root = graft.operators.FileIO.scratch(dir, "stream_tsv_src")
    rmrfAll(s, root)
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(4)).as("g"))
    def dump(pred: org.apache.spark.sql.Column): Unit = base.filter(pred)
      .write.format(classOf[graft.sources.TsvSourceProvider].getName)
      .mode("append").option("path", root).save()
    dump(col("event_id") % 2 === 0)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, g BIGINT")
    val agg = s.readStream
      .format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema).option("path", root).load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("g").as("sum_g"))
    // second wave: a later micro-batch
    try drain(s, "q289", agg, "complete",
        between = Seq(_ => dump(col("event_id") % 2 === 1)))(
      (t, _) => t.orderBy("event_type"))
    finally rmrfAll(s, root)
  }

  /** q303: ADMISSION CONTROL on the TSV micro-batch source
    * ([[graft.sources.TsvMicroBatchStream]], `SupportsAdmissionControl`
    * + `SupportsTriggerAvailableNow`) — the reference's chunk-size
    * planning (mapreduce.py:148-150) applied to the UNBOUNDED path: a
    * stream cold-started over a grown store drains in BOUNDED
    * micro-batches (`maxFilesPerTrigger` files per version of the
    * seen-files log) instead of one table-sized batch, and under
    * `Trigger.AvailableNow` the drain frontier is pinned at start so
    * the query self-terminates at exactly the prepared file set. At
    * 100 TB this is what makes restart survivable: the first trigger
    * after a weekend of backlog is the same size as every other
    * trigger — memory, shuffle, and state growth stay flat. The gate
    * cold-starts over a 24-shard store at 5 files/trigger, REQUIRES
    * the drain to have taken ≥5 data batches (the bounded-drain
    * invariant — one giant batch fails the gate), and the drained
    * aggregate must equal the batch oracle. TsvSourceSpec pins the
    * per-batch file cap, the O(1) offset payload, log compaction, and
    * restart recovery at the unit level. */
  private def q303(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val root = graft.operators.FileIO.scratch(dir, "stream_tsv_admit")
    rmrfAll(s, root)
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(4)).as("g"))
      .repartition(24) // 24 shards / 5 per trigger = 5 bounded batches
      .write.format(classOf[graft.sources.TsvSourceProvider].getName)
      .mode("append").option("path", root).save()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, g BIGINT")
    val agg = s.readStream
      .format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema).option("path", root)
      .option("maxFilesPerTrigger", "5")
      .load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("g").as("sum_g"))
    try drain(s, "q303", agg, "complete", availableNowMs = 180000L) { (t, progress) =>
      val dataBatches = progress.count(_.numInputRows > 0)
      require(dataBatches >= 5,
        s"q303: cold start must drain in bounded micro-batches " +
          s"(expected >= 5 with data, got $dataBatches) — admission " +
          "control did not bound the drain")
      t.orderBy("event_type")
    } finally rmrfAll(s, root)
  }

  /** q308: STREAMING RETENTION HORIZON (`maxFileAgeMs`) — the
    * ever-appending store's memory contract made a gated behavior: a
    * production ingestion directory accumulates years of shards, and
    * without a horizon the source's seen-set (and its compact
    * snapshots) grow with the store's LIFETIME, not its live window.
    * With `maxFileAgeMs`, files older than (newest file's mtime − age)
    * are never admitted and their seen entries expire at compaction —
    * bounded driver state, FileStreamSource's maxFileAge contract; the
    * horizon anchors to the newest FILE so an idle store expires
    * nothing. The gate lands an ARCHIVE stratum (event_id % 5 == 0)
    * with hour-old mtimes and a LIVE stratum with fresh ones in the
    * SAME store, drains with a 10-minute horizon under bounded
    * admission, and the aggregate must equal the oracle over the LIVE
    * stratum only — physically-present archive shards contribute
    * nothing. TsvSourceSpec pins the mechanics (never-admitted old
    * shard, seen-set expiry in the compact snapshot). */
  private def q308(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val root = graft.operators.FileIO.scratch(dir, "stream_tsv_retention")
    rmrfAll(s, root)
    val fmt = classOf[graft.sources.TsvSourceProvider].getName
    val base = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
    // archive stratum: landed an hour ago (mtimes aged after the write)
    base.filter(col("event_id") % 5 === 0).repartition(3)
      .write.format(fmt).mode("append").option("path", root).save()
    val now = System.currentTimeMillis()
    new java.io.File(root).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_"))
      .foreach(f => require(f.setLastModified(now - 3600000L),
        s"q308: could not age $f"))
    // live stratum: fresh mtimes
    base.filter(col("event_id") % 5 =!= 0).repartition(6)
      .write.format(fmt).mode("append").option("path", root).save()
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, event_type STRING, cents BIGINT")
    val agg = s.readStream.format(fmt).schema(schema).option("path", root)
      .option("maxFilesPerTrigger", "2")
      .option("maxFileAgeMs", "600000")
      .load()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"))
    try drain(s, "q308", agg, "complete", availableNowMs = 180000L) { (t, progress) =>
      // the drain stayed bounded (6 live shards at 2/trigger = 3 data
      // batches); the VALUE check is the horizon itself — the oracle
      // excludes the archive stratum the store physically holds
      val dataBatches = progress.count(_.numInputRows > 0)
      require(dataBatches >= 3,
        s"q308: bounded drain expected >= 3 data batches, got $dataBatches")
      t.orderBy("event_type")
    } finally rmrfAll(s, root)
  }

  /** q293: stream PIT against a BUCKETED interval table — q285's
    * documented scale path built: when the versioned dimension outgrows
    * a broadcast, the compacted SCD2 intervals persist ONCE as a
    * bucketed catalog table (bucketBy + sortBy on the key, one file per
    * bucket) and the per-micro-batch join becomes a SORT-MERGE whose
    * dim side reads co-located, pre-sorted buckets with NO exchange and
    * NO re-broadcast — only the O(batch) stream side moves (the q260
    * discipline applied to the PIT shape; the range residual rides the
    * merge join's condition). StreamingSpec pins the bucketed dim scan
    * and the exchange-free dim branch on the real micro-batch plan.
    * Tier grain deliberately differs from q285 (25k vs 50k) so the two
    * gates state distinct results. */
  private def q293(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    import graft.functions.Exact.dec
    ensurePitDim(s, dir)
    val dim = s.table(pitDimTbl).hint("merge")
    val stream = eventsStream(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
    val agg = stream
      .join(dim,
        col("user_id") === col("o_custkey") &&
          col("us") >= col("vf") && col("us") < col("vt"), "left")
      .select(coalesce(col("tier").cast("string"), lit("NONE")).as("tier"),
        col("event_type"), col("value"))
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("total_value"))
    drain(s, "q293", agg, "complete")((t, _) => t.orderBy("tier", "event_type"))
  }

  private[streaming] val pitDimTbl = "graft_q293_pit_dim"

  /** Build the compacted SCD2 interval dim ONCE per (process, dir) as a
    * bucketed table (see [[q293]]). */
  private[streaming] def ensurePitDim(s: SparkSession, dir: String): Unit = {
    if (tableSource.get(pitDimTbl) != dir || !s.catalog.tableExists(pitDimTbl)) {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("o_custkey").orderBy("vf")
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_totalprice").as("px"))
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("vf"),
          floor(col("px") / 25000).cast("long").as("tier"))
        .withColumn("vt",
          coalesce(lead(col("vf"), 1).over(w), lit(Long.MaxValue)))
        .withColumn("chg",
          when(lag(col("tier"), 1).over(w).isNull ||
            lag(col("tier"), 1).over(w) =!= col("tier"), lit(1))
            .otherwise(lit(0)))
        .withColumn("run",
          sum(col("chg")).over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("o_custkey", "run")
        .agg(min("vf").as("vf"), max("vt").as("vt"), first("tier").as("tier"))
        .select("o_custkey", "vf", "vt", "tier")
        .repartition(16, col("o_custkey"))
        .write.mode("overwrite").bucketBy(16, "o_custkey")
        .sortBy("o_custkey", "vf").saveAsTable(pitDimTbl)
      tableSource.put(pitDimTbl, dir)
    }
  }

  /** q292: NAME-BASED STREAMING — the whole pipeline with no path
    * strings anywhere: the table is CREATEd through the DSv2 catalog
    * (q290), loaded by `spark.readStream.table("cat.ns.t")` (the
    * catalog's TsvTable reports MICRO_BATCH_READ, q289's stream), and
    * fed by SQL `INSERT INTO` while the stream runs — DDL, DML, and
    * the unbounded read all resolve through one identifier. This is
    * the production composition the pieces were built for: ingestion
    * jobs INSERT by name, the curation stream tails the same name, and
    * nobody passes storage layout around. Second wave arrives as a
    * later micro-batch (same offset contract as q289); complete-mode
    * counts must equal the batch oracle over the full source. */
  private def q292(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    val cat = graft.operators.FileIO.ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.events_t")
    s.sql(s"CREATE TABLE $cat.lake.events_t " +
      "(event_id BIGINT, event_type STRING, g BIGINT)")
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        pmod(col("user_id"), lit(8)).as("g"))
      .createOrReplaceTempView("graft_src292")
    def insert(pred: String): Unit = {
      s.sql(s"INSERT INTO $cat.lake.events_t SELECT * FROM graft_src292 WHERE $pred")
      ()
    }
    insert("event_id % 2 = 0")
    val agg = s.readStream.table(s"$cat.lake.events_t")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("g").as("sum_g"))
    try drain(s, "q292", agg, "complete",
        between = Seq(_ => insert("event_id % 2 = 1")))(
      (t, _) => t.orderBy("event_type"))
    finally {
      s.catalog.dropTempView("graft_src292")
      s.sql(s"DROP TABLE $cat.lake.events_t")
    }
  }

  /** q295: STREAMING WRITE INTO THE CATALOG BY NAME — the write half of
    * the name-based pipeline q292's read half started, closing the one
    * asymmetry in the DSv2 source/sink/catalog story: the TSV table now
    * reports STREAMING_WRITE, so `writeStream.toTable("cat.ns.t")`
    * lands micro-batches through [[graft.sources.TsvStreamingWrite]]
    * with exactly-once visibility (per-epoch task-commit + the epoch
    * ledger + deterministic final names — see its scaladoc; the replay
    * no-op is pinned at the epoch level in TsvStreamingSinkSpec). The
    * gate is q175's restart shape pointed at the catalog: instance 1
    * streams half the day shards into the table and STOPS, instance 2
    * resumes from the same checkpoint over the grown source — offsets
    * in the WAL must not replay, committed epochs must not re-land —
    * and the batch read-back BY NAME is aggregated with the
    * dupes-vs-losses triple (count / distinct / exact id sum), which
    * must equal the batch oracle over the full events table. At 100 TB
    * this is the ingestion contract: streams write, pipelines read, and
    * everyone addresses one identifier — no paths, no manifests, no
    * partial batches ever visible. */
  /** The restart/exactly-once harness shared by q175 (path sink) and
    * q295 (catalog sink): stage HALF the day shards into `src`, run a
    * query instance to drain and STOP, stage the rest, resume a second
    * instance from the SAME checkpoint — offsets in the WAL must not
    * replay, the sink must not re-land. `startSink` receives the
    * projected (event_id, user_id, event_type) stream and must start
    * the query with its own sink attached; instance scoping (shuffle
    * partitions, maxFilesPerTrigger batching) lives HERE so the two
    * restart gates can never drift. */
  private def driveRestartHalves(s: SparkSession, dir: String, gate: String,
      src: String, startSink: DataFrame =>
        org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val shards = Replay.dumpDayShards(s, dir, "events_stream_days_upsert")
    val schema = Replay.dayShardSchema("events_stream_days_upsert")
    val conf = s.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(shards).getFileSystem(conf)
    // flat dump layout (see dumpDayShards): one <day>.parquet file per
    // day; name order = chronological, same as the old day= dirs
    val dayDirs = fs.listStatus(new org.apache.hadoop.fs.Path(shards))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath).sortBy(_.getName)
    def stage(paths: Seq[org.apache.hadoop.fs.Path]): Unit = paths.foreach { p =>
      org.apache.hadoop.fs.FileUtil.copy(fs, p,
        fs, new org.apache.hadoop.fs.Path(src, p.getName), false, conf)
    }
    def runInstance(): Unit = run(withConfs(s, twoParts) {
      startSink(s.readStream.schema(schema)
        // 2 batches per half-corpus instance; batch numbering
        // continues across the restart, so the final batchId ≥ 3
        .option("maxFilesPerTrigger", "8")
        .parquet(src)
        .select(col("event_id"), col("user_id"), col("event_type")))
    }, gate)
    val (firstHalf, secondHalf) = dayDirs.toSeq.splitAt(dayDirs.length / 2)
    stage(firstHalf)
    runInstance() // instance 1: commits the first half, then stops
    stage(secondHalf)
    runInstance() // instance 2: SAME checkpoint — must resume, not replay
  }

  private def q295(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val src = graft.operators.FileIO.scratch(dir, s"q295_src_$uid")
    val cp = graft.operators.FileIO.scratch(dir, s"q295_cp_$uid")
    val cat = graft.operators.FileIO.ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.events_sink")
    s.sql(s"CREATE TABLE $cat.lake.events_sink " +
      "(event_id BIGINT, user_id BIGINT, event_type STRING)")
    try {
      driveRestartHalves(s, dir, "q295", src, stream => stream
        .writeStream
        .option("checkpointLocation", cp)
        .toTable(s"$cat.lake.events_sink"))
      Replay.local(s.table(s"$cat.lake.events_sink")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          sum(col("event_id")).as("id_sum"))
        .orderBy("event_type"))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $cat.lake.events_sink")
      rmrfAll(s, src, cp)
    }
  }

  /** q298: UPDATE-MODE CHANGELOG through the catalog sink — the third
    * output mode on the name-based pipeline (append q295/q296, complete
    * via memory gates): a streaming AGGREGATION writes by name with
    * `outputMode("update")`, which the sink accepts as
    * SupportsStreamingUpdateAsAppend and lands as per-epoch APPENDS of
    * the CHANGED groups — the table becomes a CHANGELOG (a group
    * updated in four epochs appears four times), and the consumer
    * reconstructs current state with one latest-per-key pass
    * (`max_by` on the strictly-growing count — q118's upsert-compaction
    * shape, here against the DSv2 sink instead of foreachBatch). This
    * is the 100 TB metrics-feed contract: the stream never rewrites,
    * consumers compact on read (or periodically via q118), and the
    * reconstruction must equal the one-shot batch aggregate — which is
    * exactly what the oracle states. Epochs are forced by
    * maxFilesPerTrigger over the day shards, so most groups update in
    * most epochs and the changelog is genuinely multi-version (the
    * sink spec pins that shape; this gate pins the values). */
  private def q298(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val cp = graft.operators.FileIO.scratch(dir, s"q298_cp_$uid")
    val cat = graft.operators.FileIO.ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.metrics298")
    s.sql(s"CREATE TABLE $cat.lake.metrics298 " +
      "(event_type STRING, n BIGINT, cents BIGINT)")
    try {
      val agg = Replay.replayStream(s, dir, "events_stream_days_upsert", 8) // ~4 epochs → multi-version log
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      run(agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.lake.metrics298"), "q298")
      // compact-on-read: the count only grows, so max(n) is the latest
      // version and max_by(cents, n) its payload — one pass, no window
      val compacted = s.table(s"$cat.lake.metrics298")
        .groupBy("event_type")
        .agg(max("n").as("n"),
          expr("max_by(cents, n)").as("cents"),
          count(lit(1)).as("n_versions"))
      // changelog-ness is a gate-side INVARIANT, not an oracle column
      // (an oracle can't predict epoch counts). Distribution-tolerant
      // form: the TABLE as a whole must be multi-version (more rows
      // than groups — at least one group re-emitted), not every group —
      // file packing under maxFilesPerTrigger doesn't guarantee every
      // event_type spans two epochs, and a group that legitimately
      // arrives within one micro-batch must not turn into a gate error
      val shape = compacted.agg(
        sum("n_versions").as("versions"), count(lit(1)).as("groups"))
        .head()
      require(shape.getLong(0) > shape.getLong(1),
        s"q298: ${shape.getLong(0)} changelog rows across " +
          s"${shape.getLong(1)} groups — no group was ever re-emitted, " +
          "so update mode did not produce a multi-version changelog")
      Replay.local(compacted
        .select("event_type", "n", "cents").orderBy("event_type"))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $cat.lake.metrics298")
      rmrfAll(s, cp)
    }
  }

  /** q304: CHANGELOG COMPACTION as a catalog MAINTENANCE op — the
    * composition of q298 (update-mode streaming lands a multi-version
    * changelog table: key re-emitted per epoch, consumers compact on
    * read) and q297 (atomic RTAS): a periodic `REPLACE TABLE … AS
    * SELECT max_by(payload, version)` rewrites the changelog into its
    * latest-per-key SNAPSHOT in one staged, atomic flip — readers of
    * the snapshot name see the previous snapshot until the commit
    * renames the staged directory in, and a failed compaction leaves
    * yesterday's snapshot being served (the q297 guarantee, now
    * exercised on a REAL streaming-produced input). At 100 TB this is
    * the metrics-serving pattern: the stream only ever appends, the
    * compaction cost moves from every consumer's read to one periodic
    * atomic rewrite, and the snapshot is a plain table any batch
    * reader addresses by name. Gate invariants: the changelog must be
    * genuinely multi-version (rows > keys — otherwise nothing was
    * compacted and the gate isn't testing the claim), and the
    * compacted snapshot must equal the one-shot batch aggregate (the
    * oracle) — which transitively pins snapshot ≡ changelog
    * reconstruction, since the maintenance SELECT is exactly the
    * consumer's compact-on-read expression. */
  private def q304(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val cp = graft.operators.FileIO.scratch(dir, s"q304_cp_$uid")
    val cat = graft.operators.FileIO.ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.chg304")
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.snap304")
    s.sql(s"CREATE TABLE $cat.lake.chg304 (g BIGINT, n BIGINT, cents BIGINT)")
    // yesterday's snapshot: exists (and is being served) BEFORE the
    // maintenance op — REPLACE, not CREATE, is the op under test
    s.sql(s"CREATE TABLE $cat.lake.snap304 (g BIGINT, n BIGINT, cents BIGINT)")
    try {
      val agg = Replay.replayStream(s, dir, "events_stream_days_upsert", 8) // several epochs → multi-version
        .filter(col("user_id").isNotNull)
        .groupBy((col("user_id") % 4).as("g"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      run(agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", cp)
        .toTable(s"$cat.lake.chg304"), "q304")
      val chgRows = s.table(s"$cat.lake.chg304").count()
      // THE MAINTENANCE OP: one-shot latest-per-key (the count only
      // grows, so max(n) is the latest version and max_by its payload),
      // published through the staged atomic RTAS path
      s.sql(
        s"""REPLACE TABLE $cat.lake.snap304 AS
           |SELECT g, max(n) AS n, max_by(cents, n) AS cents
           |FROM $cat.lake.chg304 GROUP BY g""".stripMargin)
      val snap = s.table(s"$cat.lake.snap304")
      val nKeys = snap.count()
      require(chgRows > nKeys,
        s"q304: changelog must be multi-version ($chgRows rows over " +
          s"$nKeys keys) — otherwise the compaction compacted nothing")
      Replay.local(snap.orderBy("g"))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $cat.lake.chg304")
      s.sql(s"DROP TABLE IF EXISTS $cat.lake.snap304")
      rmrfAll(s, cp)
    }
  }

  /** q296: TABLE-TO-TABLE streaming pipeline, no paths anywhere — the
    * composition q292 (readStream.table) and q295 (writeStream.toTable)
    * were each half of: an ingestion job INSERTs into a catalog table
    * by name, a continuously-running curation stream tails that table
    * (micro-batch offsets over its committed files), filters/derives
    * per-row, and lands the result in a SECOND catalog table by name
    * with exactly-once epochs — the downstream consumer just reads the
    * output identifier in batch SQL. This is the production topology a
    * 100 TB curation funnel actually runs (raw → screened, both shared
    * by name, no storage layout in any job's code); the gate drives two
    * ingestion waves through the live stream (batch numbering continues
    * across waves — same offset contract as q289) and the batch
    * read-back of the OUTPUT table must equal the oracle's one-shot SQL
    * over the full input. The transform is stateless (filter + derived
    * column), the only legal shape for append mode without a watermark
    * — and the right shape: per-row screens don't need state, and the
    * aggregate belongs to the consumer, not the pipe. */
  private def q296(s: SparkSession, dir: String): DataFrame = {
    val uid = java.util.UUID.randomUUID().toString.replace("-", "")
    val cp = graft.operators.FileIO.scratch(dir, s"q296_cp_$uid")
    val cat = graft.operators.FileIO.ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.raw296")
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.screened296")
    s.sql(s"CREATE TABLE $cat.lake.raw296 " +
      "(event_id BIGINT, event_type STRING, user_id BIGINT, cents BIGINT)")
    s.sql(s"CREATE TABLE $cat.lake.screened296 " +
      "(event_id BIGINT, user_id BIGINT, g BIGINT, cents BIGINT)")
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("user_id"),
        round(col("value") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("graft_src296")
    def ingest(pred: String): Unit = {
      s.sql(s"INSERT INTO $cat.lake.raw296 " +
        s"SELECT * FROM graft_src296 WHERE $pred")
      ()
    }
    ingest("event_id % 2 = 0")
    val screened = s.readStream.table(s"$cat.lake.raw296")
      .filter(col("event_type") === "click" && col("cents") >= 100)
      .select(col("event_id"), col("user_id"),
        pmod(col("user_id"), lit(8)).as("g"), col("cents"))
    // cleanup in finally (q175/q295 discipline): a failing drain must
    // not leak the uuid checkpoint dir or the session-wide tables/view
    try {
      run(screened.writeStream
        .option("checkpointLocation", cp)
        .toTable(s"$cat.lake.screened296"), "q296",
        _ => ingest("event_id % 2 = 1")) // second wave through the LIVE stream
      Replay.local(s.table(s"$cat.lake.screened296")
        .groupBy("g")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("event_id")).as("n_distinct"),
          sum(col("cents")).as("total_cents"))
        .orderBy("g"))
    } finally {
      s.sql(s"DROP TABLE IF EXISTS $cat.lake.raw296")
      s.sql(s"DROP TABLE IF EXISTS $cat.lake.screened296")
      s.catalog.dropTempView("graft_src296")
      rmrfAll(s, cp)
    }
  }

  /** q285: streaming POINT-IN-TIME enrichment — each in-flight event is
    * joined to the dimension VERSION that was current AT EVENT TIME,
    * not the latest snapshot (q168's shape). The static side is an
    * SCD2-style interval table built from orders (per customer, a
    * spend tier valid from each order date until the next), and the
    * stream joins on key + a half-open validity range:
    * `user_id = o_custkey AND us ∈ [vf, vt)`. Intervals are disjoint
    * per key, so the LEFT join yields at most one match per event;
    * events before a user's first version (or keyless users) enrich as
    * 'NONE'. The equi conjunct makes this a broadcast HASH join with
    * the range residual evaluated post-probe — stateless per batch
    * like q168/q258 (no watermark, no state store), which is the whole
    * point: feature-store training/serving reads are as-of lookups,
    * and getting them from a stream costs no more than a snapshot
    * enrich. Batch PIT twin: q232. */
  /** q285's compacted SCD2 tier dimension, pinned once per process per
    * source dir (r17): a pure function of the orders table (the
    * eventsMaxUs/day-shard reuse contract), previously re-computed —
    * window + run-collapse + checkpoint — on EVERY invocation just to
    * feed the same broadcast. */
  private def scd2TierDim(s: SparkSession, dir: String): DataFrame =
    graft.PinnedBlocks.cached(s, s"stream.scd2_tier_dim|$dir") {
      val W = org.apache.spark.sql.expressions.Window
      val w = W.partitionBy("o_custkey").orderBy("vf")
      Tables.orders(s, dir)
        .groupBy(col("o_custkey"), col("o_orderdate"))
        .agg(max("o_totalprice").as("px"))
        .select(col("o_custkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("vf"),
          floor(col("px") / 50000).cast("long").as("tier"))
        .withColumn("vt",
          coalesce(lead(col("vf"), 1).over(w), lit(Long.MaxValue)))
        .withColumn("chg",
          when(lag(col("tier"), 1).over(w).isNull ||
            lag(col("tier"), 1).over(w) =!= col("tier"), lit(1))
            .otherwise(lit(0)))
        .withColumn("run",
          sum(col("chg")).over(w.rowsBetween(W.unboundedPreceding, 0)))
        .groupBy("o_custkey", "run")
        .agg(min("vf").as("vf"), max("vt").as("vt"),
          first("tier").as("tier"))
        .select("o_custkey", "vf", "vt", "tier")
    }

  private def q285(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    import graft.functions.Exact.dec
    // SCD2 compaction: adjacent versions with the SAME tier merge into
    // one interval (classic run-collapse). Oracle-neutral — every event
    // maps to the same tier — but the broadcast ships only tier CHANGES,
    // not every order date; at 10× the uncompacted dim grew with the
    // (custkey, date) grain and measurably dominated the per-batch
    // broadcast rebuild. Dims beyond broadcast size altogether need the
    // q260 treatment instead: a bucketed interval table + per-batch SMJ.
    // Pinned once per process (see [[scd2TierDim]]): the STATIC side of
    // a stream-static join re-executes every micro-batch — each batch
    // broadcasts from the already-computed blocks.
    val dim = scd2TierDim(s, dir)
    val stream = eventsStream(s, dir)
      .select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"))
    val agg = stream
      .join(broadcast(dim),
        col("user_id") === col("o_custkey") &&
          col("us") >= col("vf") && col("us") < col("vt"), "left")
      .select(coalesce(col("tier").cast("string"), lit("NONE")).as("tier"),
        col("event_type"), col("value"))
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("total_value"))
    drain(s, "q285", agg, "complete")((t, _) => t.orderBy("tier", "event_type"))
  }

  /** q258: stream-STATIC LEFT ANTI join — the blocklist/compliance
    * filter shape (drop in-flight events whose user appears in a static
    * suppression table) that completes the stream-static family next
    * to q168's enrichment join. Anti against a static side is
    * stateless: the dimension broadcasts once per micro-batch epoch,
    * no state store, no watermark — the row either has a match NOW or
    * it never will (the static side doesn't grow), which is exactly
    * why Spark permits it in append mode. Blocklist = customers with
    * negative balance; survivors aggregate per type so the output is
    * small and deterministic. */
  private def q258(s: SparkSession, dir: String): DataFrame = withConfs(s, nanosAsLong) {
    import graft.functions.Exact.dec
    val blocked = Tables.customer(s, dir)
      .filter(col("c_acctbal") < 0)
      .select(col("c_custkey"))
    val surviving = eventsStream(s, dir)
      .join(broadcast(blocked), col("user_id") === col("c_custkey"),
        "left_anti")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("value"))).cast("double"), 2).as("total_value"))
    drain(s, "q258", surviving, "complete")((t, _) => t.orderBy("event_type"))
  }

  /** q260: streaming NEAR-DUP ADMISSION CONTROL — dedup at ingestion,
    * the production join of the streaming and dedup families: new
    * documents arrive as a stream and every batch is screened against a
    * STATIC corpus LSH index (MinHash bands, q42's exact machinery);
    * pairs that exact-verify at Jaccard ≥ 0.7 are the rejections a
    * curation pipeline would bounce before they ever reach the corpus.
    * q97 gates the batch form of this (work ∝ batch); this gate proves
    * the same contract holds arriving incrementally.
    *
    * Pipeline shape — STATELESS by construction, which is the scale
    * story: shingle + band fan-out are per-row maps; the band join and
    * the verify join are both stream-STATIC (the index can't grow
    * mid-query), so append mode needs no state store and no watermark —
    * per-batch cost is batch_size × bands probes against the
    * hash-partitioned index, independent of stream history. The probe's
    * own shingle set RIDES THROUGH the band fan-out as a column: joining
    * the band stream back to a probe-shingle stream would be
    * stream-stream (state, watermarks) for no reason — the verify needs
    * each candidate's two shingle sets and only the corpus side is
    * joinable statically. Candidate pairs sharing several bands
    * duplicate across the join; they collapse in the gate's read-back
    * distinct (a production sink would fold them per batch in
    * foreachBatch — batch-local work either way, never cross-batch
    * state). Recall is the q42 argument unchanged: identical shingles →
    * identical MinHash bands, and the gated threshold's pairs all share
    * ≥ 1 of the 32 bands on this corpus (the batch q42 oracle-proves
    * that every round); precision is exact via the verify. */
  private def q260(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextHash
    val shards = graft.operators.FileIO.scratch(dir, "docs_stream_shards")
    Replay.dumpOnce(shards) {
      Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        .select("doc_id", "text")
        .repartition(4) // 4 files at 2/trigger = 2 main micro-batches
        .write.mode("overwrite").parquet(shards)
    }
    // static index side: the process-cached corpus shingle frame (shared
    // with q42/q43/q44/q96/q97), minus the probe split. The band index is
    // persisted ONCE as a BUCKETED table (bucketBy on the join keys),
    // because a stream-static join re-executes its static subtree EVERY
    // micro-batch: an unpinned index would re-minhash the whole corpus
    // per batch (measured 5.9× at the 10× fixture), and even a pinned
    // localCheckpoint frame still re-EXCHANGES O(index) bytes per batch
    // (the r12 scale defect). A bucketed table's scan reports
    // HashPartitioning(join keys), so the per-batch merge join reads
    // co-located buckets with NO shuffle on the index side — only the
    // O(batch) stream side moves (pinned in StreamingDedupSpec). The
    // repartition before the write aligns rows to their bucket (same
    // murmur3 hash), yielding one file per bucket. This is also the
    // production truth: admission control screens against a PREBUILT
    // indexed table, not a frame derived in-line per query.
    val idxTbl = "graft_q260_band_idx"
    val shTbl = "graft_q260_corpus_sh"
    if (tableSource.get(idxTbl) != dir || !s.catalog.tableExists(idxTbl) ||
        !s.catalog.tableExists(shTbl)) {
      val corpus = graft.operators.Dedup.docsWithShinglesCk(s, dir)
        .filter(col("doc_id") % 5 =!= 0)
      corpus.select(col("doc_id"), col("sh"))
        .as[(Long, Seq[String])]
        .flatMap { case (id, sh) =>
          TextHash.bands(TextHash.minhash(sh)).iterator.zipWithIndex
            .map { case (bandVal, bandIdx) => (id, bandIdx, bandVal) } }
        .toDF("corpus_id", "band_idx", "band_val")
        .repartition(16, col("band_idx"), col("band_val"))
        .write.mode("overwrite").bucketBy(16, "band_idx", "band_val")
        .sortBy("band_idx", "band_val").saveAsTable(idxTbl)
      corpus.select(col("doc_id").as("corpus_id"), col("sh").as("sh_b"))
        .repartition(16, col("corpus_id"))
        .write.mode("overwrite").bucketBy(16, "corpus_id")
        .sortBy("corpus_id").saveAsTable(shTbl)
      tableSource.put(idxTbl, dir)
    }
    // merge hints: without them a small-at-test-scale index would
    // BROADCAST — re-building and re-shipping the broadcast every
    // micro-batch, exactly the per-batch O(index) cost the bucketed
    // layout removes
    val corpusBands = s.table(idxTbl).hint("merge")
    val corpusSh = s.table(shTbl).hint("merge")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    val probe = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(shards)
      .as[(Long, String)]
      .map { case (id, text) =>
        (id, TextHash.shingles(text.split(" ", -1).toSeq, 3).toSeq) }
      .flatMap { case (id, sh) =>
        TextHash.bands(TextHash.minhash(sh)).iterator.zipWithIndex
          .map { case (bandVal, bandIdx) => (id, sh, bandIdx, bandVal) } }
      .toDF("probe_id", "sh_a", "band_idx", "band_val")
    val verified = probe
      .join(corpusBands, Seq("band_idx", "band_val")) // stream-static
      .join(corpusSh, "corpus_id")                    // stream-static
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 4))
      .filter(col("jaccard") >= 0.7)
      .select("probe_id", "corpus_id", "jaccard")
    drain(s, "q260", verified, "append")((t, _) =>
      t.distinct().orderBy("probe_id", "corpus_id"))
  }

  /** q261: SEQUENTIAL corpus-build dedup — the self-building half of
    * ingestion dedup (q260 screens against a FIXED index; here the
    * stream IS the corpus): documents arrive in id order and each doc
    * is admitted iff it near-dups no SMALLER-id document — the
    * deterministic "keep first occurrence" policy (RefinedWeb-style),
    * stated order-theoretically so the answer is independent of how the
    * stream happens to batch. Each foreachBatch round screens the batch
    * against (a) itself and (b) the band index accumulated from every
    * earlier batch, then APPENDS the batch's shingles and bands to that
    * index — cross-batch visibility is the whole point: a batch-2 dup
    * of a batch-1 doc must be rejected BY it.
    *
    * Why foreachBatch and not a stateful operator: the "state" here is
    * a growing inverted band index — far past what a keyed state store
    * should hold, and exactly what a parquet table on the cluster FS
    * is for (same argument as q118's upsert target). Work per batch is
    * batch × 32 band probes against the hash-partitioned index plus
    * exact-Jaccard verify on candidates; the id-ordered shards
    * guarantee a doc's smaller-id peers are never in a LATER batch, so
    * one pass is exact for the policy. Per-run scratch (index, results)
    * is UUID-fresh and reclaimed; only the input shards are the shared
    * process-cached dump. Oracle: the policy is closed-form in SQL —
    * admitted(d) ⇔ ∄ p < d with round(J(p,d),4) ≥ 0.7 — no recursion,
    * no batch-boundary knowledge needed (that independence is the
    * design claim under test).
    *
    * Durability/scale shape of the index (r12 verdict + advice):
    *   - The band index is a BUCKETED catalog table partitioned by
    *     batch id: the per-batch probe join reads co-located buckets
    *     with no Exchange on the index side (same layout as q260's
    *     static index; scan partitioning survives partition dirs
    *     because bucket files are hashed identically in every bid=N).
    *   - foreachBatch is at-least-once, so EVERY write is an
    *     idempotent per-batch OVERWRITE: results and shingles go to
    *     bid=N subdirectories (mode overwrite), bands INSERT OVERWRITE
    *     the bid=N table partition (dynamic partitionOverwriteMode) —
    *     a replayed batch rewrites its own slice and nothing else.
    *   - A replayed batch may see its OWN bands already indexed; the
    *     `prev_id < doc_id` policy filter makes that harmless (a doc
    *     never dups against itself or a larger id), so replay output
    *     is bit-identical, not just row-deduped. */
  private def q261(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextHash
    import org.apache.hadoop.fs.{FileSystem, Path}
    val shards = graft.operators.FileIO.scratch(dir, "docs_seq_shards")
    val fs = FileSystem.get(new java.net.URI(shards),
      s.sparkContext.hadoopConfiguration)
    Replay.dumpOnce(shards) {
      // 4 id-RANGE shard files written smallest-range-first: the file
      // source drains oldest-(mtime,path)-first, so batches are
      // id-ordered — the policy's one-pass precondition
      val bounds = Tables.documents(s, dir)
        .agg(min("doc_id").as("lo"), max("doc_id").as("hi")).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val step = (hi - lo) / 4 + 1
      fs.delete(new Path(shards), true)
      fs.mkdirs(new Path(shards))
      for (i <- 0 until 4) {
        val tmp = shards + s"_tmp$i"
        Tables.documents(s, dir).select("doc_id", "text")
          .filter(col("doc_id") >= lo + i * step &&
            col("doc_id") < lo + (i + 1) * step)
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = Replay.theOnePartFile(fs, new Path(tmp))
        fs.rename(part, new Path(shards, f"shard-$i%04d.parquet"))
        fs.delete(new Path(tmp), true)
      }
    }
    val runId = java.util.UUID.randomUUID().toString.replace("-", "")
    val idxShPath = graft.operators.FileIO.scratch(dir, s"seq_idx_sh_$runId")
    val idxTbl = s"graft_q261_idx_$runId"
    val resPath = graft.operators.FileIO.scratch(dir, s"seq_result_$runId")
    def shingle(df: DataFrame): DataFrame = df.as[(Long, String)]
      .map { case (id, t) =>
        (id, TextHash.shingles(t.split(" ", -1).toSeq, 3).toSeq) }
      .toDF("doc_id", "sh")
    def bandsOf(sh: DataFrame): DataFrame = sh.as[(Long, Seq[String])]
      .flatMap { case (id, shs) =>
        TextHash.bands(TextHash.minhash(shs)).iterator.zipWithIndex
          .map { case (v, i) => (id, i, v) } }
      .toDF("doc_id", "band_idx", "band_val")
    val schema = new org.apache.spark.sql.types.StructType()
      .add("doc_id", "long").add("text", "string")
    // read-back schemas of the per-batch outputs: each writer projects
    // through its schema (`to`), so a renamed column fails the write
    // loudly instead of reading back as silent nulls
    val idxShSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, sh ARRAY<STRING>")
    val resSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id BIGINT, dup_of BIGINT, admitted BOOLEAN")
    // the growing band index: a bucketed table (join-key buckets, one
    // file per bucket per batch partition) created EMPTY before the
    // stream starts so every batch takes the same insert path — plain
    // DDL, not an empty-frame write (no job, just a catalog entry)
    s.sql(
      s"""CREATE TABLE $idxTbl (
         |  doc_id BIGINT, band_idx INT, band_val BIGINT, bid BIGINT)
         |USING parquet
         |PARTITIONED BY (bid)
         |CLUSTERED BY (band_idx, band_val)
         |SORTED BY (band_idx, band_val) INTO 4 BUCKETS""".stripMargin)
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(shards)
    val query = stream.writeStream
      .queryName("graft_q261_" + runId)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // batch-local pin: sh feeds five consumers (both sides of the
        // local join, the verify join, the result projection, the index
        // append) and bands three — without a persist each consumer
        // re-runs the shingle+minhash map over the batch.
        // repartition first (r18): the file-source batch arrives with
        // one partition per admitted FILE (2 here), so the shingle +
        // minhash maps — the screen's CPU — ran 2-wide on a 32-core
        // session (measured 0.34–0.49 s per downstream job). Spreading
        // the raw (id, text) batch parallelizes every consumer of the
        // pinned frames; width derives from the cluster, and at
        // production batch sizes the same spread is how a thin-file
        // micro-batch saturates executors.
        val sh = shingle(batch.repartition(
          batch.sparkSession.sparkContext.defaultParallelism)).persist()
        val bands = bandsOf(sh).persist()
        try {
        val haveIdx = fs.exists(new Path(idxShPath))
        val local = bands.toDF("id_b", "band_idx", "band_val")
          .join(bands.toDF("id_a", "band_idx", "band_val"),
            Seq("band_idx", "band_val"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_b").as("doc_id"), col("id_a").as("prev_id"))
        // probe the accumulated index: the bucketed scan's
        // HashPartitioning means NO Exchange and no per-batch broadcast
        // rebuild of a growing index — only the O(batch) side shuffles.
        // shuffle_hash (build = the small batch side), not merge: the
        // index accumulates one file per bucket per batch, and a
        // multi-file bucket scan reports unsorted, so a merge join
        // would re-SORT the whole index every micro-batch (measured
        // 0.60 step exponent at 10× vs 0.51 before bucketing); the
        // hash join streams the bucket files as-is
        val fromIdx = bands.hint("shuffle_hash")
          .join(s.table(idxTbl)
            .select(col("doc_id").as("prev_id"),
              col("band_idx"), col("band_val")),
            Seq("band_idx", "band_val"))
          .select(col("doc_id"), col("prev_id"))
        val prevSh =
          // explicit schema (r18): the per-batch snapshot re-read paid a
          // footer-inference job every micro-batch for a schema the gate
          // itself wrote one line above; bid arrives via partition
          // discovery and is projected away
          (if (haveIdx) s.read.schema(idxShSchema)
            .parquet(idxShPath).select("doc_id", "sh")
           else sh.limit(0))
            .toDF("prev_id", "sh_p")
            .unionByName(sh.toDF("prev_id", "sh_p"))
        val dupOf = local.unionByName(fromIdx).distinct()
          // policy filter, and the replay guard: a re-run batch finds its
          // OWN bands already in the index — larger/equal ids never count
          .filter(col("prev_id") < col("doc_id"))
          .join(sh.toDF("doc_id", "sh_d"), "doc_id")
          .join(prevSh, "prev_id")
          .withColumn("inter",
            size(array_intersect(col("sh_d"), col("sh_p"))))
          .withColumn("jaccard", round(col("inter").cast("double") /
            (size(col("sh_d")) + size(col("sh_p")) - col("inter")), 4))
          .filter(col("jaccard") >= 0.7)
          .groupBy("doc_id").agg(min("prev_id").as("dup_of"))
        // every write below is an idempotent per-batch OVERWRITE of the
        // bid=batchId slice (foreachBatch is at-least-once; a plain
        // append would double-write on replay)
        sh.select("doc_id")
          .join(dupOf, Seq("doc_id"), "left")
          .select(col("doc_id"), col("dup_of"),
            col("dup_of").isNull.as("admitted"))
          .to(resSchema)
          .write.mode("overwrite").parquet(s"$resPath/bid=$batchId")
        // index extends with EVERY screened doc (the policy compares
        // against all smaller ids, admitted or not)
        sh.to(idxShSchema).write.mode("overwrite").parquet(s"$idxShPath/bid=$batchId")
        // session conf, not a writer option: insertInto's V1 command
        // reads partitionOverwriteMode from SQLConf only — a writer
        // option is silently ignored and STATIC overwrite would wipe
        // every earlier batch's partition.
        withConfs(bands.sparkSession,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
          bands.withColumn("bid", lit(batchId))
            .repartition(4, col("band_idx"), col("band_val"))
            .write.mode("overwrite")
            .insertInto(idxTbl)
        }
        } finally { bands.unpersist(false); sh.unpersist(false) }
        ()
      }
      .start()
    try {
      run(query, "q261")
      Replay.local(s.read.schema(resSchema).parquet(resPath)
        .select("doc_id", "dup_of", "admitted").orderBy("doc_id"))
    } finally {
      try s.sql(s"DROP TABLE IF EXISTS $idxTbl")
      catch { case scala.util.control.NonFatal(_) => () }
      rmrfAll(s, idxShPath, resPath)
    }
  }

  /** Harness-scale execution confs applied around every streaming GATE
    * (not the batch analogs like q71): interpreted expression/stage
    * execution for the micro-batch machinery. Why: each micro-batch
    * re-plans with fresh watermark/batchId literals baked into the
    * generated code, so the codegen class cache misses on EVERY batch
    * and each ~1k-row batch pays a Janino compile per stage to save
    * microseconds of row work. Honest sizing: interleaved A/B on warm
    * q240 shows ~0.3–0.5 s/invocation (within host noise on single
    * runs; compile cost itself shrinks once the JVM has C2-compiled
    * Janino) — the gates' warm floor is state-store stage overhead, not
    * codegen. Kept because the direction is strictly right at this
    * batch size and it compounds across 22 gates × 3 bench passes.
    * Scoped via `withConfs` around the gate body (streaming queries
    * capture session confs at start), so batch queries in the same
    * session keep whole-stage codegen. This is BATCH-SIZE tuning, not a
    * global recommendation: a production stream at millions of rows per
    * micro-batch amortizes the compile and should leave codegen on. */
  private val gateExecConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
    // Stateful-operator parallelism = shuffle.partitions at stream
    // start, and EVERY stateful operator loads + commits one state
    // store per partition per micro-batch — at the session's
    // core-count default (32) a small-state gate pays 32 store
    // load/commit cycles per batch to hold a few thousand rows
    // (q84's scaladoc measured the blow-up at ~18 s). Gates with
    // stream-stream joins scope themselves tighter (2); this default
    // catches the single-operator gates that previously ran at 32.
    // Production sizing is state volume / partition, never core
    // count — same batch-size-honesty argument as the codegen pair.
    "spark.sql.shuffle.partitions" -> "4")

  /** Queries whose fn is pure batch (streaming-semantics twins gated
    * batch-side) — these keep codegen: they scan the real corpus. */
  private val batchAnalogs = Set("q71_session_window")

  // r17 A/B note: re-enabling whole-stage codegen for the CORPUS-sized
  // micro-batch gates (eventsStream single-batch drains and full-events
  // day-shard replays, ~5×10⁵ rows/batch — q70/q109/q285/q87/q100/q176/
  // q118/…) was measured at sf0.1, warm medians of 3: flat for the
  // stateless scans and WORSE where batches repeat (q118 1.48→1.85 s,
  // q176 1.33→1.54 s) — each micro-batch re-plans with fresh literals,
  // so the Janino compile never amortizes even at that batch size. The
  // interpreted-path conf below stands as measured, now at two batch
  // scales (the ~20k-row q240 A/B in the scaladoc above, and this one).
  override def queries: Seq[Q] = registered.map { q =>
    if (batchAnalogs(q.name)) q
    else q.copy(fn = (s, dir) => withConfs(s, gateExecConfs: _*)(q.fn(s, dir)))
  }

  private def registered: Seq[Q] = Seq(
    Q("q261_sequential_dedup", q261, Some(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |          FOR i IN generate_series(1, len(w) - 2)])) AS s FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |p AS (SELECT a.doc_id AS prev_id, b.doc_id AS doc_id,
        |    count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |rej AS (SELECT p.doc_id AS doc_id, min(prev_id) AS dup_of
        |  FROM p
        |  JOIN sizes na ON na.doc_id = p.prev_id
        |  JOIN sizes nb ON nb.doc_id = p.doc_id
        |  WHERE round(inter * 1.0 / (na.n + nb.n - inter), 4) >= 0.7
        |  GROUP BY 1)
        |SELECT d.doc_id, r.dup_of, r.dup_of IS NULL AS admitted
        |FROM documents d LEFT JOIN rej r ON r.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin)),
    Q("q260_stream_dedup_admission", q260, Some(
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |sh AS (SELECT doc_id, unnest(list_distinct(
        |         [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |          FOR i IN generate_series(1, len(w) - 2)])) AS s FROM toks),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS probe_id, b.doc_id AS corpus_id,
        |    count(*) AS inter
        |  FROM sh a JOIN sh b ON a.s = b.s
        |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        |  GROUP BY 1, 2)
        |SELECT probe_id, corpus_id,
        |  round(inter * 1.0 / (na.n + nb.n - inter), 4) AS jaccard
        |FROM pairs
        |JOIN sizes na ON na.doc_id = pairs.probe_id
        |JOIN sizes nb ON nb.doc_id = pairs.corpus_id
        |WHERE round(inter * 1.0 / (na.n + nb.n - inter), 4) >= 0.7
        |ORDER BY probe_id, corpus_id""".stripMargin)),
    Q("q258_stream_static_anti", q258, Some(
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_value
        |FROM events
        |WHERE user_id NOT IN (SELECT c_custkey FROM customer
        |                      WHERE c_acctbal < 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q168_stream_enrich", q168, Some(
      """SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_value
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q293_stream_pit_bucketed", q293, Some(
      """WITH d0 AS (SELECT o_custkey, epoch_us(o_orderdate) AS vf,
        |    max(o_totalprice) AS px FROM orders GROUP BY 1, 2),
        |d AS (SELECT o_custkey, vf,
        |    coalesce(lead(vf) OVER (PARTITION BY o_custkey ORDER BY vf),
        |      9223372036854775807) AS vt,
        |    CAST(floor(px / 25000) AS BIGINT) AS tier FROM d0),
        |e AS (SELECT user_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |j AS (SELECT coalesce(CAST(d.tier AS VARCHAR), 'NONE') AS tier,
        |    e.event_type, e.value
        |  FROM e LEFT JOIN d ON d.o_custkey = e.user_id
        |    AND e.us >= d.vf AND e.us < d.vt)
        |SELECT tier, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_value
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q304_changelog_compaction", q304, Some(
      """SELECT user_id % 4 AS g, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q298_stream_update_changelog", q298, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q296_stream_table_pipeline", q296, Some(
      """SELECT user_id % 8 AS g, count(*) AS n,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events
        |WHERE event_type = 'click'
        |  AND CAST(round(value * 100) AS BIGINT) >= 100
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q295_stream_write_table", q295, Some(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q292_stream_by_name", q292, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id % 8) AS BIGINT) AS sum_g
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q289_stream_tsv_source", q289, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id % 4) AS BIGINT) AS sum_g
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q308_stream_retention_horizon", q308, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM events WHERE event_id % 5 != 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q303_stream_bounded_drain", q303, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id % 4) AS BIGINT) AS sum_g
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q285_stream_pit_enrich", q285, Some(
      """WITH d0 AS (SELECT o_custkey, epoch_us(o_orderdate) AS vf,
        |    max(o_totalprice) AS px FROM orders GROUP BY 1, 2),
        |d AS (SELECT o_custkey, vf,
        |    coalesce(lead(vf) OVER (PARTITION BY o_custkey ORDER BY vf),
        |      9223372036854775807) AS vt,
        |    CAST(floor(px / 50000) AS BIGINT) AS tier FROM d0),
        |e AS (SELECT user_id, event_type, value, epoch_us(ts) AS us
        |  FROM events),
        |j AS (SELECT coalesce(CAST(d.tier AS VARCHAR), 'NONE') AS tier,
        |    e.event_type, e.value
        |  FROM e LEFT JOIN d ON d.o_custkey = e.user_id
        |    AND e.us >= d.vf AND e.us < d.vt)
        |SELECT tier, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_value
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q70_stream_month_count", q70, Some(
      """SELECT event_type, strftime(ts, '%Y-%m') AS month, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // Boundary semantics, pinned deliberately: the session_window
    // BUILTIN (q71/q177/q248) MERGES events exactly gap apart (split
    // only at > gap — verified empirically on 4.1.2), so these oracles
    // split at `> 1800000000`. The hand-rolled sessionizers (q87/q184)
    // merge at strictly-less-than and split at >= — their oracles say
    // `>=`. Each gate is self-consistent; the exact-gap row lands
    // differently BY DESIGN between the two families (no fixture
    // currently contains an exact 30-min gap, so both stay green
    // either way — this comment is what makes the delta a decision
    // rather than a bug when one day it does).
    Q("q71_session_window", q71, Some(
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN us - lag(us) OVER w > 1800000000 THEN 1
        |         WHEN lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), s AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM t
        |)
        |SELECT user_id, min(us) AS start_us,
        |  max(us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, start_us""".stripMargin)),
    // q177's oracle is the identical gap-merge as q71/q87: streaming
    // session merging across micro-batches must land on the batch result.
    Q("q177_stream_session_window", q177, Some(
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN us - lag(us) OVER w > 1800000000 THEN 1
        |         WHEN lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), s AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM t
        |)
        |SELECT user_id, min(us) AS start_us,
        |  max(us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, start_us""".stripMargin)),
    Q("q180_stream_union", q180, Some(
      """SELECT CASE event_type WHEN 'click' THEN 'c' ELSE 'p' END AS side,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q78_stream_dedup", q78, Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q106_stream_dedup_bounded", q106, Some(
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q109_sliding_window", q109, Some(
      """WITH e AS (SELECT epoch_us(ts) AS us, event_type, value FROM events),
        |w AS (SELECT ((us // 86400000000) - k) * 86400000000 AS ws_us,
        |             event_type, value
        |      FROM e CROSS JOIN (VALUES (0), (1)) t(k))
        |SELECT ws_us, event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // q218's oracle is the batch EXISTS semi join: semi emission is
    // match-driven (no watermark proof needed), so the finite drain
    // equals it with no sentinels at all.
    Q("q254_stream_listener", q254, Some(
      """SELECT CAST(count(*) AS BIGINT) AS listener_rows,
        |  CAST(count(*) AS BIGINT) AS progress_rows,
        |  true AS views_agree, true AS multi_batch
        |FROM events""".stripMargin)),
    Q("q218_stream_semi_join", q218, Some(
      """SELECT p.event_id AS p_id, p.user_id AS p_user,
        |  epoch_us(p.ts) AS p_us
        |FROM events p
        |WHERE p.event_type = 'purchase' AND p.user_id % 2 = 0
        |  AND EXISTS (SELECT 1 FROM events c
        |    WHERE c.event_type = 'click' AND c.user_id % 2 = 0
        |      AND c.user_id = p.user_id
        |      AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
        |      AND epoch_us(c.ts) <= epoch_us(p.ts))
        |ORDER BY p_id""".stripMargin)),
    Q("q84_stream_stream_join", q84, Some(
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |           WHERE event_type = 'purchase' AND user_id % 2 = 0),
        |c AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |      WHERE event_type = 'click' AND user_id % 2 = 0)
        |SELECT p.event_id AS p_id, c.event_id AS c_id,
        |  p.us - c.us AS gap_us
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.us >= p.us - 3600000000 AND c.us <= p.us
        |ORDER BY p_id, c_id""".stripMargin)),
    // q173's oracle is the plain batch LEFT JOIN: on a finite replay the
    // watermark (pushed past every real join window by the sentinels)
    // closes all real purchases, so matched + null-padded rows together
    // equal batch semantics exactly.
    Q("q240_chained_stateful", q240, Some(
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |           WHERE event_type = 'purchase' AND user_id % 2 = 0),
        |c AS (SELECT user_id, epoch_us(ts) AS us FROM events
        |      WHERE event_type = 'click' AND user_id % 2 = 0),
        |j AS (SELECT p.us AS p_us, p.us - c.us AS gap_us
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND c.us >= p.us - 3600000000 AND c.us <= p.us)
        |SELECT (p_us // 86400000000) * 86400000000 AS ws_us,
        |  count(*) AS n_pairs, CAST(sum(gap_us) AS BIGINT) AS sum_gap_us
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q173_stream_outer_join", q173, Some(
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |           WHERE event_type = 'purchase' AND user_id % 2 = 0),
        |c AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |      WHERE event_type = 'click' AND user_id % 2 = 0)
        |SELECT p.event_id AS p_id, coalesce(c.event_id, -1) AS c_id,
        |  coalesce(p.us - c.us, -1) AS gap_us
        |FROM p LEFT JOIN c ON p.user_id = c.user_id
        |  AND c.us >= p.us - 3600000000 AND c.us <= p.us
        |ORDER BY p_id, c_id""".stripMargin)),
    Q("q191_stream_full_outer", q191, Some(
      """WITH p AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |           WHERE event_type = 'purchase' AND user_id % 2 = 0),
        |c AS (SELECT user_id, epoch_us(ts) AS us, event_id FROM events
        |      WHERE event_type = 'click' AND user_id % 2 = 0)
        |SELECT coalesce(p.event_id, -1) AS p_id,
        |  coalesce(c.event_id, -1) AS c_id,
        |  coalesce(p.us - c.us, -1) AS gap_us
        |FROM p FULL JOIN c ON p.user_id = c.user_id
        |  AND c.us >= p.us - 3600000000 AND c.us <= p.us
        |ORDER BY p_id, c_id""".stripMargin)),
    // q100's oracle is the plain batch aggregation: the file-sink stream
    // must emit exactly the real day windows (sentinel's window never
    // closes, so it never appears).
    // q222's oracle: on-time per-day counts, plus the DROPPED row that
    // must equal every late WINDOW (the filter runs post-merge at the
    // state store: one row per late window key) — the negative contract.
    Q("q222_stream_late_drop", q222, Some(
      """SELECT day, n FROM (
        |  SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n
        |  FROM events WHERE day(ts) >= 16 GROUP BY 1
        |  UNION ALL
        |  SELECT 'DROPPED' AS day,
        |    count(DISTINCT strftime(ts, '%Y-%m-%d')) AS n
        |  FROM events WHERE day(ts) <= 9)
        |ORDER BY day""".stripMargin)),
    Q("q100_stream_file_sink", q100, Some(
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    // q175's oracle is the batch aggregation over the FULL table: a
    // replayed batch breaks n vs n_distinct, a lost batch breaks both
    // counts, and id_sum pins exact content either way.
    Q("q175_stream_restart", q175, Some(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT event_id) AS n_distinct,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q176_trigger_available_now", q176, Some(
      """SELECT event_type, count(*) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q125_transform_with_state", q125, Some(
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(event_id) AS BIGINT) AS sum_event_ids,
        |  min(event_id) AS min_event_id, max(event_id) AS max_event_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),
    // q118's oracle is q91's batch compaction: the streamed merge must
    // land on exactly the global latest row per user.
    Q("q118_stream_upsert_sink", q118, Some(
      """WITH r AS (
        |  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_event_type, ts_us AS last_ts_us,
        |  value AS last_value
        |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    // q184 shares q87's oracle: timer-driven eviction must produce the
    // identical session set as the input-driven eviction and the batch
    // gap-merge.
    Q("q184_timer_sessions", q184, Some(
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000 THEN 1
        |         WHEN lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), s AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM t
        |)
        |SELECT user_id, min(us) AS start_us,
        |  max(us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, start_us""".stripMargin)),
    Q("q87_stateful_sessions", q87, Some(
      """WITH t AS (
        |  SELECT user_id, epoch_us(ts) AS us,
        |    CASE WHEN us - lag(us) OVER w >= 1800000000 THEN 1
        |         WHEN lag(us) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
        |), s AS (
        |  SELECT user_id, us,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
        |  FROM t
        |)
        |SELECT user_id, min(us) AS start_us,
        |  max(us) + 1800000000 AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, session_no ORDER BY user_id, start_us""".stripMargin)),
  )
}
