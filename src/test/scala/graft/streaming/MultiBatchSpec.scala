package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** Pins the multi-batch coverage of every day-shard replay gate: each
  * drain must cross ≥ 3 micro-batches (final batchId ≥ 2), because the
  * cross-batch state machinery — session merges, join-state eviction,
  * upsert folds, restart offsets — is exactly what these gates exist to
  * exercise. A maxFilesPerTrigger bump that quietly collapses a replay
  * into one gulp would keep the oracles green while hollowing out the
  * coverage; this spec makes that a test failure. (All 30 day shards at
  * 15/trigger = 2 main batches; sentinel flushes and restarts supply
  * the rest.)
  */
class MultiBatchSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** The gate's recorded final batchId — absent fails loudly here, so
    * no bound below can pass on a drain that recorded nothing. */
  private def recorded(gate: String): Long = {
    val batchId = Replay.lastBatch(gate)
    assert(batchId.isDefined, s"$gate: no batch recorded")
    batchId.get
  }

  private val gates = Seq(
    "q87" -> "q87_stateful_sessions",
    "q100" -> "q100_stream_file_sink",
    "q118" -> "q118_stream_upsert_sink",
    "q125" -> "q125_transform_with_state",
    "q173" -> "q173_stream_outer_join",
    "q240" -> "q240_chained_stateful",
    "q191" -> "q191_stream_full_outer",
    "q175" -> "q175_stream_restart",
    "q176" -> "q176_trigger_available_now",
    "q177" -> "q177_stream_session_window",
    "q184" -> "q184_timer_sessions")

  test("every day-shard replay gate drains across >= 3 micro-batches") {
    for ((key, name) <- gates) {
      val rows = graft.SparkEntry.queries(name)(spark, sf).count()
      assert(rows > 0, s"$name returned no rows")
      val batchId = recorded(key)
      assert(batchId >= 2L,
        s"$name drained in ${batchId + 1} " +
          "micro-batches; the gate's cross-batch coverage is gone")
    }
  }

  test("q218 semi join drains across >= 2 micro-batches (no sentinels by design)") {
    // semi emission is match-driven, so the gate needs no sentinel
    // batches — but it MUST still split the main drain, or the
    // cross-batch buffering contract (purchase and click in different
    // micro-batches) silently stops being exercised
    val rows = graft.SparkEntry.queries("q218_stream_semi_join")(spark, sf).count()
    assert(rows > 0, "q218 returned no rows")
    val batchId = recorded("q218")
    assert(batchId >= 1L,
      s"q218 drained in ${batchId + 1} " +
        "micro-batches; cross-batch join buffering is no longer covered")
  }

  test("q260 admission screen drains across >= 2 micro-batches (stateless stream-static)") {
    // admission control is stateless (both joins are stream-static), so
    // no sentinels exist to pad the count — the 4-shard/2-per-trigger
    // split IS the cross-batch coverage: batch 2's probes must hit the
    // same static index batch 1's did
    val rows = graft.SparkEntry.queries("q260_stream_dedup_admission")(spark, sf).count()
    assert(rows > 0, "q260 returned no rows")
    val batchId = recorded("q260")
    assert(batchId >= 1L,
      s"q260 drained in ${batchId + 1} " +
        "micro-batches; incremental-admission coverage is gone")
  }

  test("q261 sequential dedup: >= 2 batches AND cross-batch rejections exist") {
    // the gate's design claim is batch-INDEPENDENCE of the keep-first
    // policy; that claim is only exercised if some rejection's canonical
    // dup lives in an EARLIER batch (visible only through the
    // foreachBatch-appended index). Recompute the id-range batching the
    // gate uses (4 shards, 2/trigger) and require at least one such pair.
    val out = graft.SparkEntry.queries("q261_sequential_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(out.nonEmpty)
    val batchId = recorded("q261")
    assert(batchId >= 1L,
      s"q261 drained in ${batchId + 1} micro-batches")
    val ids = out.map(_._1)
    val (lo, hi) = (ids.min, ids.max)
    val step = (hi - lo) / 4 + 1
    def batchOf(id: Long): Long = (id - lo) / (2 * step)
    val crossBatch = out.filter { case (d, p) => p >= 0 && batchOf(p) != batchOf(d) }
    assert(crossBatch.nonEmpty,
      "no rejection crossed a batch boundary — the accumulated index is untested")
  }

  test("q254 listener gate observes >= 2 micro-batches (progress-per-batch coverage)") {
    val rows = graft.SparkEntry.queries("q254_stream_listener")(spark, sf).count()
    assert(rows > 0, "q254 returned no rows")
    val batchId = recorded("q254")
    assert(batchId >= 1L,
      s"q254 drained in ${batchId + 1} " +
        "micro-batches; the multi-progress listener contract is no longer covered")
  }
}
