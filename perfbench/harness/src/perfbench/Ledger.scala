package perfbench

import scala.collection.mutable

/** One timed call's boundaries, in epoch ms (wall and build in ms from
  * the monotonic clock). */
final case class Window(call: String, pass: Int, core: Boolean, startMs: Long,
    buildEndMs: Long, endMs: Long, wallMs: Double, buildMs: Double)

final case class Span(id: Long, parent: Long, call: String, kind: String,
    name: String, startMs: Long, endMs: Long, var selfMs: Long = 0L)

/** Turns one call's listener events into its per-layer ledger row and
  * its spans: call -> build / action -> planning phases, jobs and
  * micro-batches; job -> stages. A span's self time is its duration
  * minus the part of it its children cover. */
object Ledger {
  private val SchemaSite =
    "^(parquet|load|json|csv|orc|text|textFile|table|schema) at .*".r

  private def union(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered + (curB - curA)
  }

  private def median(xs: Seq[Long]): Long = {
    val s = xs.sorted
    if (s.isEmpty) 0L else s(s.size / 2)
  }

  def row(w: Window, ev: Events, state: (Int, Int, Long)): mutable.LinkedHashMap[String, Any] = {
    val r = mutable.LinkedHashMap[String, Any]("call" -> w.call, "pass" -> w.pass)
    def put(k: String, v: AnyVal): Unit = r(k) = v
    val jobIv = ev.jobs.map(j => (j.start, j.end))
    val jobWall = union(jobIv, w.startMs, w.endMs)
    val st = ev.stages
    put("wall_ms", w.wallMs)
    put("operators.build_ms", w.buildMs)
    put("operators.build_jobs", ev.jobs.count(_.start < w.buildEndMs))
    put("plans.actions", ev.plans.size)
    for (ph <- Seq("analysis", "optimization", "planning"))
      put(s"plans.${ph}_ms", ev.plans.flatMap(_.phases).collect {
        case (`ph`, a, b) => (b - a).toDouble }.sum)
    put("plans.plan_nodes", ev.plans.map(_.nodes).sum)
    put("exec.jobs", ev.jobs.size)
    put("exec.stages", st.size)
    put("exec.tasks", st.map(_.runMs.size).sum)
    put("exec.job_wall_ms", jobWall)
    put("exec.driver_gap_ms", math.max(0.0, w.wallMs - jobWall))
    put("exec.task_ms", st.flatMap(_.runMs).sum)
    put("exec.cpu_ms", st.map(_.cpuMs).sum)
    put("exec.gc_ms", st.map(_.gcMs).sum)
    put("exec.sched_delay_ms", st.map(_.schedMs).sum)
    put("exec.skew_max", (st.filter(_.runMs.size >= 2)
      .map(s => s.runMs.max.toDouble / math.max(1L, median(s.runMs))) :+ 1.0).max)
    put("shuffle.write_bytes", st.map(_.shuffleWriteBytes).sum)
    put("shuffle.read_bytes", st.map(_.shuffleReadBytes).sum)
    put("shuffle.records", st.map(_.shuffleWriteRecords).sum)
    put("shuffle.fetch_wait_ms", st.map(_.fetchWaitMs).sum)
    put("sources.scan_bytes", st.map(_.inputBytes).sum)
    put("sources.scan_rows", st.map(_.inputRecords).sum)
    put("sources.schema_jobs", ev.jobs.count(j => !j.sqlExecution &&
      (SchemaSite.matches(j.site) || j.description.contains("Listing leaf files"))))
    put("sources.write_bytes", st.map(_.outputBytes).sum)
    val writeStages = st.filter(_.outputBytes > 0).map(_.id).toSet
    put("sources.write_ms", union(ev.jobs.filter(_.stageIds.exists(writeStages))
      .map(j => (j.start, j.end)), w.startMs, w.endMs))
    val mapSt = if (w.core) st.filter(_.shuffleWriteBytes > 0) else Nil
    val redSt = if (w.core) st.filter(_.shuffleReadBytes > 0) else Nil
    put("core.map_task_ms", mapSt.flatMap(_.runMs).sum)
    put("core.reduce_task_ms", redSt.flatMap(_.runMs).sum)
    put("core.input_records", mapSt.map(_.inputRecords).sum)
    put("core.shuffle_records", mapSt.map(_.shuffleWriteRecords).sum)
    val b = ev.batches
    val trigger = b.map(_.triggerMs).sum
    put("streaming.batches", b.size)
    put("streaming.data_batches", b.count(_.inputRows > 0))
    put("streaming.trigger_ms", trigger)
    put("streaming.query_planning_ms", b.map(_.planningMs).sum)
    put("streaming.add_batch_ms", b.map(_.addBatchMs).sum)
    put("streaming.wal_commit_ms", b.map(_.walCommitMs).sum)
    put("streaming.commit_offsets_ms", b.map(_.commitOffsetsMs).sum)
    put("streaming.latest_offset_ms", b.map(_.latestOffsetMs).sum)
    put("streaming.outside_batch_ms", if (b.isEmpty) 0.0 else math.max(0.0, w.wallMs - trigger))
    put("streaming.state_rows", (b.map(_.stateRows) :+ 0L).max)
    put("streaming.state_mem_bytes", (b.map(_.stateMemBytes) :+ 0L).max)
    r("batch_trigger_ms") = b.map(_.triggerMs)
    put("state.persisted_rdds", state._1)
    put("state.pinned_rdds", state._2)
    put("state.cached_bytes", state._3)
    r
  }

  def spans(w: Window, ev: Events, nextId: () => Long): Seq[Span] = {
    val q = s"${w.pass}:${w.call}"
    val root = Span(nextId(), 0L, q, "call", w.call, w.startMs, w.endMs)
    val build = Span(nextId(), root.id, q, "build", "build", w.startMs, w.buildEndMs)
    val action = Span(nextId(), root.id, q, "action", "action", w.buildEndMs, w.endMs)
    def phaseOf(t: Long) = if (t < w.buildEndMs) build.id else action.id
    val out = mutable.ArrayBuffer(root, build, action)
    ev.plans.foreach(p => p.phases.foreach { case (name, a, b) =>
      out += Span(nextId(), phaseOf(a), q, "plan", s"${p.func}.$name", a, b) })
    val stageParent = mutable.HashMap.empty[Int, Long]
    ev.jobs.foreach { j =>
      val s = Span(nextId(), phaseOf(j.start), q, "job", s"job ${j.id} ${j.site}", j.start, j.end)
      j.stageIds.foreach(stageParent(_) = s.id)
      out += s
    }
    ev.stages.foreach(s => out += Span(nextId(), stageParent.getOrElse(s.id, phaseOf(s.submitted)),
      q, "stage", s"stage ${s.id} ${s.name}", s.submitted, s.completed))
    ev.batches.foreach(b => out += Span(nextId(), phaseOf(b.start), q, "batch",
      "micro-batch", b.start, b.start + b.triggerMs))
    val kids = out.groupBy(_.parent)
    out.foreach { s =>
      val covered = union(kids.get(s.id).map(_.toSeq).getOrElse(Nil).map(c => (c.startMs, c.endMs)),
        s.startMs, s.endMs)
      s.selfMs = math.max(0L, s.endMs - s.startMs - covered)
    }
    out.toSeq
  }
}
