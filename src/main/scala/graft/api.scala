package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A named query with an optional DuckDB oracle.
  *
  * `fn(spark, sfDir)` must return a deterministic DataFrame (stable row
  * order, rounded doubles) whose column names match the oracle's aliases
  * exactly — the driver's compare sorts columns by name before hashing.
  * `oracle` is ANSI-ish SQL runnable by DuckDB against the same parquet
  * tables (registered under their bare table names). `None` means the
  * driver falls back to a rows-only check (used for probabilistic or
  * non-SQL-expressible operators).
  */
final case class Q(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** A themed group of queries; SparkEntry concatenates all packs. */
trait QueryPack {
  def queries: Seq[Q]
}

/** Lineage-truncating materialization for iterative operators, with a
  * conf-selected durability tier.
  *
  * Iterative ops (CC label propagation, PageRank, BPE merge loops,
  * k-means steps) must materialize each iteration's frame: without it
  * the logical plan nests one level per iteration and Catalyst
  * re-optimization grows without bound (observed 49 s → ~2 s on q66).
  * `localCheckpoint(eager = true)` is the cheap default — executor-local
  * blocks, no FS round-trip — but those blocks are NON-RECOVERABLE: on a
  * real cluster, losing one executor mid-loop kills the job with no
  * recompute path (lineage was truncated). A 1000-executor × multi-hour
  * run wants the RELIABLE tier instead: `checkpoint(eager = true)` to
  * the cluster FS, which survives executor loss at the cost of a
  * write+read per iteration.
  *
  * Selection is per-session conf, so the same operator code serves both:
  *   - `spark.graft.checkpoint.reliable` = true|false (default false)
  *   - `spark.graft.checkpoint.dir` — if set and the context has no
  *     checkpoint dir yet, it is installed on first use (reliable mode
  *     requires SOME checkpoint dir; an explicit
  *     `sparkContext.setCheckpointDir` also works)
  * Set `spark.cleaner.referenceTracking.cleanCheckpoints=true` on
  * long-lived sessions so reliable checkpoint files are reclaimed when
  * their frames are garbage-collected.
  */
object Materialize {
  val ReliableConf = "spark.graft.checkpoint.reliable"
  val DirConf = "spark.graft.checkpoint.dir"

  def apply(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    val reliable =
      s.conf.getOption(ReliableConf).exists(_.trim.equalsIgnoreCase("true"))
    if (reliable) {
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(s.conf.getOption(DirConf).getOrElse(
          throw new IllegalStateException(
            s"$ReliableConf=true needs a checkpoint dir: set $DirConf " +
              "or call sparkContext.setCheckpointDir")))
      else s.conf.getOption(DirConf).foreach { want =>
        // the checkpoint dir is CONTEXT-global: a second session asking
        // for a different dir would silently checkpoint into the first
        // session's — surface the divergence instead (ADVICE r12). The
        // installed dir is setCheckpointDir's resolved URI (absolute,
        // scheme-qualified, plus a per-context UUID subdir), so compare
        // by prefix after resolving `want` the same way.
        val installed = s.sparkContext.getCheckpointDir.get
        val wantResolved = scala.util.Try {
          val p = new org.apache.hadoop.fs.Path(want)
          p.getFileSystem(s.sparkContext.hadoopConfiguration)
            .makeQualified(p).toString
        }.getOrElse(want)
        if (!installed.stripSuffix("/").startsWith(
            wantResolved.stripSuffix("/")))
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"graft: $DirConf=$want differs from the context's installed " +
              s"checkpoint dir $installed; reliable checkpoints go to the " +
              "installed dir (call sparkContext.setCheckpointDir to move it)")
      }
      df.checkpoint(eager = true)
    } else df.localCheckpoint(eager = true)
  }

  /** Postfix form: `frame.materialized` reads like the
    * `.localCheckpoint(true)` calls it replaces. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialized: DataFrame = Materialize(df)
  }
}

/** Shared conf-scoping helper: run `body` with session confs
  * temporarily set, restoring each key's prior EXPLICIT value (or unset)
  * on exit — getAll, not get/getOption, so a registered conf's default
  * never gets pinned as an explicit session entry. Assumes gates run
  * sequentially on the session (true for Verify/Bench; concurrent gates
  * would need a cloned `newSession()`). */
private[graft] object SessionConfs {
  def withConfs[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getAll.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, po) =>
      po.fold(s.conf.unset(k))(v => s.conf.set(k, v))
    }
  }
}

/** The transient session state of one gate call: temp views, catalog
  * tables, scratch paths and any other release (an `unpersist`), each
  * registered on the scope [[CallScope.local]] hands the gate's body.
  *
  * `local` owns the one rule every such gate needs: collect the result
  * while the state exists, then release all of it, also when the body
  * threw. Releases run in reverse order of registration and every one
  * is attempted. Under a body failure a failing release is added to it
  * as suppressed; after a successful body the first release failure is
  * thrown. Like [[SessionConfs]], it assumes gates run sequentially on
  * the session.
  */
final class CallScope private (s: SparkSession) {
  private var releases = List.empty[() => Unit]

  /** `df` as temp view `name` for the rest of the call. */
  def view(name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    defer(s.catalog.dropTempView(name))
  }

  /** Catalog table `ident`, dropped if it exists now and again on
    * release; returns `ident`. */
  def table(ident: String): String = {
    val drop = () => { s.sql(s"DROP TABLE IF EXISTS $ident"); () }
    drop()
    defer(drop())
    ident
  }

  /** A scratch path unique to this call, `<tag>_<uuid>` under
    * [[graft.operators.FileIO.scratch]] for `dir`, deleted on release
    * (see [[CallScope.rmrfAll]]). */
  def path(dir: String, tag: String): String = {
    val p = graft.operators.FileIO.scratch(dir,
      s"${tag}_" + java.util.UUID.randomUUID().toString.replace("-", ""))
    defer(CallScope.rmrfAll(s, p))
    p
  }

  /** Run `action` on release. */
  def defer(action: => Unit): Unit = releases ::= (() => action)

  private def release(failure: Option[Throwable]): Unit = {
    val errors = releases.flatMap(r =>
      try { r(); None }
      catch { case scala.util.control.NonFatal(e) => Some(e) })
    releases = Nil
    def suppressInto(e: Throwable, others: List[Throwable]): Unit =
      others.filter(_ ne e).foreach(e.addSuppressed)
    (failure, errors) match {
      case (Some(f), _) => suppressInto(f, errors)
      case (None, first :: rest) => suppressInto(first, rest); throw first
      case (None, Nil) =>
    }
  }
}

object CallScope {

  /** Run `body` with `confs` scoped, collect the frame it returns into a
    * driver-local frame with the same schema, then release the scope. */
  def local(s: SparkSession, confs: (String, String)*)(
      body: CallScope => DataFrame): DataFrame =
    SessionConfs.withConfs(s, confs: _*) {
      val scope = new CallScope(s)
      var failure: Option[Throwable] = None
      try {
        val df = body(scope)
        df.sparkSession.createDataFrame(
          java.util.Arrays.asList(df.collect(): _*), df.schema)
      } catch { case e: Throwable => failure = Some(e); throw e }
      finally scope.release(failure)
    }

  /** Remove every scratch path, attempting EACH delete even when an
    * earlier one throws (so one failure can't leak the rest). Never
    * throws: this runs as a release, where a rethrow would mask the
    * failure that is the actual root cause. The danger a rethrow would
    * guard — a silently-leaked sentinel day corrupting later replays of
    * a SHARED shard dump — is neutralized structurally instead: any
    * dump the failed path lives under is forgotten
    * ([[graft.Memo.forgetUnder]]), so the next gate rewrites the whole
    * dump (mode overwrite deletes the directory first, leftover
    * included). Plain scratch dirs (uuid-named sinks/checkpoints) leak
    * at worst a temp dir; the failure is logged to stderr either way. */
  private[graft] def rmrfAll(s: SparkSession, paths: String*): Unit =
    paths.foreach { p =>
      // Hadoop's local delete reports most failures (e.g. EACCES inside
      // FileUtil.fullyDelete) by returning false, not throwing — so
      // success is "the path is gone afterwards", not "no exception".
      val gone = scala.util.Try {
        val hp = new org.apache.hadoop.fs.Path(p)
        val fs = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        fs.delete(hp, true)
        !fs.exists(hp)
      }
      if (gone != scala.util.Success(true)) {
        Memo.forgetUnder(p)
        System.err.println(s"[graft] scratch cleanup failed for $p " +
          s"(dump invalidated if shared): " +
          gone.failed.toOption.getOrElse("delete returned false"))
      }
    }
}

/** Registry of PROCESS-PINNED localCheckpoint blocks, and the pinned
  * checkpoint frames query packs reuse through [[Memo]].
  *
  * Query packs cache an eagerly-checkpointed frame per (purpose, source
  * dir) through [[cached]] (e.g. Dedup's shingle frame, which five gates
  * share): a truncated lineage can't be recomputed, so unpersisting its
  * blocks would make every later reuse fail with missing-block errors.
  * Bench/Verify's between-query hygiene (unpersist leaked per-query
  * checkpoints so late queries aren't taxed by earlier ones' memory)
  * therefore exempts ids registered here — and ONLY these: per-call
  * checkpoints (q115's per-iteration rank frames, q165's stage pins)
  * still get reclaimed. Pinned footprint is bounded by design: one small
  * frame per key.
  */
object PinnedBlocks {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  /** The pinned checkpoint of `build` cached under `key`, owned by the
    * caller's SparkContext: checkpoint blocks are context-owned, so a
    * sibling session of the same context shares the frame, while a
    * stopped-and-recreated context means the blocks are gone and the
    * stale entry is released. */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    Memo.owned(("pinned", key), s.sparkContext, release)(pinnedCheckpoint(build))

  /** Eagerly localCheckpoint `df` and pin the resulting blocks.
    *
    * The checkpointed frame's plan is a `LogicalRDD` wrapping exactly the
    * persisted internal RDD, so we pin THAT id — not a before/after diff
    * of all persistent RDDs, which would permanently pin any concurrent
    * thread's ordinary cache()/localCheckpoint() that lands in the
    * window (and clearUnpinned would then never reclaim it). */
  private def pinnedCheckpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint(true)
    ck.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => ids.add(lr.rdd.id)
      case _ =>
    }
    ck
  }

  def isPinned(id: Int): Boolean = ids.contains(id)

  /** Unpin a swept or replaced entry and release its blocks (a stale
    * entry bound to a stopped context would otherwise leave its ids
    * pinned forever, invisible to [[clearUnpinned]]). Safe on a dead
    * SparkContext: unpersist is best-effort, the id removal is what
    * matters. */
  private def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        ids.remove(lr.rdd.id)
        // NonFatal only: a dead-context unpersist throwing is fine to
        // ignore, but an OOM/interrupt must keep propagating
        try lr.rdd.unpersist(false)
        catch { case scala.util.control.NonFatal(_) => () }
      case _ =>
    }

  /** Unpersist every non-pinned persistent RDD — the shared
    * between-query hygiene for Bench and Verify. */
  def clearUnpinned(s: SparkSession): Unit =
    s.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!ids.contains(id)) rdd.unpersist(false)
    }
}
