package graft

import org.apache.spark.SparkContext

/** The one process memo: the only "build once per process" rule in graft.
  *
  * Query packs reuse what is a pure function of an immutable source dir
  * — resolved relations, row counts, fitted models, pinned checkpoints,
  * on-disk layouts and catalog tables — through this one map. Keys are
  * tuples led by a site tag, e.g. `("count", dir, name)`.
  *
  *   - Hits are lock-free: one map lookup.
  *   - Misses take one reentrant lock, so a build may read another key
  *     (q44's pairs build from the shingle frame) and no build ever runs
  *     inside `ConcurrentHashMap.compute`, which forbids touching other
  *     keys of the same map.
  *   - A build that throws records nothing; the next call builds again.
  *   - An entry may name an owning `SparkContext` (for values bound to
  *     it: DataFrames, checkpoint blocks). It is served only to a caller
  *     passing that same running context. On every miss, entries whose
  *     owner has stopped are swept and handed to their `release`; an
  *     entry replaced for a different owner is released too.
  *   - Everything is process-local on purpose: a fresh process rebuilds,
  *     so a regenerated source table can never be shadowed by a value or
  *     an on-disk layout from an earlier run.
  */
object Memo {
  private final class Entry(val value: Any, val owner: SparkContext,
      val release: Any => Unit)

  private val entries = new java.util.concurrent.ConcurrentHashMap[Product, Entry]()
  private val missLock = new java.util.concurrent.locks.ReentrantLock()

  private def servable(e: Entry, owner: SparkContext): Boolean =
    e != null && (e.owner == null || ((e.owner eq owner) && !owner.isStopped))

  /** Run `body` under the miss lock, after sweeping the entries of
    * stopped owners. */
  private def missing[T](body: => T): T = {
    missLock.lock()
    try {
      entries.forEach { (k, e) =>
        if (e.owner != null && e.owner.isStopped) drop(k, e)
      }
      body
    } finally missLock.unlock()
  }

  private def drop(k: Product, e: Entry): Unit =
    if (entries.remove(k, e)) e.release(e.value)

  /** The value built by `build` under `key`, built once per process (per
    * running `owner`, when one is named). */
  def apply[T](key: Product, owner: SparkContext = null)(build: => T): T =
    owned[T](key, owner, _ => ())(build)

  /** [[apply]] whose `release` receives the value when its entry is
    * swept, replaced or forgotten. */
  def owned[T](key: Product, owner: SparkContext, release: T => Unit)(
      build: => T): T = {
    val hit = entries.get(key)
    if (servable(hit, owner)) hit.value.asInstanceOf[T]
    else missing {
      val cur = entries.get(key)
      if (servable(cur, owner)) cur.value.asInstanceOf[T]
      else {
        if (cur != null) drop(key, cur)
        val fresh = build
        entries.put(key, new Entry(fresh, owner, release.asInstanceOf[Any => Unit]))
        fresh
      }
    }
  }

  /** Build the on-disk layout or catalog table `target` from source `dir`
    * unless this process's last build of it came from the same `dir` and
    * `present` holds (say, the table still exists in the catalog). A
    * different dir rebuilds: the target would otherwise hold the wrong
    * scale's data. Returns `target`. */
  def layout(target: String, dir: String, present: => Boolean = true)(
      build: => Unit): String = {
    val key = ("layout", target)
    def built = { val e = entries.get(key); e != null && e.value == dir && present }
    if (!built) missing {
      if (!built) {
        entries.remove(key)
        build
        entries.put(key, new Entry(dir, null, _ => ()))
      }
    }
    target
  }

  /** Forget every layout that is `path` or that `path` lies under, so the
    * next call rebuilds it — for a scratch path whose cleanup or copy
    * failed inside a shared layout. Matching is on path boundaries:
    * forgetting `.../dump` keeps `.../dump_extra`. */
  private[graft] def forgetUnder(path: String): Unit = forget {
    case ("layout", t: String) => path == t || path.startsWith(t + "/")
    case _ => false
  }

  /** Forget (and release) every entry whose key satisfies `pred`,
    * simulating a fresh process for those keys. */
  private[graft] def forget(pred: Product => Boolean): Unit = missing {
    entries.forEach((k, e) => if (pred(k)) drop(k, e))
  }
}
