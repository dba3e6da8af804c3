package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.apache.spark.SparkContext
import org.scalatest.funsuite.AnyFunSuite

/** The build-once contract of [[Memo]]: failed builds record nothing,
  * builds nest, layouts trust only their last source dir and `present`,
  * entries of a stopped owner are swept and released, and
  * `forgetUnder` matches on path boundaries. */
class MemoSpec extends AnyFunSuite {
  private def tag(): String = java.util.UUID.randomUUID().toString

  test("a throwing build records nothing and the next call builds") {
    val key = ("spec", tag())
    intercept[IllegalStateException](
      Memo[Int](key)(throw new IllegalStateException("boom")))
    assert(Memo(key)(7) === 7)
    assert(Memo[Int](key)(sys.error("rebuilt")) === 7)
  }

  test("nested misses on two keys with colliding hashCodes both succeed") {
    val t = tag()
    val (inner, outer) = (("spec", t, "Aa"), ("spec", t, "BB"))
    assert(inner.hashCode == outer.hashCode)
    assert(Memo(outer)(Memo(inner)(1) + 1) === 2)
    assert(Memo[Int](inner)(sys.error("rebuilt")) === 1)
    assert(Memo[Int](outer)(sys.error("rebuilt")) === 2)
  }

  test("layout rebuilds on every change of source dir") {
    val target = s"/spec/${tag()}"
    val builds = new AtomicInteger()
    Seq("A", "B", "A").foreach(dir =>
      assert(Memo.layout(target, dir)(builds.incrementAndGet()) === target))
    assert(builds.get === 3)
    Memo.layout(target, "A")(builds.incrementAndGet())
    assert(builds.get === 3, "same dir, present: reused")
  }

  test("present = false forces a rebuild") {
    val target = s"/spec/${tag()}"
    val builds = new AtomicInteger()
    Memo.layout(target, "A")(builds.incrementAndGet())
    Memo.layout(target, "A", present = false)(builds.incrementAndGet())
    assert(builds.get === 2)
  }

  test("after the owner context stops, a miss sweeps the entry and releases it") {
    // A stand-in context: uninitialised apart from its stopped flag, so
    // the suite's shared SparkContext keeps running.
    val unsafe = {
      val f = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
      f.setAccessible(true)
      f.get(null).asInstanceOf[sun.misc.Unsafe]
    }
    val owner = unsafe.allocateInstance(classOf[SparkContext]).asInstanceOf[SparkContext]
    val stopped = new AtomicBoolean(false)
    val field = classOf[SparkContext].getDeclaredField("stopped")
    field.setAccessible(true)
    field.set(owner, stopped)

    val key = ("spec", tag())
    val released = new AtomicInteger()
    def get(): String = Memo.owned(key, owner, (_: String) => released.incrementAndGet())("v")
    assert(get() === "v")
    assert(Memo.owned(key, owner, (_: String) => ())(sys.error("rebuilt")) === "v")
    stopped.set(true)
    assert(released.get === 0)
    Memo(("spec", tag()))(()) // any miss sweeps
    assert(released.get === 1)
  }

  test("forgetUnder(.../dump) keeps .../dump_extra") {
    val root = s"/spec/${tag()}"
    val builds = new AtomicInteger()
    val (dump, extra) = (s"$root/dump", s"$root/dump_extra")
    Seq(dump, extra).foreach(t => Memo.layout(t, "A")(builds.incrementAndGet()))
    Memo.forgetUnder(dump)
    Memo.layout(extra, "A")(fail("dump_extra was forgotten"))
    Memo.layout(dump, "A")(builds.incrementAndGet())
    assert(builds.get === 3)
    Memo.forgetUnder(s"$extra/zz_sentinel.parquet")
    Memo.layout(extra, "A")(builds.incrementAndGet())
    assert(builds.get === 4, "a path under a layout forgets it")
  }
}
