package graft.core

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property pin (SURVEY.md §5.2): for arbitrary data and keyspaces,
  * MapReduce.run ≡ a local Scala flatMap/groupBy/reduce oracle, for a
  * holistic (order-sensitive-unless-sorted) reduce and both partitioning
  * paths. Seeded random cases — deterministic, no scalatestplus bridge
  * needed in the offline environment.
  */
class MapReducePropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("run ≡ local oracle (holistic sorted-concat, both paths, 10 cases)") {
    import spark.implicits._
    val rnd = new Random(42)
    for (caseNo <- 1 to 10) {
      val n = 1 + rnd.nextInt(200)
      val m = 1 + rnd.nextInt(12)
      val xs = List.fill(n)(rnd.nextInt(2001) - 1000)
      val mapF = (x: Int) => Iterator((math.floorMod(x, m), x.toLong))
      val localOracle = xs.flatMap(mapF).groupBy(_._1)
        .map { case (k, kvs) => (k, kvs.map(_._2).sorted.mkString(",")) }
        .toSeq.sortBy(_._1)
      for (parts <- Seq(None, Some(3))) {
        val got = MapReduce.run[Int, Int, Long, (Int, String)](
          spark.createDataset(xs), mapF,
          (k, vs) => (k, vs.toSeq.sorted.mkString(",")), parts)
          .collect().toSeq.sortBy(_._1)
        assert(got === localOracle, s"case $caseNo parts=$parts m=$m n=$n")
      }
    }
  }

  test("runWithPlacement ≡ run under arbitrary placements (golden, 6 cases)") {
    import spark.implicits._
    val rnd = new Random(7)
    for (caseNo <- 1 to 6) {
      val n = 1 + rnd.nextInt(200)
      val m = 1 + rnd.nextInt(8)
      val xs = List.fill(n)(rnd.nextInt(2001) - 1000)
      val mapF = (x: Int) => Iterator((math.floorMod(x, m), x.toLong))
      val reduceF = (k: Int, vs: Iterator[Long]) =>
        (k, vs.toSeq.sorted.mkString(","))
      val baseline = MapReduce.run[Int, Int, Long, (Int, String)](
        spark.createDataset(xs), mapF, reduceF)
        .collect().toSeq.sortBy(_._1)
      // three placement policies a caller might plug in: round-robin-ish
      // (value mod mappers), all-to-one hotspot, and a salted spread —
      // all must be result-transparent (reference distribute_work_fcn
      // contract: placement changes locality, never output)
      val placements: Seq[(Int, Int) => Int] = Seq(
        (d, nm) => math.floorMod(d, nm),
        (_, _) => 0,
        (d, nm) => math.floorMod(d * 31 + 17, nm))
      for ((place, pi) <- placements.zipWithIndex; nm <- Seq(1, 3, 7)) {
        val got = MapReduce.runWithPlacement[Int, Int, Long, (Int, String)](
          spark.createDataset(xs), mapF, reduceF, place, nm)
          .collect().toSeq.sortBy(_._1)
        assert(got === baseline,
          s"case $caseNo placement#$pi numMappers=$nm n=$n m=$m")
      }
    }
  }

  test("runWithPlacement realizes shard s AS map partition s (identity)") {
    import spark.implicits._
    // Result-equality alone can't see broken placement (hash-repartition
    // on the shard id also yields correct OUTPUT while merging/starving
    // mappers) — so pin the semantics directly: the map phase is a
    // narrow flatMap over the placed partitions, so the task partition
    // id observed inside mapFcn must equal placeFcn(record, nm) for
    // EVERY record, for every mapper count.
    val xs = (0 until 500).toList
    for (nm <- Seq(1, 3, 4, 7)) {
      val place = (d: Int, n: Int) => math.floorMod(d * 131 + 5, n)
      val observed = MapReduce.runWithPlacement[Int, Int, Int, (Int, String)](
        spark.createDataset(xs),
        d => Iterator((d, org.apache.spark.TaskContext.getPartitionId())),
        (k, vs) => (k, vs.mkString(",")),
        place, nm)
        .collect()
      assert(observed.length === xs.length)
      observed.foreach { case (d, pids) =>
        assert(pids === place(d, nm).toString,
          s"record $d observed partition $pids, placed ${place(d, nm)} (nm=$nm)")
      }
    }
  }

  test("bundle keeps every pair and emits at most one chunk per key per flush") {
    val rnd = new Random(11)
    for (caseNo <- 1 to 8) {
      val kvs = List.fill(rnd.nextInt(500))((rnd.nextInt(9), rnd.nextLong()))
      val keys = kvs.map(_._1).distinct.size
      // budget 1 flushes after every pair; a huge one never flushes early
      for (budget <- Seq(1L, 1L << 40)) {
        val chunks = MapReduce.bundle(kvs.iterator, budget).toList
        assert(chunks.flatMap { case (k, vs) => vs.map((k, _)) }.sorted === kvs.sorted,
          s"case $caseNo budget=$budget")
        val expected = if (budget == 1L) kvs.size else keys
        assert(chunks.size === expected, s"case $caseNo budget=$budget")
      }
    }
  }

  test("combine merges every pair and emits at most one partial per key per flush") {
    val rnd = new Random(13)
    for (caseNo <- 1 to 8) {
      val kvs = List.fill(rnd.nextInt(500))((rnd.nextInt(9), rnd.nextInt(1000).toLong))
      val oracle = kvs.groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).sum) }
      // budget 1 flushes after every pair; a huge one never flushes early
      for (budget <- Seq(1L, 1L << 40)) {
        val partials = MapReduce.combine[Int, Long](kvs.iterator, budget, _ + _).toList
        val sums = partials.groupBy(_._1).map { case (k, ps) => (k, ps.map(_._2).sum) }
        assert(sums === oracle, s"case $caseNo budget=$budget")
        val expected = if (budget == 1L) kvs.size else oracle.size
        assert(partials.size === expected, s"case $caseNo budget=$budget")
      }
    }
  }

  test("a growing set-union partial still flushes within the budget") {
    val (n, keys, budget) = (30000, 3, 16L << 10)
    val kvs = Iterator.range(0, n).map(i => (i % keys, Set(i)))
    val partials = MapReduce.combine[Int, Set[Int]](kvs, budget, _ ++ _).toList
    val unions = partials.groupBy(_._1).map { case (k, ps) => (k, ps.map(_._2).reduce(_ ++ _)) }
    assert(unions === (0 until n).toSet.groupBy((i: Int) => i % keys))
    // every pair counts at least its slot against the budget, however
    // little its key adds, so the fold flushes at least this often
    val minFlushes = n * MapReduce.ValueSlotBytes / budget
    assert(partials.size >= minFlushes, s"${partials.size} partials for $n pairs")
    assert(partials.map(_._2.size).max <= budget / MapReduce.ValueSlotBytes)
  }
}
