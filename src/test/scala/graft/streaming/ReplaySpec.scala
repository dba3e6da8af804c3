package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

/** The drain contract of [[Replay]]: the sink view never outlives the
  * drain, scoped confs come back exactly, every drain records its final
  * batch, and the sentinel flush restores the shared dump it appended to.
  */
class ReplaySpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  /** A 10-row file stream over a fresh scratch dir, plus a way to land
    * another 10-row file in it (atomically, by rename) while it runs. */
  private def fileStream(): (org.apache.spark.sql.DataFrame, () => Unit) = {
    val root = java.nio.file.Files.createTempDirectory("graft-replay")
    val dir = root.resolve("src")
    java.nio.file.Files.createDirectory(dir)
    var wave = 0
    def land(): Unit = {
      val tmp = root.resolve(s"tmp$wave").toString
      spark.range(wave * 10L, wave * 10L + 10).coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.startsWith("part-")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(s"wave$wave.parquet"))
      wave += 1
    }
    land()
    (spark.readStream.schema("id LONG").parquet(dir.toString), () => land())
  }

  private def graftViews: Set[String] = spark.catalog.listTables().collect()
    .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name).toSet

  test("a throwing read-back leaves no graft_ sink view behind") {
    val before = graftViews
    val (df, _) = fileStream()
    val e = intercept[RuntimeException] {
      Replay.drain(spark, "replay_rb", df, "append")((_, _) => sys.error("read-back failed"))
    }
    assert(e.getMessage.contains("read-back failed"))
    assert(graftViews === before)
  }

  test("scoped confs come back to their prior explicit value, unset stays unset") {
    val parts = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val orig = spark.conf.getAll.get(parts)
    spark.conf.set(parts, "3")
    spark.conf.unset(noData)
    try {
      val (df, _) = fileStream()
      val out = Replay.drain(spark, "replay_conf", df, "append",
        Seq(parts -> "2", noData -> "false"))((t, _) => t)
      assert(out.count() === 10L)
      assert(spark.conf.getAll.get(parts) === Some("3"))
      assert(!spark.conf.getAll.contains(noData),
        "a key the caller left unset must not come back as an explicit entry")
    } finally orig.fold(spark.conf.unset(parts))(spark.conf.set(parts, _))
  }

  test("the final batchId is recorded, across between-steps") {
    val (df, land) = fileStream()
    val out = Replay.drain(spark, "replay_batch", df, "append",
      between = Seq(_ => land()))((t, _) => t)
    assert(out.count() === 20L)
    assert(Replay.lastBatch("replay_batch") === Some(1L))
    assert(Replay.lastBatch("replay_never_drained") === None)
  }

  test("the sentinel flush restores the shared dump after a failing step") {
    val layout = "events_stream_days"
    val shards = Replay.dumpDayShards(spark, sf, layout)
    def listing = new java.io.File(shards).list().toSeq.sorted
    val before = listing
    var during = Seq.empty[String]
    val fail: StreamingQuery => Unit = { _ =>
      during = listing
      sys.error("step failed")
    }
    intercept[RuntimeException] {
      Replay.withSentinels(spark, sf, layout,
          Seq(Replay.sentinel(Replay.flushUs(spark, sf), -1L))) { steps =>
        Replay.drain(spark, "replay_flush", Replay.replayStream(spark, sf, layout, 15),
          "append", between = steps :+ fail)((t, _) => t)
      }
    }
    // hidden checksum siblings aside, the step saw exactly one new file
    def visible(names: Seq[String]) = names.filterNot(_.startsWith("."))
    assert(visible(during).size === visible(before).size + 1,
      "the sentinel was never appended")
    assert(listing === before)
  }

  test("sentinel cache keys separate rows whose nested fields render alike") {
    import org.apache.spark.sql.Row
    assert(Replay.encRow(Row("a,b")) !== Replay.encRow(Row("a", "b")))
    // nested values render through Row/Seq toString as "[a,b]" / "List(a,b)"
    assert(Replay.encRow(Row(Row("a,b"))) !== Replay.encRow(Row(Row("a", "b"))))
    assert(Replay.encRow(Row(Seq("a,b"), 1)) !== Replay.encRow(Row(Seq("a", "b"), 1)))
    assert(Replay.encRow(Row(Map("a" -> "b,c"))) !== Replay.encRow(Row(Map("a,b" -> "c"))))
    // an array's toString is its identity hash: equal contents, equal keys
    assert(Replay.encRow(Row(Array(1L, 2L))) === Replay.encRow(Row(Array(1L, 2L))))
    assert(Replay.encRow(Row(Array(1L, 2L))) !== Replay.encRow(Row(Array(12L))))
  }
}
