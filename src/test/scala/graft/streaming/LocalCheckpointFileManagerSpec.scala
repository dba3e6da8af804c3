package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}

import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Using

import graft.TestSpark.programsStartedDuring
import graft.sources.LocalFs

/** Local checkpoint files under Spark's default checkpoint file manager
  * on graft's `file:` filesystem ([[LocalFs]], installed as the streaming
  * gates install it): atomic publish semantics on the file level,
  * exactly-once recovery of a stateful query, and a guard that a warm
  * streaming gate starts no `chmod`/`readlink`. */
class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  private def freshDir(tag: String): NioPath = Files.createTempDirectory(tag)

  private def manager(dir: NioPath) = {
    // the session's Hadoop conf, under the streaming gates' conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(LocalFs.fileContext._1, LocalFs.fileContext._2)
    new FileContextBasedCheckpointFileManager(new Path(dir.toUri), conf)
  }

  private def write(m: FileContextBasedCheckpointFileManager, f: NioPath, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(new Path(f.toUri), overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(f: NioPath): String = new String(Files.readAllBytes(f), UTF_8)

  private def names(dir: NioPath): Set[String] =
    Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toSet)

  private def chmodOrReadlink(programs: Seq[String]): Seq[String] =
    programs.filter(p => p == "chmod" || p == "readlink")

  test("createAtomic without overwrite onto an existing file throws and keeps the old bytes") {
    val dir = freshDir("lcfm_excl")
    val m = manager(dir)
    val f = dir.resolve("0")
    // a publish through the manager goes through LocalFs: no process
    val spawned = chmodOrReadlink(programsStartedDuring(write(m, f, "first", overwrite = false)))
    assert(spawned.isEmpty, s"publish spawned: ${spawned.mkString("; ")}")
    intercept[FileAlreadyExistsException](write(m, f, "second", overwrite = false))
    // the old bytes, still under their own checksum sidecar
    assert(read(f) === "first")
    assert(m.open(new Path(f.toUri)).readAllBytes().sameElements("first".getBytes(UTF_8)))
    assert(names(dir) === Set("0", ".0.crc"), "the losing writer left a temp file behind")
  }

  test("of two racing publishes without overwrite exactly one wins") {
    val dir = freshDir("lcfm_race")
    val m = manager(dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try for (round <- 0 until 50) {
      val f = dir.resolve(round.toString)
      // both streams are written before either publishes
      val written = new java.util.concurrent.CyclicBarrier(2)
      val publishes = Seq("a", "b").map { text =>
        pool.submit { () =>
          val out = m.createAtomic(new Path(f.toUri), overwriteIfPossible = false)
          out.write(text.getBytes(UTF_8))
          written.await()
          scala.util.Try(out.close()).map(_ => text)
        }
      }.map(_.get())
      val won = publishes.flatMap(_.toOption)
      assert(won.size === 1, s"round $round: ${publishes.mkString(", ")}")
      assert(publishes.flatMap(_.failed.toOption).forall(_.isInstanceOf[FileAlreadyExistsException]))
      assert(read(f) === won.head)
    } finally pool.shutdown()
    assert(names(dir) === (0 until 50).flatMap(r => Seq(s"$r", s".$r.crc")).toSet)
  }

  test("a publish without overwrite over a deleted file's stale .crc reads back the new bytes") {
    val dir = freshDir("lcfm_stale")
    val m = manager(dir)
    val f = dir.resolve("1")
    write(m, f, "old bytes", overwrite = false)
    Files.delete(f)
    assert(names(dir) === Set(".1.crc"))
    write(m, f, "new", overwrite = false)
    assert(names(dir) === Set("1", ".1.crc"))
    // the checksummed read path would reject the new bytes under the old sums
    assert(m.open(new Path(f.toUri)).readAllBytes().sameElements("new".getBytes(UTF_8)))
  }

  test("createAtomic with overwrite replaces the file and its stale Hadoop .crc") {
    val dir = freshDir("lcfm_over")
    val m = manager(dir)
    val f = dir.resolve("1.delta")
    // written through the session's FileSystem: the file gets a
    // `.1.delta.crc` sidecar of the old bytes
    val old = org.apache.hadoop.fs.FileSystem.get(f.toUri, spark.sparkContext.hadoopConfiguration)
      .create(new Path(f.toUri))
    old.write("old bytes".getBytes(UTF_8))
    old.close()
    assert(names(dir).contains(".1.delta.crc"))
    write(m, f, "new", overwrite = true)
    assert(names(dir) === Set("1.delta", ".1.delta.crc"))
    // the checksummed read path would reject the new bytes under the old sums
    assert(m.open(new Path(f.toUri)).readAllBytes().sameElements("new".getBytes(UTF_8)))
  }

  test("close leaves no temp sibling; cancel leaves neither target nor temp") {
    val dir = freshDir("lcfm_tmp")
    val m = manager(dir)
    write(m, dir.resolve("done"), "x", overwrite = false)
    assert(names(dir) === Set("done", ".done.crc"))
    val out = m.createAtomic(new Path(dir.resolve("cancelled").toUri), overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    assert(names(dir).size > 2, "the open stream should write a temp sibling")
    out.cancel()
    assert(names(dir) === Set("done", ".done.crc"))
  }

  test("a streaming aggregation under the manager resumes exactly-once after its latest commit is dropped") {
    import spark.implicits._
    val src = freshDir("lcfm_src").toString
    val cp = freshDir("lcfm_cp").toString
    def wave(from: Int, until: Int): Unit =
      (from until until).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "grp")
        .coalesce(1).write.mode("append").parquet(src)
    // (batchId, sorted complete-mode output) per processed batch
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String])]()
    def drain(): Unit = {
      val schema = new org.apache.spark.sql.types.StructType()
        .add("id", "long").add("grp", "string")
      val q = graft.SessionConfs.withConfs(spark, LocalFs.fileContext) {
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1") // one epoch per wave
          .parquet(src)
          .groupBy("grp").agg(count(lit(1)).as("n"), sum("id").as("s"))
          .writeStream.outputMode("complete")
          .option("checkpointLocation", cp)
          .foreachBatch { (df: DataFrame, id: Long) =>
            seen.add((id, df.collect().map(_.toString).toSeq.sorted)); ()
          }
          .start()
      }
      try q.processAllAvailable() finally q.stop()
    }
    wave(0, 30); wave(30, 60)
    drain()
    assert(seen.asScala.map(_._1).toSeq === Seq(0L, 1L))
    val commits = new java.io.File(cp, "commits")
    assert(commits.list().toSet === Set("0", "1", ".0.crc", ".1.crc"))
    // Spark's checksum layer still wraps every state-store file: its
    // sidecar is `<file>.crc` (Hadoop's is the hidden `.<file>.crc`)
    val stateFiles = Using.resource(Files.walk(java.nio.file.Paths.get(cp, "state")))(
      _.iterator().asScala.filter(Files.isRegularFile(_)).map(_.getFileName.toString).toList)
    val deltas = stateFiles.filter(_.endsWith(".delta"))
    assert(deltas.nonEmpty && deltas.forall(d => stateFiles.contains(d + ".crc")),
      s"state files without checksum sidecars: ${stateFiles.sorted.mkString(",")}")
    // "sink committed, commit log did not": the restart must replay batch 1
    assert(new java.io.File(commits, "1").delete())
    seen.clear()
    wave(60, 90)
    drain()
    assert(seen.asScala.map(_._1).toSeq === Seq(1L, 2L), "batch 1 was not replayed")
    val expected = (0 until 90).groupBy(i => s"g${i % 3}").toSeq.map { case (g, ids) =>
      org.apache.spark.sql.Row(g, ids.size.toLong, ids.map(_.toLong).sum).toString
    }.sorted
    assert(seen.asScala.last._2 === expected, "the replayed batch was counted twice")
  }

  test("a streaming gate drain starts no chmod or readlink process") {
    val gate = graft.SparkEntry.queries("q70_stream_month_count")
    assert(gate(spark, sf).count() > 0)
    val spawned = chmodOrReadlink(programsStartedDuring(assert(gate(spark, sf).count() > 0)))
    assert(spawned.isEmpty, s"${spawned.size} checkpoint spawns: ${spawned.mkString("; ")}")
  }

  test("publishing cached sentinel files starts no chmod or readlink process") {
    // the first call builds q222's slice and sentinel library (Spark
    // write jobs); a later call only copies library files into its source
    val gate = graft.SparkEntry.queries("q222_stream_late_drop")
    assert(gate(spark, sf).count() > 0)
    val spawned = chmodOrReadlink(programsStartedDuring(assert(gate(spark, sf).count() > 0)))
    assert(spawned.isEmpty, s"${spawned.size} publish spawns: ${spawned.mkString("; ")}")
  }
}
