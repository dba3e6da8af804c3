package graft.core

import graft.{SessionConfs, TestSpark}
import org.apache.hadoop.fs.RawLocalFileSystem
import org.scalatest.funsuite.AnyFunSuite
import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

/** Ports of the reference's file-input tests (mapreduce_unittest.py:58-70)
  * with regenerated fixtures: a file with "header" + 0..999 and one with
  * just 0..999, plus the multi-file index path (mapreduce.py:176-187).
  */
class MapReduceFileSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val golden: Seq[(Long, Long)] = Seq(
    0L -> 998001L, 1L -> 982081L, 2L -> 984064L, 3L -> 986049L,
    4L -> 988036L, 5L -> 990025L, 6L -> 992016L, 7L -> 994009L,
    8L -> 996004L)

  def tmpDir(): Path = Files.createTempDirectory("graft-fixtures")

  // Standalone function value: a suite method would capture the
  // non-serializable ScalaTest engine in the Spark closure.
  val mapLine: String => Iterator[(Long, Long)] =
    MapReduceFileSpec.mapLine

  test("single file without header (test_single_file)") {
    import spark.implicits._
    val f = tmpDir().resolve("file_without_header")
    Files.writeString(f, (0 until 1000).mkString("", "\n", "\n"))
    val out = MapReduce.runOnTextFile[Long, Long, (Long, Long)](
      spark, f.toString, mapLine, (k, vs) => (k, vs.max))
      .collect().toSeq.sortBy(_._1)
    assert(out === golden)
  }

  test("single file with header + ignoreFirstLine (test_single_file_hdr)") {
    import spark.implicits._
    val f = tmpDir().resolve("file_with_header")
    Files.writeString(f, "header\n" + (0 until 1000).mkString("", "\n", "\n"))
    val out = MapReduce.runOnTextFile[Long, Long, (Long, Long)](
      spark, f.toString, mapLine, (k, vs) => (k, vs.max),
      ignoreFirstLine = true)
      .collect().toSeq.sortBy(_._1)
    assert(out === golden)
  }

  def headered(f: Path, xs: Seq[Int]): Path =
    Files.writeString(f, "header\n" + xs.mkString("", "\n", "\n"))

  def maxByKey(ds: org.apache.spark.sql.Dataset[(Long, Long)]): Seq[(Long, Long)] =
    ds.collect().toSeq.sortBy(_._1)

  test("ignoreFirstLine over several splits starts no job before the action") {
    import spark.implicits._
    val f = headered(tmpDir().resolve("file_with_header"), 0 until 1000)
    SessionConfs.withConfs(spark, "spark.sql.files.maxPartitionBytes" -> "1024") {
      assert(spark.read.textFile(f.toString).rdd.getNumPartitions >= 2)
      val (ds, jobs) = TestSpark.jobsStartedBy(MapReduce.runOnTextFile[Long, Long, (Long, Long)](
        spark, f.toString, mapLine, (k, vs) => (k, vs.max), ignoreFirstLine = true))
      assert(jobs === 0, "building the Dataset ran a Spark job")
      assert(maxByKey(ds) === golden)
    }
  }

  test("ignoreFirstLine drops the header of every file a glob names") {
    import spark.implicits._
    val dir = tmpDir()
    headered(dir.resolve("part-0"), 0 until 500)
    headered(dir.resolve("part-1"), 500 until 1000)
    val out = MapReduce.runOnTextFile[Long, Long, (Long, Long)](
      spark, s"$dir/part-*", mapLine, (k, vs) => (k, vs.max), ignoreFirstLine = true)
    assert(maxByKey(out) === golden)
  }

  /** Three data files holding 0..999 and an index file listing them,
    * written by `writeIndex` from the list of their paths. */
  def indexedShards(writeIndex: (Path, Seq[String]) => Path): String = {
    val dir = tmpDir()
    val files = (0 until 1000).grouped(334).zipWithIndex.toSeq.map { case (xs, i) =>
      val f = dir.resolve(s"data_$i.txt")
      Files.writeString(f, xs.mkString("", "\n", "\n"))
      f.toString
    }
    writeIndex(dir, files).toString
  }

  def runIndex(index: String): org.apache.spark.sql.Dataset[(Long, Long)] = {
    import spark.implicits._
    MapReduce.runOnFileIndex[Long, Long, (Long, Long)](
      spark, index, mapLine, (k, vs) => (k, vs.max))
  }

  val plainIndex: (Path, Seq[String]) => Path =
    (dir, files) => Files.writeString(dir.resolve("index.txt"), files.mkString("", "\n", "\n"))

  test("runOnFileIndex reads its index without a Spark job") {
    val (ds, jobs) = TestSpark.jobsStartedBy(runIndex(indexedShards(plainIndex)))
    assert(jobs === 0, "building the Dataset ran a Spark job")
    assert(maxByKey(ds) === golden)
  }

  test("index forms: CRLF endings, blank and padded lines, gzip") {
    val forms: Seq[(String, (Path, Seq[String]) => Path)] = Seq(
      "CRLF, blank and padded lines" -> ((dir, files) => Files.writeString(
        dir.resolve("index.txt"),
        files.map(f => s"  $f\t").mkString("\r\n", "\r\n\r\n", "\r\n  \r\n"))),
      "gzip, by extension" -> { (dir, files) =>
        val gz = dir.resolve("index.txt.gz")
        val out = new GZIPOutputStream(Files.newOutputStream(gz))
        try out.write(files.mkString("\n").getBytes(StandardCharsets.UTF_8)) finally out.close()
        gz
      })
    for ((form, write) <- forms)
      assert(maxByKey(runIndex(indexedShards(write))) === golden, form)
  }

  test("Hadoop keys set on the session reach the index read") {
    val routed = s"graftidx://${indexedShards(plainIndex)}"
    intercept[org.apache.hadoop.fs.UnsupportedFileSystemException](runIndex(routed))
    SessionConfs.withConfs(spark,
        "fs.graftidx.impl" -> classOf[IndexSchemeFileSystem].getName,
        "fs.graftidx.impl.disable.cache" -> "true") {
      assert(maxByKey(runIndex(routed)) === golden)
    }
  }

  test("a missing index or a directory index fails, naming the path") {
    val missing = tmpDir().resolve("no_such_index.txt").toString
    val e = intercept[FileNotFoundException](runIndex(missing))
    assert(e.getMessage.contains(missing), e.getMessage)
    val dir = tmpDir().toString
    val d = intercept[IllegalArgumentException](runIndex(dir))
    assert(d.getMessage.contains(dir), d.getMessage)
  }

  test("multi-file index path (MapReduceWithMultipleFiles)") {
    assert(maxByKey(runIndex(indexedShards(plainIndex))) === golden)
  }
}

/** A local file system under its own scheme, `graftidx:`, which a
  * session reaches only through an `fs.graftidx.impl` key. */
class IndexSchemeFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftidx:///")
}

object MapReduceFileSpec {
  val mapLine: String => Iterator[(Long, Long)] = { line =>
    val x = line.trim.toLong
    Iterator((x % 9L, x * x))
  }
}
