package graft

import org.scalatest.funsuite.AnyFunSuite

/** The release contract of [[CallScope.local]]: the result is collected
  * while the call's state exists, every piece of state is gone
  * afterwards — also when the body threw — and release failures never
  * hide the body's own failure.
  */
class CallScopeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "callscope-spec"

  private def exists(p: String) = new java.io.File(p).exists()

  test("a throwing body leaves no view, table or path, and confs come back") {
    val parts = "spark.sql.shuffle.partitions"
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val orig = spark.conf.getAll.get(parts)
    spark.conf.set(parts, "3")
    spark.conf.unset(noData)
    var path = ""
    try {
      val e = intercept[IllegalStateException] {
        CallScope.local(spark, parts -> "5", noData -> "false") { cs =>
          cs.view("graft_cs_throw_v", spark.range(3).toDF())
          val t = cs.table("graft_cs_throw_t")
          spark.sql(s"CREATE TABLE $t (id BIGINT) USING parquet")
          path = cs.path(dir, "throw")
          spark.range(3).write.parquet(path)
          assert(spark.catalog.tableExists("graft_cs_throw_v"))
          assert(spark.catalog.tableExists(t))
          assert(exists(path))
          assert(spark.conf.get(parts) === "5")
          throw new IllegalStateException("body failed")
        }
      }
      assert(e.getMessage === "body failed")
      assert(!spark.catalog.tableExists("graft_cs_throw_v"))
      assert(!spark.catalog.tableExists("graft_cs_throw_t"))
      assert(path.nonEmpty && !exists(path))
      assert(spark.conf.getAll.get(parts) === Some("3"))
      assert(!spark.conf.getAll.contains(noData),
        "a key the caller left unset must not come back as an explicit entry")
    } finally orig.fold(spark.conf.unset(parts))(spark.conf.set(parts, _))
  }

  test("the returned frame still reads after its view, table and path are gone") {
    var path = ""
    val out = CallScope.local(spark) { cs =>
      cs.view("graft_cs_read_v", spark.range(5).toDF())
      val t = cs.table("graft_cs_read_t")
      spark.sql(s"CREATE TABLE $t (id BIGINT) USING parquet")
      spark.sql(s"INSERT INTO $t SELECT id FROM graft_cs_read_v")
      path = cs.path(dir, "read")
      spark.table(t).write.parquet(path)
      spark.read.parquet(path).orderBy("id")
    }
    assert(!spark.catalog.tableExists("graft_cs_read_v"))
    assert(!spark.catalog.tableExists("graft_cs_read_t"))
    assert(!exists(path))
    assert(out.collect().map(_.getLong(0)).toSeq === (0L until 5L))
  }

  test("two calls get distinct scratch paths") {
    val paths = (1 to 2).map { _ =>
      var p = ""
      CallScope.local(spark) { cs => p = cs.path(dir, "twice"); spark.range(1).toDF() }
      p
    }
    assert(paths.distinct.size === 2, paths)
    assert(paths.forall(p => p.contains("twice_") && !exists(p)))
  }

  test("releases run in reverse order, every one attempted") {
    val ran = scala.collection.mutable.ListBuffer[Int]()
    val e = intercept[RuntimeException] {
      CallScope.local(spark) { cs =>
        cs.defer(ran += 1)
        cs.defer(sys.error("release 2 failed"))
        cs.defer(ran += 3)
        spark.range(1).toDF()
      }
    }
    assert(ran.toSeq === Seq(3, 1))
    assert(e.getMessage === "release 2 failed",
      "after a successful body the first release failure is thrown")
  }

  test("release failures are suppressed under a body failure") {
    var dropped = false
    val e = intercept[IllegalStateException] {
      CallScope.local(spark) { cs =>
        cs.defer { dropped = true }
        cs.defer(sys.error("release a failed"))
        cs.defer(sys.error("release b failed"))
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage === "body failed")
    assert(e.getSuppressed.map(_.getMessage).toSeq ===
      Seq("release b failed", "release a failed"))
    assert(dropped)
  }
}
