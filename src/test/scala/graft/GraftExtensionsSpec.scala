package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("extension installs without error and the function builder works") {
    new GraftExtensions().apply(new SparkSessionExtensions) // must not throw
  }

  test("graft_shingles generator matches the composed explode shape, incl. edges") {
    graft.functions.TextFunctions.ensureShingles(spark)
    import spark.implicits._
    Seq(
      (1L, "a b c d"),            // 2 tri-shingles
      (2L, "a  b c"),             // double space: EMPTY token kept
      (3L, "x y"),                // shorter than n -> zero rows
      (4L, null.asInstanceOf[String]), // null -> zero rows
      (5L, "a b c")               // exactly n -> one row at pos 0
    ).toDF("doc_id", "text").createOrReplaceTempView("shgen_docs")
    val gen = spark.sql(
      """SELECT doc_id, t.pos, t.shingle FROM shgen_docs
        |LATERAL VIEW graft_shingles(text, 3) t AS pos, shingle
        |ORDER BY doc_id, pos""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    // composed shape: split + positional transform + explode
    val composed = spark.sql(
      """SELECT doc_id, t.i AS pos,
        |  concat_ws(' ', slice(split(text, ' ', -1), t.i + 1, 3)) AS shingle
        |FROM shgen_docs
        |LATERAL VIEW explode(sequence(0, size(split(text, ' ', -1)) - 3)) t AS i
        |WHERE text IS NOT NULL AND size(split(text, ' ', -1)) >= 3
        |ORDER BY doc_id, pos""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    assert(gen.sameElements(composed), s"\n${gen.mkString(",")}\nvs\n${composed.mkString(",")}")
    assert(gen.count(_._1 == 2L) == 2 && gen.exists(x => x._1 == 2L && x._3 == "a  b"),
      "empty tokens must be kept (SQL split semantics)")
    assert(!gen.exists(x => x._1 == 3L || x._1 == 4L))
    assert(gen.filter(_._1 == 5L).map(_._2).sameElements(Array(0)))
    spark.catalog.dropTempView("shgen_docs")
  }

  test("graft_dot is callable from SQL once registered") {
    graft.functions.VectorFunctions.dot(spark, "x", "x") // triggers registration
    val r = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .head().getDouble(0)
    assert(r === 11.0)
  }

  test("graft_sql2 matches the HOF squared-L2 fold bit-for-bit") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val df = Seq.fill(50)((Seq.fill(8)(rnd.nextGaussian()),
      Seq.fill(8)(rnd.nextGaussian()))).toDF("a", "b")
    graft.functions.VectorFunctions.squaredL2(spark, "a", "b")
    val pairs = df.select(
      expr("graft_sql2(a, b)").as("native"),
      expr("aggregate(sequence(0, 7), 0.0D, " +
        "(acc, i) -> acc + (a[i] - b[i]) * (a[i] - b[i]))").as("hof"))
      .collect()
    // exact double equality: the expression's sequential adds must be
    // bit-identical to the left-to-right HOF fold (the q113 oracle
    // contract rides on this)
    pairs.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("graft_dot codegen and interpreted paths agree") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    graft.functions.VectorFunctions.dot(spark, "a", "b")
    val viaSql = df.selectExpr("graft_dot(a, b)").head().getDouble(0)
    val viaHof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, z) => acc + z)).head().getDouble(0)
    assert(viaSql === viaHof)
    assert(viaSql === 32.0)
  }
}
