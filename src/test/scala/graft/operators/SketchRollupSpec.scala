package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Property pins for the round-12 sketch/scripting additions:
  *
  *   - q262's histogram quantiles must sit within ONE BIN WIDTH of the
  *     exact order statistic on arbitrary data — the declared error
  *     contract, checked against a direct sort, not the oracle's
  *     replay of the same arithmetic.
  *   - q263's scripted k-ary search must equal the exact lower median
  *     on adversarial value distributions (duplicates, skew, negatives
  *     clamped away by the cents domain) — the loop invariant is where
  *     an off-by-one would silently return a neighboring value.
  *   - Materialize's reliable tier must fail LOUDLY when no checkpoint
  *     dir is configured (a silent localCheckpoint fallback would void
  *     the fault-tolerance contract the conf promises).
  */
class SketchRollupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("q262 histogram p50/p90/p99 within one bin of the exact order statistic") {
    val rnd = new scala.util.Random(7)
    // skewed + heavy ties: the regime where naive midpoint interpolation
    // drifts furthest from the order statistic
    val vals = Seq.fill(5000)(math.pow(rnd.nextDouble(), 3) * 500.0) ++
      Seq.fill(1000)(42.0)
    def exactQ(q: Double): Double = {
      val sorted = vals.sorted
      sorted((math.ceil(q * sorted.size) - 1).toInt.max(0))
    }
    // same binning as q262
    val bins = vals.map(v => math.max(math.min(math.floor(v), 511.0), 0.0).toLong)
    val hist = bins.groupBy(identity).view.mapValues(_.size.toLong).toSeq.sortBy(_._1)
    val n = vals.size.toLong
    def histQ(num: Long, den: Long): Long = {
      var cum = 0L
      hist.find { case (_, c) => cum += c; cum * den >= n * num }.get._1
    }
    for ((q, num, den) <- Seq((0.5, 1L, 2L), (0.9, 9L, 10L), (0.99, 99L, 100L))) {
      val h = histQ(num, den).toDouble
      val e = exactQ(q)
      assert(math.abs(h - e) <= 1.0 + 1e-9,
        s"q=$q histogram bin $h vs exact $e exceeds the one-bin contract")
    }
  }

  test("q263 scripted k-ary median equals the exact lower median on adversarial data") {
    import spark.implicits._
    // heavy duplicates around the median boundary + extreme outliers:
    // the bracket-update edge cases (all probes < k, all >= k, step 1)
    val vals = (Seq.fill(400)(100L) ++ Seq.fill(399)(101L) ++
      Seq(0L, 1L, 99999999L) ++ (1L to 198L)).map(_.toDouble / 100.0)
    val df = vals.toDF("o_totalprice")
      .withColumn("o_orderkey", monotonically_increasing_id())
    val dir = java.nio.file.Files.createTempDirectory("graft_q263_spec").toString
    df.select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // reuse the real gate against the synthetic orders table
    val got = graft.SparkEntry.queries("q263_sql_scripting_bisect")(spark, dir)
      .head()
    val cents = vals.map(v => math.round(v * 100)).sorted
    val expect = cents((cents.size + 1) / 2 - 1)
    assert(got.getLong(0) == expect,
      s"scripted median ${got.getLong(0)} != exact lower median $expect")
    assert(got.getLong(1) == vals.size.toLong)
  }

  test("Materialize reliable tier without a checkpoint dir fails loudly") {
    import spark.implicits._
    spark.conf.set(graft.Materialize.ReliableConf, "true")
    try {
      // only trip the guard when the context has NO checkpoint dir; an
      // earlier reliable-tier test may have legitimately installed one
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        val e = intercept[IllegalStateException] {
          graft.Materialize(Seq(1, 2, 3).toDF("x"))
        }
        assert(e.getMessage.contains(graft.Materialize.DirConf))
      } else {
        // dir present: reliable mode must materialize, not throw
        assert(graft.Materialize(Seq(1, 2, 3).toDF("x")).count() == 3)
      }
    } finally spark.conf.unset(graft.Materialize.ReliableConf)
  }
}
