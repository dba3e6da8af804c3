package graft.operators

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the k-means fixpoint + fitted-IVF pack (the invariants the
  * self-verifying gates assert, recomputed independently here, plus the
  * model-cache contract).
  */
class ClusteringSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("k-means fit converges with a non-increasing spherical objective") {
    val f = Clustering.fit(spark, sf)
    assert(f.converged, s"no convergence in ${f.iters} iters")
    assert(f.iters >= 2 && f.iters <= Clustering.MaxIters)
    assert(f.centroids.length == Clustering.K)
    assert(f.centroids.forall(_.length == 64))
    f.inertia.zip(f.inertia.drop(1)).foreach { case (a, b) =>
      assert(b <= a + 1e-6, s"inertia increased: $a -> $b")
    }
    // the fit genuinely improves on the init (strictly, not just ties)
    assert(f.inertia.last < f.inertia.head)
  }

  test("fitted centroids beat the deterministic-subset IVF on recall@5") {
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val truth = Similarity.q46(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val fitted = recallOf(Clustering.ivfFittedTop5(spark, sf))
    assert(fitted >= Clustering.IvfFittedRecallFloor,
      s"fitted-IVF recall@5 = $fitted")
    // and the gated summary frame must agree with the recomputation
    val gate = graft.SparkEntry.queries("q103_ann_ivf_fitted")(spark, sf)
      .collect()
    assert(gate.length == 1 && gate(0).getBoolean(3),
      s"q103 gate row disagrees: ${gate.mkString}")
  }

  test("recall audit: ANN floors hold as data grows (sf0.01 and sf0.1)") {
    // The gates assert their floors at whatever sf the driver runs; this
    // audit pins that recall does NOT decay with corpus growth (more
    // vectors per IVF cell / LSH bucket could in principle crowd out
    // true neighbors). Floors unchanged (VERDICT r9 #6) — measured
    // values are reported via info() and recorded in SCALING.md.
    def recallOf(dir: String, df: org.apache.spark.sql.DataFrame): Double = {
      val truth = Similarity.q46(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(2))).toSet
      val got = df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
      (truth & got).size.toDouble / truth.size
    }
    // optional extra point (e.g. the derived sf1 fixture from
    // scripts/make_scale.py) for the SCALING.md recall table; CI runs
    // the two shipped dirs only
    val extra = sys.env.get("GRAFT_AUDIT_EXTRA_DIR").toSeq
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1") ++ extra) {
      val ivf = recallOf(dir, Clustering.ivfFittedTop5(spark, dir))
      val lsh = recallOf(dir, Similarity.lshTop5(spark, dir))
      info(f"$dir: fitted-IVF recall@5 = $ivf%.2f, LSH recall@5 = $lsh%.2f")
      assert(ivf >= Clustering.IvfFittedRecallFloor,
        s"fitted-IVF recall@5 decayed at $dir: $ivf")
      assert(lsh >= Similarity.LshRecallFloor,
        s"LSH recall@5 decayed at $dir: $lsh")
    }
  }

  test("model cache: same dir reuses the fit; a fresh process refits") {
    val a = Clustering.fit(spark, sf)
    assert(Clustering.fit(spark, sf) eq a, "same-process fit must be cached")
    graft.Memo.forget(_ == ("kmeans", sf))
    val b = Clustering.fit(spark, sf)
    assert(!(b eq a), "fresh process must refit")
    // deterministic input + deterministic init ⇒ the refit reproduces
    // the same iteration count and assignment structure
    assert(b.iters == a.iters && b.converged == a.converged)
  }
}
