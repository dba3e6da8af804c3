package graft.operators

import graft.{Q, QueryPack}
import graft.Materialize.MaterializeOps
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}

/** Spherical k-means driven to CONVERGENCE, and the IVF ANN index built
  * from the fitted centroids (north-star extension; closes VERDICT r5
  * "What's missing" #2). q98 gates one Lloyd step; real
  * cluster-then-curate pipelines (SemDeDup-style pruning, diversity
  * sampling) need the fixpoint loop, and a production IVF index probes
  * cells fitted to the data rather than an arbitrary vector subset
  * (q47's deterministic `vec_id < 16` baseline stays as the
  * exact-oracle-checkable variant).
  *
  * Scale design (100 TB): per iteration the corpus NEVER shuffles —
  * assignment is a broadcast argmin against k centroids (16×64 doubles),
  * and the centroid update shuffles only (cid, pos) partial sums
  * (cardinality k×dims, map-side combined). The only driver-side state
  * is the model itself (k×dims doubles + per-cid stats), exactly the
  * footprint an iterative fit needs on any cluster size — the corpus
  * stays distributed, the model rides the driver/broadcast path, and
  * iteration count is O(log) in practice with a hard cap. Fitted models
  * are cached per (process, sf dir) like the FileIO layouts: the fit is
  * one-time model ETL whose cost amortizes over every index build.
  */
object Clustering extends QueryPack {

  /** Fitted model: centroids (cid-indexed), per-iteration inertia
    * (spherical objective Σ(1 − best_cos)), iteration count, and whether
    * the movement criterion was met within the cap. */
  private[operators] final case class KmeansFit(
      centroids: Array[Array[Double]],
      inertia: Seq[Double],
      iters: Int,
      converged: Boolean)

  private[operators] val K = 16
  // Lloyd assignment-stability cap: iterations cost one linear
  // aggregation each, and the iteration count to a fixpoint grows with
  // corpus size/diversity (not a plan property) — 30 converged at every
  // driver fixture but the 10× derived corpus traverses a long plateau
  // (movement ~3e-3, inertia strictly decreasing) before assignments
  // stabilize at iteration 225, where movement snaps to exactly 0. 400
  // keeps the safety-valve semantics (the gate still fails on genuine
  // oscillation, which shows as non-monotone inertia well before the
  // cap) with ~1.8× headroom over the measured 10× point; driver-scale
  // fits terminate at the same early fixpoint as before, so gated
  // results are unchanged.
  private[operators] val MaxIters = 400
  private[operators] val Eps = 1e-9

  /** Corpus with norms (same projection as Similarity/q98). */
  private def corpus(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(graft.functions.VectorFunctions.dot(s, "v", "v")))

  /** Centroid array → broadcast-able (cid, cv, cnrm) frame. */
  private def centroidFrame(s: SparkSession, cents: Array[Array[Double]]): DataFrame = {
    val rows = cents.zipWithIndex.map { case (c, i) =>
      Row(i.toLong, c.toSeq)
    }
    val schema = StructType(Seq(
      StructField("cid", LongType),
      StructField("cv", ArrayType(DoubleType))))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .withColumn("cnrm", sqrt(graft.functions.VectorFunctions.dot(s, "cv", "cv")))
  }

  /** Assignment frame for a given centroid set: nearest centroid by
    * cosine, deterministic ties (highest cos, then lowest cid). */
  private def assignTo(s: SparkSession, e: DataFrame, cents: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid"))
    e.crossJoin(broadcast(cents))
      .withColumn("ccos",
        graft.functions.VectorFunctions.dot(s, "v", "cv") /
          (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "v", "cid", "ccos")
  }

  /** Lloyd iterations to the movement fixpoint. Init = the same
    * deterministic `vec_id < K` subset q98 starts from, so the one-step
    * gate and the fixpoint share their first iteration. One Spark action
    * per iteration: a single (cid, pos) aggregation carrying the mean
    * sums AND (on the pos=0 slice) the per-cid inertia contribution.
    * Fitted once per process per sf dir ([[graft.Memo]]). */
  private[operators] def fit(s: SparkSession, dir: String): KmeansFit =
    graft.Memo(("kmeans", dir)) {
      val e = corpus(s, dir).persist()
      try {
        var cents: Array[Array[Double]] = e.filter(col("vec_id") < K)
          .orderBy("vec_id").select("v").collect()
          .map(_.getSeq[Double](0).toArray)
        var inertias = List.empty[Double]
        var iters = 0
        var converged = false
        while (iters < MaxIters && !converged) {
          val stats = assignTo(s, e, centroidFrame(s, cents))
            .select(col("cid"), col("ccos"), posexplode(col("v")))
            .groupBy("cid", "pos")
            .agg(count(lit(1)).as("n"), sum("col").as("s"),
              sum(when(col("pos") === 0, lit(1.0) - col("ccos"))).as("in0"))
            .collect()
          iters += 1
          inertias ::= stats.iterator
            .filter(!_.isNullAt(4)).map(_.getDouble(4)).sum
          val next = cents.map(_.clone()) // empty clusters keep their centroid
          stats.foreach { r =>
            next(r.getLong(0).toInt)(r.getInt(1)) =
              r.getDouble(3) / r.getLong(2)
          }
          val movement = cents.zip(next).map { case (a, b) =>
            math.sqrt(a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum)
          }.max
          cents = next
          converged = movement < Eps
        }
        KmeansFit(cents, inertias.reverse, iters, converged)
      } finally e.unpersist()
    }

  /** q102: the convergence gate — SELF-VERIFYING (centroid values are
    * float-summation-order sensitive, so the gate pins the invariants a
    * correct fit must satisfy, not the coordinates): Lloyd's algorithm on
    * the spherical objective is non-increasing (the mean direction
    * maximizes Σcos over its cell), it must actually converge within the
    * cap on this corpus, and every vector is assigned. The oracle pins
    * k/n_vectors from the data and `true` for each invariant — a fit
    * regression (oscillation, lost vectors, non-termination) hash-FAILS
    * the gate. */
  private def q102(s: SparkSession, dir: String): DataFrame = {
    val f = fit(s, dir)
    val monotone = f.inertia.zip(f.inertia.drop(1))
      .forall { case (a, b) => b <= a + 1e-6 }
    Tables.embeddings(s, dir)
      .agg(count(lit(1)).as("n_vectors"))
      .select(lit(K.toLong).as("k"), col("n_vectors"),
        lit(f.converged).as("converged"),
        lit(f.iters >= 1 && f.iters <= MaxIters).as("iters_ok"),
        lit(monotone).as("inertia_monotone"))
  }

  /** IVF top-5 over the FITTED centroids (vs q47's deterministic subset):
    * same two-broadcast shape — probe the nprobe nearest cells per query,
    * exact cosine ranking among cell members. */
  private[operators] def ivfFittedTop5(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val cents = centroidFrame(s, fit(s, dir).centroids)
    val assign = assignTo(s, e, cents)
      .select("vec_id", "v", "cid")
    val q = e.filter(col("vec_id") < 10).toDF("query_id", "qv", "qnrm")
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("pcos").desc, col("cid"))
    val probes = q.crossJoin(broadcast(cents))
      .withColumn("pcos",
        graft.functions.VectorFunctions.dot(s, "qv", "cv") /
          (col("qnrm") * col("cnrm")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= 4)
      .select("query_id", "qv", "qnrm", "cid")
    val wTop = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    probes
      .join(assign.toDF("neighbor_id", "v", "cid")
        .join(e.select(col("vec_id").as("neighbor_id"), col("nrm")), "neighbor_id"),
        Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", round(
        graft.functions.VectorFunctions.dot(s, "qv", "v") /
          (col("qnrm") * col("nrm")), 6))
      .withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Pooled recall@5 floor for q103. Fitted cells follow the data, so
    * recall beats the arbitrary-subset baseline; measured ≥ 0.86 across
    * sf0.001/0.01/0.1 — 0.8 fails on degradation while clearing the
    * measured band (raised from 0.7, VERDICT r6 #4: the slack left a
    * silent-degradation window, same reasoning that moved q48 to 0.55). */
  private[operators] val IvfFittedRecallFloor = 0.8

  /** q103: fitted-IVF ANN — SELF-VERIFYING recall gate (same pattern as
    * q48): the fitted centroids are float-order sensitive, so no exact
    * SQL oracle can reproduce the cells; instead the gated frame joins
    * the fitted-IVF top-5 against the exact top-5 (q46, which DuckDB CAN
    * compute) and emits pooled recall ≥ floor as a checked column the
    * oracle pins. */
  private def q103(s: SparkSession, dir: String): DataFrame = {
    val ivf = ivfFittedTop5(s, dir).select(col("query_id"), col("neighbor_id"))
      .withColumn("found", lit(1L))
    val exact = Similarity.q46(s, dir).select("query_id", "neighbor_id")
    exact.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("found"), lit(0L))).as("hits"))
      .select(col("n_queries"), col("n_exact"),
        lit(IvfFittedRecallFloor).as("recall_floor"),
        (col("hits").cast("double") / col("n_exact") >= IvfFittedRecallFloor)
          .as("recall_ok"))
  }

  /** q189: semantic dedup (the SemDeDup recipe, Abbas et al. 2023) —
    * embedding-space near-duplicate pruning made tractable by
    * clustering first: assign every vector to its nearest centroid,
    * then compare pairs only WITHIN a cluster and prune any vector
    * whose cosine to a lower-id cluster-mate reaches the threshold
    * (τ = 0.4, the one-pass parallel keep-lowest-id relaxation of the
    * sequential greedy rule — no chain re-checks, so the whole operator
    * is two joins). Scale shape: the centroid set broadcasts (16 rows
    * here; K grows with the corpus so cluster size stays bounded), the
    * within-cluster self-join is an equi-join on cid — work is
    * Σ|cluster|², never N² — and the prune set joins back as a
    * broadcast-able anti set. For an exact cross-engine oracle the
    * centroids are the deterministic `vec_id < K` seed vectors (the
    * same init q98/q102 fit from) rather than the float-summation-
    * order-sensitive fitted means; the fitted-centroid variant has the
    * identical plan, swapping in `fit(...).centroids`. Cosines are
    * rounded to 6 places before every compare on both engines. */
  private def q189(s: SparkSession, dir: String): DataFrame = {
    val e = corpus(s, dir)
    val seeds = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cnrm"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("cid"))
    // materialize the assignment ONCE: three consumers (pair left, pair
    // right, final kept-join) would otherwise each replan the
    // scan+broadcast+window subtree — 3 corpus passes at 100 TB. Same
    // Materialize convention (and cluster fault-tolerance contract,
    // SCALING.md) as the iterative GraphOps/Dedup frames.
    val assigned = e.crossJoin(broadcast(seeds))
      .withColumn("ccos",
        round(graft.functions.VectorFunctions.dot(s, "v", "cv") /
          (col("nrm") * col("cnrm")), 6))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") === 1)
      .select("vec_id", "cid", "v", "nrm")
      .materialized
    val left = assigned.select(col("vec_id").as("vid_a"), col("cid"),
      col("v").as("va"), col("nrm").as("na"))
    val right = assigned.select(col("vec_id").as("vid_b"), col("cid"),
      col("v").as("vb"), col("nrm").as("nb"))
    val pruned = left.join(right, "cid")
      .filter(col("vid_a") > col("vid_b"))
      .filter(round(graft.functions.VectorFunctions.dot(s, "va", "vb") /
        (col("na") * col("nb")), 6) >= 0.4)
      .select(col("vid_a").as("vec_id")).distinct()
      .withColumn("is_pruned", lit(true))
    assigned.select("vec_id", "cid")
      .join(pruned, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("is_pruned").isNull.as("kept"))
      .orderBy("vec_id")
  }

  override def queries: Seq[Q] = Seq(
    Q("q189_semantic_dedup", q189, Some(
      """WITH n AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
        |         list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |s AS (SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 16),
        |x AS (SELECT n.vec_id, s.cid,
        |    round(list_dot_product(n.v, s.cv) / (n.nrm * s.cnrm), 6) AS ccos
        |  FROM n, s),
        |a AS (SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY ccos DESC, cid) AS rn FROM x)
        |  WHERE rn = 1),
        |p AS (SELECT DISTINCT xa.vec_id
        |  FROM a xa JOIN a xb ON xa.cid = xb.cid AND xa.vec_id > xb.vec_id
        |  JOIN n na ON na.vec_id = xa.vec_id
        |  JOIN n nb ON nb.vec_id = xb.vec_id
        |  WHERE round(list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm), 6) >= 0.4)
        |SELECT a.vec_id, a.cid, (p.vec_id IS NULL) AS kept
        |FROM a LEFT JOIN p ON a.vec_id = p.vec_id
        |ORDER BY a.vec_id""".stripMargin)),
    Q("q102_kmeans_fit", q102, Some(
      """SELECT CAST(16 AS BIGINT) AS k, count(*) AS n_vectors,
        |  true AS converged, true AS iters_ok, true AS inertia_monotone
        |FROM embeddings""".stripMargin)),
    Q("q103_ann_ivf_fitted", q103, Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(count(*) * 5 AS BIGINT) AS n_exact,
        |  CAST(0.8 AS DOUBLE) AS recall_floor, true AS recall_ok
        |FROM embeddings WHERE vec_id < 10""".stripMargin)),
  )
}
