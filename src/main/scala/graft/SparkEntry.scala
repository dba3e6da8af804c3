package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._
import graft.plans.Plans
import graft.streaming.StreamingQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by themed [[QueryPack]]s; each entry pairs a
  * Spark DataFrame pipeline with an equivalent DuckDB oracle SQL (where
  * SQL-expressible) for the driver's hash-compare correctness gate.
  */
object SparkEntry {
  private def packs: Seq[QueryPack] = Seq(
    RefWorkload, Relational, ScalarFunctions, AdvancedAggs, Reshape,
    TpchLike, Temporal, Dedup, Similarity, Clustering, GraphOps, TextAnalysis,
    Multimodal, FileIO, PipelineSplits, DataPrep, ScaleOps, StreamingQueries)

  lazy val all: Seq[Q] = {
    val qs = packs.flatMap(_.queries)
    require(qs.map(_.name).distinct.size == qs.size, "duplicate query names")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_month_count")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each call
    * first installs graft's planner additions on its session
    * ([[graft.plans.Plans.install]]). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, dir: String) => Plans.install(s); q.fn(s, dir) }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
