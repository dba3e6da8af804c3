package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated TPC-H-ish parquet tables (TESTDATA.md).
  *
  * All queries read through here so scan behavior (and any future
  * source-level options) is centralized. Parquet + Catalyst give column
  * pruning and predicate pushdown for free — the 100 TB design relies on
  * every query only scanning the columns/row groups it needs, so query
  * code must `select` early and filter with Column predicates.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The resolved relation of `dir/name.parquet`, memoized per (session,
    * dir, table) in [[graft.Memo]] with the session's context as owner —
    * METADATA caching, not data caching (r17, guide §6). Every bare
    * `spark.read.parquet(path)` re-resolves the relation: a fresh
    * InMemoryFileIndex plus parquet schema inference, which runs a
    * Spark JOB to read footers — measured ~100 ms per call at sf0.1 vs
    * ~10 ms reusing the resolved frame, paid by almost every query
    * invocation for every table it touches. A production deployment
    * reads through a catalog whose table metadata is resolved once, and
    * the fixtures are immutable inputs, so the resolved logical relation
    * is a pure function of the path. Execution still scans parquet from
    * disk on every action — nothing row-level is cached. */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Memo(("relation", spark, dir, name), spark.sparkContext)(
      spark.read.parquet(s"$dir/$name.parquet"))

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** Legacy nanos-as-long parquet conf: needed only when the generated
    * events table stores TIMESTAMP(NANOS) (round 7+ data is plain
    * timestamp[us] and ignores it). Gates that read the raw events table
    * scope it with `withConfs` around their whole body, drain included. */
  private[graft] val nanosAsLong: (String, String) =
    "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  /** `events.ts` has been generated two ways across driver rounds:
    * TIMESTAMP(NANOS) parquet (rounds ≤6) — which Spark refuses outright
    * ([PARQUET_TYPE_ILLEGAL]) unless the legacy nanos-as-long flag maps it
    * to a raw LongType — and plain timestamp[us] (round 7+), which Spark
    * reads natively as TIMESTAMP_NTZ. Adapt on the OBSERVED schema so both
    * generations load to the same microsecond TimestampType:
    *   - LongType (nanos-as-long): floor-divide to µs (`div`, not `/` —
    *     double division would lose precision on ns-since-epoch magnitudes).
    *   - TIMESTAMP_NTZ: cast to TimestampType — the session timezone is
    *     pinned to UTC in every entry point, so NTZ→LTZ is value-identical
    *     and oracle-neutral (DuckDB sees the same wall-clock instants).
    * The nanos conf is scoped to the read's analysis, so a nanos
    * regeneration never fails analysis and the caller's session comes
    * back unchanged; with µs data it is a no-op. Executing a nanos
    * regeneration needs the conf too, so its callers run the query inside
    * `SessionConfs.withConfs(s, nanosAsLong)`, as the streaming gates'
    * confs do.
    */
  def events(s: SparkSession, d: String): DataFrame =
    graft.SessionConfs.withConfs(s, nanosAsLong) {
      val df = apply(s, d, "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts",
            org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampType => df
        case _ => // TIMESTAMP_NTZ (or any castable regeneration)
          df.withColumn("ts", df("ts").cast(org.apache.spark.sql.types.TimestampType))
      }
    }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")

  /** Row count of a source table, memoized per (dir, table) in
    * [[graft.Memo]] — the fixtures are immutable inputs, so the count
    * is a pure function of the path. Queries that derive a scale
    * constant from corpus size (q190's group modulus, q201's lattice
    * side) read it through here so only the first invocation pays a
    * count job; repeated bench passes measure the operator, not a
    * repeated metadata scan. Parquet counts are row-group-metadata reads,
    * so even the cold pass is cheap. */
  def cachedCount(s: SparkSession, d: String, name: String): Long =
    graft.Memo(("count", d, name))(apply(s, d, name).count())
}
