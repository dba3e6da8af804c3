package graft.operators

import graft.{Q, QueryPack}
import graft.core.MapReduce
import graft.sources.Tables
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

/** File-input MapReduce entry points and sink round-trips, gated by the
  * correctness oracle (SURVEY.md §2.1 O4/O12/O13 file variants, §2.3
  * sinks). These are the reference engine's actual front doors — a
  * text/CSV file (`mapreduce.py:167-173`, with optional header skip,
  * `:119-127`) or an index file listing data files (`mapreduce.py:
  * 176-187`) — so they deserve gated queries, not just unit specs.
  *
  * Each query materializes its own input by DUMPING an sf parquet table
  * through a Spark sink first, then runs the file-based API over the
  * dump and aggregates. The oracle runs against the original table, so
  * the gate covers the whole loop: sink write → text scan → header skip
  * → parse → shuffle → reduce. Scratch files live under java.io.tmpdir
  * (never the read-only testdata), addressed per-sfDir so scale factors
  * don't collide, written through the Hadoop FS API (same code path
  * works on HDFS/S3 at cluster scale).
  *
  * Scale notes: the dumps here are small dims by design (the gate is
  * about plumbing, not volume); the file APIs themselves split files
  * into byte-range tasks, so a 100 TB text corpus scans in parallel —
  * the single-driver streaming bottleneck of the reference
  * (mapreduce.py:25-26) does not exist here.
  */
object FileIO extends QueryPack {

  /** Per-sfDir scratch root so sf0.001/sf0.01/sf0.1 runs don't collide
    * (shared with the streaming pack — one scheme, one place). */
  private[graft] def scratch(dir: String, name: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_fileio_${math.abs(dir.hashCode)}/$name"

  /** Layouts (bucketed tables, partitioned dumps) already written by
    * THIS process, keyed target → source sfDir. Writing a bucketed or
    * partitioned layout is one-time ETL whose cost amortizes over every
    * subsequent co-located join / pruned scan (that amortization is the
    * entire point of the layout), so a repeated run against the same
    * source reuses it and steady-state timings measure the read path. A
    * different sfDir re-writes (the target would otherwise hold the
    * wrong scale's data), and the cache is process-local on purpose: a
    * fresh process always rewrites, so a regenerated source table can
    * never be shadowed by a stale on-disk layout (same rule as the
    * streaming pack's day shards). */
  private val layoutSource =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** TEST-ONLY: forget this process's layout writes, simulating a fresh
    * process. The cache contract above says a fresh process must rewrite
    * every layout rather than trust what's on disk; FileIOSpec poisons
    * the on-disk layouts and uses this to prove the rewrite happens. */
  private[operators] def forgetLayoutsForTest(): Unit = layoutSource.clear()

  /** Register (idempotently) the per-sfDir DSv2 TSV catalog and its
    * `lake` namespace; returns the catalog name. One definition for the
    * six catalog gates (q290/q294/q295/q296/q297 + streaming) — the
    * name derives from the source dir so different fixtures in one
    * session get separate plugin instances (plugins cache their `root`
    * at first load). */
  private[graft] def ensureCatalog(s: SparkSession, dir: String): String = {
    // collision-resistant suffix (first 8 hex chars of SHA-256 of the
    // dir), not dir.hashCode: two fixtures whose 32-bit hashes collide
    // would silently share one plugin instance — and the plugin caches
    // its root at first load, so the second fixture would read the
    // first fixture's store
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    val cat = s"graft_store_$digest"
    val expectedRoot = scratch(dir, "tsv_catalog")
    val rootKey = s"spark.sql.catalog.$cat.root"
    // sanity: if the name is already registered it must point at THIS
    // fixture's root (defends the cached-root assumption even if the
    // digest ever collides or someone reuses the name)
    s.conf.getOption(rootKey).foreach(r => require(r == expectedRoot,
      s"catalog $cat already registered with root $r, expected $expectedRoot"))
    s.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftTsvCatalog].getName)
    s.conf.set(rootKey, expectedRoot)
    s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.lake")
    cat
  }

  /** q74: header-skipping text-file MapReduce (O4+O12). Dump customer as
    * a single headered TSV, then count + min(name) per market segment via
    * `runOnTextFile(ignoreFirstLine = true)`. The header line does not
    * parse as a real segment, so a broken header skip fails the oracle. */
  private def q74(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = scratch(dir, "customer_tsv")
    // the dump is FIXTURE, not the measured operation (that's the
    // header-skipping text scan) — build once per source dir
    if (layoutSource.get(out) != dir) {
      Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_name"))
        .coalesce(1) // one part file ⇒ exactly one header line to skip
        .write.mode("overwrite").option("sep", "\t").option("header", "true")
        .csv(out)
      layoutSource.put(out, dir)
    }
    MapReduce.runOnTextFile[String, String, (String, Long, String)](
      s, s"$out/part-*", // glob part files; skips the _SUCCESS marker
      line => {
        val t = line.split("\t", -1)
        Iterator((t(0), t(1)))
      },
      (seg, names) => {
        var n = 0L
        var first: String = null
        names.foreach { v => n += 1; if (first == null || v < first) first = v }
        (seg, n, first)
      },
      ignoreFirstLine = true)
      .toDF("c_mktsegment", "n", "first_name")
      .orderBy("c_mktsegment")
  }

  /** q75: file-index MapReduce (O13, the reference's only data-parallel
    * scan — `basic_mr_month_count.py:40-45`). Dump orders as several
    * headerless CSV shards, write an index file listing the shard URIs
    * (exactly the reference's input contract), and count orders per
    * priority via `runOnFileIndex`. */
  private def q75(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = scratch(dir, "orders_csv")
    val fs = FileSystem.get(new java.net.URI(out), s.sparkContext.hadoopConfiguration)
    val indexPath = new Path(scratch(dir, "orders_index.txt"))
    // dump + index file are FIXTURE (the measured operation is the
    // file-index scan) — build once per source dir
    if (layoutSource.get(out) != dir) {
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"))
        .repartition(4) // several shards: the index must list more than one
        .write.mode("overwrite").csv(out)
      val shards = fs.listStatus(new Path(out))
        .map(_.getPath.toString)
        .filter(_.contains("part-"))
        .sorted
      val os = fs.create(indexPath, true)
      try os.write(shards.mkString("\n").getBytes("UTF-8")) finally os.close()
      layoutSource.put(out, dir)
    }
    MapReduce.runOnFileIndex[String, Long, (String, Long)](
      s, indexPath.toString,
      line => Iterator((line.split(",", -1)(0), 1L)),
      (prio, ones) => (prio, ones.sum))
      .toDF("o_orderpriority", "n")
      .orderBy("o_orderpriority")
  }

  private val sinkSchema = StructType(Seq(
    StructField("l_returnflag", StringType),
    StructField("sum_qty", DoubleType),
    StructField("n", LongType)))

  /** q76: sink round-trip (§2.3 sinks). A grouped aggregate is written
    * through BOTH the parquet and the csv sink, each read back, and the
    * two read-backs intersected — so a value corrupted by either writer
    * (or either reader) drops the row and fails the oracle. The returned
    * frame must equal the aggregate itself. */
  private def q76(s: SparkSession, dir: String): DataFrame = {
    val agg = Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_qty"),
        count(lit(1)).as("n"))
      // compute the aggregate ONCE for both sinks (r18): each .write
      // re-ran the full lineitem scan + aggregation (2 × ~0.26 s at
      // sf0.1). The 3-row cache holds the one frame both writers must
      // see — the gate's contract (parquet ∩ csv read-backs == the
      // aggregate) is unchanged, and the aggregate is still computed
      // from the parquet inputs inside the timed run. coalesce(1): the
      // cached agg otherwise keeps all shuffle partitions and each sink
      // write commits that many near-empty files (measured 0.15 s per
      // write of task/commit overhead for 3 rows).
      .coalesce(1).persist()
    val pqOut = scratch(dir, "sink_parquet")
    val csvOut = scratch(dir, "sink_csv")
    try {
      agg.write.mode("overwrite").parquet(pqOut)
      agg.write.mode("overwrite").option("header", "true").csv(csvOut)
    } finally agg.unpersist(false)
    // explicit read-back schemas: the sink schema is the gate's own
    // declared contract, so inferring it from footers/header per
    // invocation was a pure metadata job (~0.1 s); VALUES still come
    // from the files, which is what the intersect verifies.
    val backPq = s.read.schema(sinkSchema).parquet(pqOut)
    val backCsv = s.read.schema(sinkSchema).option("header", "true").csv(csvOut)
    backPq.intersect(backCsv).orderBy("l_returnflag")
  }

  /** Lazily (re)build the shared bucketed catalog tables (q77/q284):
    * orders and customer bucketBy(16) on the join key, sorted within
    * buckets. Rebuilt only when the source dir changes. */
  private def ensureBucketedTables(s: SparkSession, dir: String): Unit = {
    if (layoutSource.get("graft_bkt") != dir ||
        !s.catalog.tableExists("graft_orders_bkt") ||
        !s.catalog.tableExists("graft_customer_bkt")) {
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").bucketBy(16, "o_custkey")
        .sortBy("o_custkey").saveAsTable("graft_orders_bkt")
      Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").bucketBy(16, "c_custkey")
        .sortBy("c_custkey").saveAsTable("graft_customer_bkt")
      layoutSource.put("graft_bkt", dir)
    }
  }

  /** q284: BUCKET PRUNING — the scan-side payoff of the same layout
    * q77 joins on. A point-lookup predicate on the BUCKET column lets
    * FileSourceStrategy hash each literal to its bucket id and read
    * ONLY those bucket files (`SelectedBucketsCount: k out of 16`,
    * pinned in FileIOSpec) — on a 100 TB bucketed fact a 4-key lookup
    * touches 4/16 of the data with zero index structures, the
    * hash-layout analog of q86's partition pruning (which needs a
    * directory per value; bucketing handles high-cardinality keys at a
    * fixed file count). The same layout then feeds the per-key
    * aggregate WITHOUT an exchange (bucketed scan reports its hash
    * partitioning), so the query's only shuffle is the final
    * sort-by-key — scan pruning and shuffle elision from one write. */
  private def q284(s: SparkSession, dir: String): DataFrame = {
    ensureBucketedTables(s, dir)
    s.table("graft_orders_bkt")
      .filter(col("o_custkey").isin(7L, 19L, 23L, 42L))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("o_custkey")
  }

  /** q77: bucketed-table co-located join (§2.3 sinks + the 100 TB
    * repeated-join strategy). Both sides are written `bucketBy` on the
    * join key with the same bucket count, so the nightly fact⋈dim join
    * reads pre-hashed buckets and needs NO shuffle exchange on either
    * side — the layout pays its write cost back on every subsequent
    * join. The merge hint (not a session-conf mutation, which would leak
    * into later queries of the shared gate session) steers the planner
    * to the sort-merge path where the bucketed distribution applies;
    * FileIOSpec pins the exchange-free plan shape. */
  private def q77(s: SparkSession, dir: String): DataFrame = {
    ensureBucketedTables(s, dir)
    s.table("graft_orders_bkt").hint("merge")
      .join(s.table("graft_customer_bkt"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("c_mktsegment")
  }

  /** q99: ORC sink + source round-trip with predicate pushdown — the
    * third columnar-capable format next to parquet (q76) and the
    * partitioned/bucketed layouts (q86/q77). The fact table is dumped to
    * ORC once per process (layout cache, one-time ETL), and the gated
    * read filters BEFORE aggregating so the predicate reaches the ORC
    * scan as a PushedFilter (pinned in FileIOSpec) — at 100 TB the
    * format's row-group stats skip non-qualifying stripes exactly like
    * parquet's. Oracle runs on the original parquet source, so a
    * round-trip type mangling (decimal widths, nulls) fails the hash. */
  private def q99(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "lineitem_orc")
    if (layoutSource.get(out) != dir) {
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
        .write.mode("overwrite").orc(out)
      layoutSource.put(out, dir)
    }
    s.read.orc(out)
      .filter(col("l_quantity") <= 25)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_qty"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_price"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** q101: JSON-lines sink + source round-trip — the last mainstream
    * self-describing format without a gated read path (parquet/csv q76,
    * text q74/q75, ORC q99; the reference's `smart_open[all]`,
    * requirements.txt:2, advertises format-agnostic ingestion). Orders
    * are dumped once per process as JSON lines (layout cache, one-time
    * ETL); the read-back declares its schema EXPLICITLY — at 100 TB,
    * schema inference is a full extra pass over the corpus that a
    * production pipeline never pays — then filters and aggregates. The
    * oracle reads the original parquet, so any value mangled by either
    * the JSON writer or reader (long precision, doubles, string quoting)
    * fails the hash. */
  private def q101(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "orders_json")
    if (layoutSource.get(out) != dir) {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").json(out)
      layoutSource.put(out, dir)
    }
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_orderpriority", StringType),
      StructField("o_totalprice", DoubleType)))
    s.read.schema(schema).json(out)
      .filter(col("o_orderkey") % 3 === 0)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** q131: gzip-compressed text round-trip — real corpora arrive
    * compressed; the text source must decompress transparently and the
    * values must survive. Customer rows are dumped once per process as
    * gzip CSV (several shards — gzip is NOT splittable, so at 100 TB the
    * shard count IS the read parallelism: many ~100 MB-1 GB .gz files,
    * never one giant one; that sizing decision is the whole scale story
    * for compressed text). Read back with explicit schema, aggregated;
    * the oracle reads the original parquet. */
  private def q131(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "customer_csv_gz")
    if (layoutSource.get(out) != dir) {
      Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .repartition(4) // shard count = read parallelism for .gz
        .write.mode("overwrite").option("codec", "gzip")
        .csv(out)
      layoutSource.put(out, dir)
    }
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_mktsegment", StringType),
      StructField("c_nationkey", LongType)))
    s.read.schema(schema).csv(out)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("c_custkey").as("key_sum"),
        countDistinct("c_nationkey").as("n_nations"))
      .orderBy("c_mktsegment")
  }

  /** q132: schema-evolution read (`mergeSchema`) — the long-lived-table
    * reality: early files lack columns later files carry. Two parquet
    * drops under one root — an "old" shard (orderkey, priority) and a
    * "new" shard (orderkey, priority, totalprice) — are read as one
    * table with mergeSchema; rows from the old shard surface NULL
    * totalprice, and the aggregation must account for both populations
    * exactly (the oracle rebuilds the union with explicit NULLs). At
    * 100 TB mergeSchema's footer-union pass is why production tables
    * pin the schema in a catalog instead — the gate documents the
    * mechanism AND its cost. */
  private def q132(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "orders_evolved")
    if (layoutSource.get(root) != dir) {
      val ord = Tables.orders(s, dir)
      ord.filter(col("o_orderkey") % 2 === 0)
        .select("o_orderkey", "o_orderpriority")
        .write.mode("overwrite").parquet(s"$root/drop=old")
      ord.filter(col("o_orderkey") % 2 === 1)
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").parquet(s"$root/drop=new")
      layoutSource.put(root, dir)
    }
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        count(col("o_totalprice")).as("n_with_price"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue_new_only"))
      .orderBy("o_orderpriority")
  }

  /** q86: partitioned layout + partition-pruned scan (§2.3 sources — the
    * other half of the 100 TB layout story next to bucketing). Events
    * are written `partitionBy(day)`; the read-back filters one week, so
    * the scan's PartitionFilters prune ~24 of 31 day directories before
    * any byte is read (pinned in FileIOSpec). At warehouse scale this is
    * the difference between scanning a day and scanning a year. */
  private def q86(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "events_by_day")
    if (layoutSource.get(out) != dir) {
      Tables.events(s, dir)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .drop("ts") // nanos-derived ts not needed downstream; day carries it
        .write.mode("overwrite").partitionBy("day").parquet(out)
      layoutSource.put(out, dir)
    }
    s.read.parquet(out)
      .filter(col("day") >= "2024-01-08" && col("day") <= "2024-01-14")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("event_type")
  }

  /** q145: adversarial CSV round-trip — every row's payload embeds the
    * three characters that break naive CSV handling: the delimiter, the
    * quote character, and a NEWLINE. Written RFC-4180 style (quote
    * doubling via escape='"'), read back with `multiLine=true`, and
    * hash-compared field-exact against the oracle's reconstruction of
    * the same strings from parquet — any quoting/escaping/line-split
    * defect flips the hash. Scale note: multiLine CSV is NOT splittable
    * (a record can straddle any byte offset), so the shard count set at
    * write time is the read parallelism — same contract as the gzip
    * gate (q131); at 100 TB embedded-newline data belongs in parquet,
    * and this gate is the documented escape hatch for ingesting it. */
  private def q145(s: SparkSession, dir: String): DataFrame = {
    val tricky = concat(col("c_name"), lit(",\""), col("c_mktsegment"),
      lit("\"\n"), col("c_nationkey"))
    val out = scratch(dir, "customer_csv_quoted")
    if (layoutSource.get(out) != dir) {
      Tables.customer(s, dir)
        .select(col("c_custkey"), tricky.as("tricky"))
        .repartition(4)
        .write.mode("overwrite")
        .option("escape", "\"").option("multiLine", "true")
        .csv(out)
      layoutSource.put(out, dir)
    }
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("tricky", StringType)))
    s.read.schema(schema)
      .option("escape", "\"").option("multiLine", "true")
      .csv(out)
      .orderBy("c_custkey")
  }

  /** q158: DYNAMIC partition overwrite — the incremental-reload sink
    * contract: a second write in `partitionOverwriteMode=dynamic`
    * replaces ONLY the partitions it contains rows for (here the
    * corrected 1-URGENT reload, prices doubled) and must leave every
    * other partition's files untouched. Static overwrite mode would
    * truncate the whole table first — the gate's other four priorities
    * surviving with their ORIGINAL sums is exactly the semantics a
    * daily 100 TB reload depends on (rewrite one day, never the
    * table). */
  private def q158(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.dec
    val root = scratch(dir, "orders_dynpart")
    if (layoutSource.get(root) != dir) {
      val ord = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority").as("prio"))
      ord.write.mode("overwrite").partitionBy("prio").parquet(root)
      ord.filter(col("prio") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("prio").parquet(root)
      layoutSource.put(root, dir)
    }
    s.read.parquet(root)
      .groupBy("prio")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("total"))
      .orderBy("prio")
  }

  /** q162: PERMISSIVE source-level malformed-record routing — the CSV
    * reader's three-mode contract, gated on the mode a 100 TB ingest
    * actually runs: PERMISSIVE with `columnNameOfCorruptRecord`, where
    * a bad row NULLs its typed fields and lands verbatim in the corrupt
    * column instead of killing the job (FAILFAST) or silently vanishing
    * (DROPMALFORMED — silent data loss at scale is the worst failure
    * mode). Malformed rows are MANUFACTURED deterministically (every
    * 7th row writes text into the numeric column), and the gate
    * accounts for every row: good ones by value, bad ones by their
    * preserved raw form. */
  private def q162(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "customer_csv_malformed")
    if (layoutSource.get(out) != dir) {
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          when(col("c_custkey") % 7 === 0,
            concat(lit("oops_"), col("c_mktsegment")))
            .otherwise(col("c_nationkey").cast("string")).as("natkey"))
        .repartition(4)
        .write.mode("overwrite").csv(out)
      layoutSource.put(out, dir)
    }
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("natkey", LongType),
      StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(out)
      .select(col("c_custkey"), col("natkey"),
        col("_bad").isNotNull.as("is_bad"),
        regexp_extract(coalesce(col("_bad"), lit("")), "oops_[A-Z]+", 0)
          .as("bad_payload"))
      .orderBy("c_custkey")
  }

  /** q163: hidden `_metadata` file columns — provenance without a
    * layout change: every file-source row can surface the physical file
    * it came from, which is how incremental pipelines audit partition
    * lineage at 100 TB (which files fed this result?) with zero extra
    * scans. File NAMES are nondeterministic (task UUIDs), so the gate
    * projects the stable part: the partition directory extracted from
    * `_metadata.file_path`, verified against the partition values the
    * q86-style layout encoded. */
  private def q163(s: SparkSession, dir: String): DataFrame = {
    val root = scratch(dir, "orders_dynpart") // q158's partitioned layout
    if (layoutSource.get(root) != dir) { q158(s, dir).collect(); () }
    s.read.parquet(root)
      .select(col("prio"),
        // partition values are URL-encoded in paths ("4-NOT%20SPECIFIED")
        url_decode(regexp_extract(col("_metadata.file_path"),
          "prio=([^/]+)/", 1)).as("dir_prio"))
      .groupBy("prio", "dir_prio")
      .agg(count(lit(1)).as("n"))
      .select(col("prio"), (col("prio") === col("dir_prio")).as("path_matches"),
        col("n"))
      .orderBy("prio")
  }

  /** q172: the managed-table catalog flow — `saveAsTable` +
    * `insertInto` + `spark.table`, the name-based access path every
    * path-based gate above skips. The table is (re)created from the
    * even-key half of customer and APPENDED with the odd-key half via
    * insertInto, so the read-back must see exactly the full table —
    * append atomicity and by-name resolution are what a shared catalog
    * buys a 1000-executor deployment over raw paths (plus the schema
    * pinning q132 showed mergeSchema pays for). Database-qualified so
    * repeated runs at different sfs can't collide. */
  private def q172(s: SparkSession, dir: String): DataFrame = {
    val db = s"graft_cat_${math.abs(dir.hashCode)}"
    val tbl = s"$db.customer_managed"
    if (layoutSource.get(tbl) != dir) {
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      s.sql(s"DROP TABLE IF EXISTS $tbl")
      val c = Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      c.filter(col("c_custkey") % 2 === 0)
        .write.saveAsTable(tbl)
      c.filter(col("c_custkey") % 2 === 1)
        .write.insertInto(tbl)
      layoutSource.put(tbl, dir)
    }
    import graft.functions.Exact.dec
    s.table(tbl)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("c_acctbal"))).cast("double"), 2).as("balance"))
      .orderBy("c_mktsegment")
  }

  /** q199: corrupt-file-tolerant scan — the robustness contract every
    * 100 TB lake job needs: a landing directory always contains some
    * truncated/garbage files (killed writers, partial uploads), and
    * the scan must skip them WITHOUT skipping silently-valid data.
    * The gate writes nation as parquet, drops a garbage `.parquet`
    * file beside the real parts, and reads back with the data-source
    * option `ignoreCorruptFiles=true` (scoped to this read — no
    * session-wide conf mutation) and the explicit schema (inference
    * could try the corrupt footer first). The oracle is the clean
    * aggregate over the source table: one lost real row or one row of
    * garbage leaking through fails the count/sum hash. Scratch write
    * amortizes via the layout cache like the other layout gates. */
  private def q199(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "nation_with_corrupt")
    if (layoutSource.get(out) != dir) {
      Tables.nation(s, dir).write.mode("overwrite").parquet(out)
      val bad = new java.io.FileOutputStream(s"$out/zz_corrupt.parquet")
      try bad.write("this is not a parquet file".getBytes("UTF-8"))
      finally bad.close()
      // put only after a successful write (same rule as every other layout
      // gate): a failed write must not mark the layout as built, or later
      // calls would silently read a partial directory — doubly dangerous
      // here because ignoreCorruptFiles=true would mask the damage.
      layoutSource.put(out, dir)
    }
    s.read
      .schema(Tables.nation(s, dir).schema)
      .option("ignoreCorruptFiles", "true")
      .parquet(out)
      .agg(count(lit(1)).as("n"),
        sum(col("n_nationkey")).as("key_sum"),
        countDistinct(col("n_regionkey")).as("n_regions"))
  }

  /** q206: non-local-form URI handling through the index-file front door
    * — the breadth the reference gets for free from `smart_open[all]`
    * (requirements.txt:2, mapreduce.py:91, S3-style URIs in
    * basic_mr_month_count.py:40-45). A real deployment's index files mix
    * URI forms; this gate feeds `runOnFileIndex` an index whose lines use
    * all three that are exercisable offline: an explicit `file:` URI, a
    * plain absolute path, and a `file:` GLOB pattern covering several
    * shards (globbing is what a wildcarded `s3a://bucket/prefix` ingest
    * reduces to once the connector resolves the scheme — same Hadoop
    * path-resolution code). Remote schemes themselves need their connector jar + network;
    * FileIOSpec pins that scheme ROUTING engages (the error names the
    * scheme, not a parse failure), which is the offline-gateable half.
    * Money is carried as exact cents (round(bal*100) at dump time) so the
    * TSV → parse → holistic-reduce loop is integer-exact vs the oracle. */
  private def q206(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val out = scratch(dir, "customer_uri_shards")
    val indexPath = new Path(scratch(dir, "customer_uri_index.txt"))
    val fs = FileSystem.get(new java.net.URI(out), s.sparkContext.hadoopConfiguration)
    if (layoutSource.get(out) != dir) {
      Tables.customer(s, dir)
        .select(concat_ws("\t", col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long")).as("value"))
        .repartition(4) // part-00000..part-00003: enough shards for a glob
        .write.mode("overwrite").text(out)
      val parts = fs.listStatus(new Path(out))
        .map(_.getPath).filter(_.getName.startsWith("part-"))
        .sortBy(_.getName)
      // Fail fast rather than index a wrong shard set: an empty partition
      // writes NO part file, so parts(1) / the part-0000[23]* glob below
      // would silently cover the wrong shards. Round-robin repartition
      // makes <4 unreachable for any non-degenerate fixture, but the
      // index composition depends on it, so it is asserted (ADVICE r10).
      require(parts.length == 4,
        s"q206 expects exactly 4 text shards under $out, found ${parts.length}")
      val lines = Seq(
        parts(0).toUri.toString, // explicit file:/abs/path URI
        parts(1).toUri.getPath, // plain absolute path, no scheme
        s"file:$out/part-0000[23]*") // file: glob over the remaining shards
      val os = fs.create(indexPath, true)
      try os.write(lines.mkString("\n").getBytes("UTF-8")) finally os.close()
      layoutSource.put(out, dir)
    }
    MapReduce.runOnFileIndex[String, Long, (String, Long, Long)](
      s, indexPath.toString,
      line => {
        val a = line.split("\t", -1)
        Iterator.single((a(0), a(1).toLong))
      },
      (seg, cents) => {
        var n = 0L; var sum = 0L
        cents.foreach { c => n += 1; sum += c }
        (seg, n, sum)
      })
      .toDF("c_mktsegment", "n", "cents_sum")
      .orderBy("c_mktsegment")
  }

  /** q207: small-file compaction — the lake-maintenance primitive every
    * 100 TB landing zone runs nightly: streaming/micro-batch writers
    * leave thousands of tiny files (here: orders dumped across 64
    * shards), and every later scan pays per-file open/footer/listing
    * overhead until a compaction job rewrites the data into
    * target-sized files. The compactor sizes its output from the data —
    * ceil(rows / rowsPerFile) — and rewrites in one `repartition(n)`
    * pass (a real deployment uses the same plan per partition of a
    * partitioned table, so the shuffle is per-partition-bounded). The
    * gate verifies the contract end-to-end: row count and content-sum
    * survive the rewrite bit-exactly, the file count lands exactly at
    * the computed target, and the compacted dir replaces 64 files with
    * that target. Deterministic ⇒ exact oracle (file counts derive from
    * row counts, not byte sizes, so parquet encoding can't wobble the
    * result). */
  private def q207(s: SparkSession, dir: String): DataFrame = {
    val smallDir = scratch(dir, "orders_small_files")
    val bigDir = scratch(dir, "orders_compacted")
    val rowsPerFile = 25000L
    if (layoutSource.get(bigDir) != dir) {
      val ord = Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
      ord.repartition(64).write.mode("overwrite").parquet(smallDir)
      val nRows = s.read.parquet(smallDir).count()
      val nTarget = ((nRows + rowsPerFile - 1) / rowsPerFile).toInt
      s.read.parquet(smallDir)
        .repartition(nTarget)
        .write.mode("overwrite").parquet(bigDir)
      layoutSource.put(bigDir, dir)
    }
    def dataFiles(p: String): Long = {
      val fs = FileSystem.get(new java.net.URI(p),
        s.sparkContext.hadoopConfiguration)
      fs.listStatus(new Path(p)).count(f =>
        f.getPath.getName.startsWith("part-") && f.getLen > 0)
    }
    val nSmall = dataFiles(smallDir)
    val nBig = dataFiles(bigDir)
    import graft.functions.Exact.dec
    s.read.parquet(bigDir)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("price_sum"))
      .select(col("n_rows"), col("price_sum"),
        lit(nSmall).as("n_files_small"),
        lit(nBig).as("n_files_compacted"),
        (lit(nBig) === ceil(col("n_rows").cast("double") / rowsPerFile)
          .cast("long")).as("target_hit"))
  }

  /** q208: zone-map (min/max statistics) file skipping — the data-skipping
    * primitive Delta/Iceberg manifests and parquet row-group stats both
    * encode, done here explicitly so the contract is gated end-to-end.
    * Orders are written clustered by month (`repartition(col(zone))` +
    * `partitionBy`, so every data FILE holds exactly one month), then a
    * stats pass builds the zone map — per-file min/max of `o_orderdate`
    * via `_metadata.file_path` (column-pruned: the stats scan reads one
    * column; a real lake amortizes this into the manifest at write time).
    * A 3-month range query consults the zone map first and hands the scan
    * only the files whose [min,max] intersect the predicate. This is NOT
    * q86's partition pruning: Catalyst never sees a filter on the
    * partition value — the skipping runs on row-level column statistics,
    * which is what survives when the predicate column isn't the layout
    * key. The file-list collect is manifest-sized (one row per file, the
    * same listing every planner holds in memory), never data-sized.
    *
    * The gate is exact on all four facets: row count and exact-decimal
    * price sum over the range (equality proves pruning lost no file),
    * and both file counts (months are data-derived, so the oracle
    * recomputes them as distinct-month counts — if skipping silently
    * stopped working, n_files_scanned would report the full count and
    * hash-mismatch). */
  private def q208(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "orders_zonemap")
    if (layoutSource.get(out) != dir) {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .withColumn("zone", date_format(col("o_orderdate"), "yyyy-MM"))
        .repartition(col("zone")) // one shuffle; each month lands in one task
        .write.mode("overwrite").partitionBy("zone").parquet(out)
      layoutSource.put(out, dir)
    }
    val lo = "1997-03-01"
    val hiExcl = "1997-06-01"
    // zone map: per-file min/max of the predicate column (stats pass);
    // the intersection test runs IN the plan (session-TZ-consistent
    // timestamp casts), the driver only collects (file, hit) pairs
    val zoneMap = s.read.parquet(out)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min("o_orderdate").as("zmin"), max("o_orderdate").as("zmax"))
      .withColumn("hit", col("zmin") < lit(hiExcl).cast("timestamp") &&
        col("zmax") >= lit(lo).cast("timestamp"))
    val manifest = zoneMap.select("file", "hit").collect()
    val survivors = manifest
      .filter(_.getBoolean(1)).map(_.getString(0)).sorted
    import graft.functions.Exact.dec
    s.read.parquet(survivors: _*) // pruned scan: only intersecting files
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hiExcl)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("price_sum"))
      .select(col("n_rows"), col("price_sum"),
        lit(manifest.length.toLong).as("n_files_total"),
        lit(survivors.length.toLong).as("n_files_scanned"))
  }

  /** q209: range-partitioned total-order export — the TeraSort shape and
    * the write-side twin of q208: a globally sorted layout is what makes
    * zone maps tight. `repartitionByRange` samples split points (the
    * distributed sort's only all-to-one step, and it moves a sample, not
    * data), each of the 8 shards then sorts locally and writes one file —
    * no single-node sort ever holds the dataset. The gate proves the
    * global order from the files alone: the per-file [min,max] manifest
    * (same `_metadata` stats pass as q208) must form pairwise-disjoint,
    * ordered ranges — lag(hi) < lo file-over-file — which together with
    * per-file local sort IS total order. The audit window runs over the
    * manifest (one row per file), never over data, so the
    * single-partition `Window.orderBy` is planner-sized at any scale.
    * Content preservation rides the same row: count + exact-decimal sum
    * over the exported files. */
  private def q209(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "orders_sorted_export")
    val nShards = 8
    if (layoutSource.get(out) != dir) {
      Tables.orders(s, dir)
        .select("o_orderkey", "o_totalprice")
        .repartitionByRange(nShards, col("o_totalprice"), col("o_orderkey"))
        .sortWithinPartitions("o_totalprice", "o_orderkey")
        .write.mode("overwrite").parquet(out)
      layoutSource.put(out, dir)
    }
    val key = struct(col("o_totalprice"), col("o_orderkey"))
    val manifest = s.read.parquet(out)
      .groupBy(col("_metadata.file_path").as("file"))
      .agg(min(key).as("lo"), max(key).as("hi"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("lo")
    val audit = manifest
      .withColumn("prev_hi", lag("hi", 1).over(w))
      .agg(count(lit(1)).as("n_files"),
        min(col("prev_hi").isNull || col("prev_hi") < col("lo"))
          .as("ranges_disjoint"))
    import graft.functions.Exact.dec
    val content = s.read.parquet(out)
      .agg(count(lit(1)).as("n_rows"),
        round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("price_sum"))
    content.crossJoin(audit)
      .select("n_rows", "price_sum", "n_files", "ranges_disjoint")
  }

  /** q247: custom DataSource V2 scan with pushdown —
    * [[graft.sources.TsvSourceProvider]] reads the reference's TSV
    * dialect (mapreduce.py:91-99 splits on `\t`, picks fields by index)
    * as a first-class Spark source: the planner pushes the projection
    * and the eligible predicates INTO the reader, so unused columns are
    * never parsed and rejected rows are dropped before row assembly —
    * vs the q74/q75 text front doors, where every line is fully split
    * inside the user lambda. Gate: a 6-column TSV dump of events (8
    * shards → 8 input partitions), queried through the source with a
    * type filter + a user band + a 2-column projection; PlanSpec pins
    * the plan to `GraftTsvScan` with the filters in PushedFilters and a
    * pruned ReadSchema. The oracle computes the same aggregate from the
    * parquet table. */
  /** ONE definition of the events-dump TSV dialect, shared by the
    * plain store (q247/q275) and the mixed-gzip store (q300) so the
    * two can never drift. Text writer, not the csv one:
    * TSV-with-no-quoting is the reference's dialect, and the csv
    * writer would quote-wrap any field containing '"' (props is
    * JSON). concat_ws would silently DROP a null field and shift
    * every later column, so each field is null-coalesced explicitly. */
  private def eventsTsvLine: org.apache.spark.sql.Column =
    concat_ws("\t",
      col("event_id"), unix_micros(col("ts")),
      col("user_id"), coalesce(col("event_type"), lit("")),
      coalesce(col("value").cast("decimal(18,2)").cast("string"), lit("")),
      coalesce(col("props"), lit("")))
  private val eventsTsvDdl =
    "event_id BIGINT, us BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"

  /** The 6-column events TSV dump q247/q275 read through the DSv2
    * source, built once per source dir, loaded with its schema. */
  private[graft] def eventsTsvDf(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "events_tsv_dsv2")
    if (layoutSource.get(out) != dir) {
      Tables.events(s, dir)
        .select(eventsTsvLine.as("value"))
        .repartition(8)
        .write.mode("overwrite").text(out)
      layoutSource.put(out, dir)
    }
    s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(eventsTsvDdl))
      .option("path", out)
      .load()
  }

  /** q300: GZIPPED TSV shards through the DSv2 source — the reference's
    * actual cold-storage front door (`smart_open` reads `.tsv.gz`
    * transparently, requirements.txt:2 / mapreduce.py:91) at the source
    * contract: `.gz` shards mix freely with plain shards in one store,
    * each gzip file planning exactly ONE split over its decompressed
    * stream (gzip is not splittable — the honest contract: parallelism
    * is per-FILE for archived data, and pushed filters save parse/emit
    * work, never decompression bytes; re-shard to plain or splittable
    * codecs when a single archive dominates a scan). The gate builds a
    * half-plain / half-gzip events store (split on event_id parity),
    * scans it with a pushed filter + pruned projection, and aggregates;
    * the oracle states the same over parquet. TsvSourceSpec pins the
    * one-split-per-gz-file plan and plain≡mixed value identity. */
  private def q300(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "events_tsv_mixed_gz")
    if (layoutSource.get(out) != dir) {
      // same dialect as eventsTsvDf by construction (shared exprs)
      val base = Tables.events(s, dir)
        .select(col("event_id"), eventsTsvLine.as("value"))
      base.filter(col("event_id") % 2 === 0).select("value")
        .repartition(4).write.mode("overwrite").text(out)
      base.filter(col("event_id") % 2 === 1).select("value")
        .repartition(4).write.mode("append")
        .option("compression", "gzip").text(out)
      layoutSource.put(out, dir)
    }
    s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(eventsTsvDdl))
      .option("path", out)
      .load()
      .filter(col("user_id") >= 10)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum("event_id").as("id_sum"),
        count(col("value")).as("n_valued"))
      .orderBy(col("event_type").asc_nulls_first)
  }

  private def q247(s: SparkSession, dir: String): DataFrame = {
    eventsTsvDf(s, dir)
      .filter(col("event_type") === "click" && col("user_id") >= 50)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(round(col("value") * 100).cast("long")).as("cents"))
      .orderBy("user_id")
  }

  /** q275's frame, shared with PlanSpec's pushed-aggregate pins. */
  private[graft] def tsvAggFrame(s: SparkSession, dir: String): DataFrame =
    eventsTsvDf(s, dir)
      .filter(col("user_id") >= 10)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        min("event_id").as("min_eid"),
        max("event_id").as("max_eid"),
        sum("user_id").as("sum_uid"))
      .orderBy(col("event_type").asc_nulls_first)

  /** q275: DSv2 AGGREGATE PUSHDOWN ([[graft.sources.TsvSourceProvider]],
    * `SupportsPushDownAggregates`) — the last step of the source-side
    * pushdown ladder after columns (q247), filters (q247), limit, and
    * key-grouped layout (q270): the scan itself PRE-AGGREGATES. Each
    * split folds its surviving lines into one row per group, so what
    * leaves the source is |groups| rows per split, not N parsed rows —
    * map-side combine moved INTO the reader, before Spark allocates
    * anything per-row. Pushdown is PARTIAL by design (the source
    * declares supportCompletePushDown=false): Spark's final aggregate
    * merges the per-split rows, keeping the cross-split merge parallel
    * and spill-safe. The filter composes: user_id ≥ 10 is fully pushed,
    * which is the rule's precondition for attempting the aggregate at
    * all. Unsupported shapes (expression inputs like q247's
    * sum(round(value*100)), DISTINCT) are refused by the source and
    * planned as ordinary Spark aggregates over the raw scan — coverage
    * never changes semantics. At 100 TB this is the difference between
    * shipping the fact table's parsed rows to an exchange and shipping
    * a few group rows per split. PlanSpec pins PushedAggregates +
    * PushedGroupBy in the scan description, the aggregated ReadSchema,
    * and their absence on q247's expression aggregate. */
  private def q275(s: SparkSession, dir: String): DataFrame =
    tsvAggFrame(s, dir)

  /** q276's frame, shared with PlanSpec's runtime-filter pins: the
    * keyed clicks layout (q270's) probed by a selective cohort dim. */
  private[graft] def runtimeFilterFrame(s: SparkSession, dir: String): DataFrame = {
    val (clicks, _) = spjLayout(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n_clicks BIGINT, click_cents BIGINT, shard BIGINT")
    val fact = s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema)
      .option("path", clicks)
      .option("partition_col", "shard")
      .load()
    // the cohort dim: purchase users in resharding cohort 5-of-32 — a
    // user_id % 32 cohort lands on exactly TWO of the 16 shards (5 and
    // 21 % 16), so a correct runtime filter must read 2 dirs of 16.
    // The predicate is on the DIM's attributes; the fact side has no
    // static filter at all — only the runtime subquery can prune it.
    val dim = Tables.events(s, dir)
      .filter(col("event_type") === "purchase" &&
        pmod(col("user_id"), lit(32)) === 5)
      .select(col("user_id").as("u"),
        pmod(col("user_id"), lit(16)).as("shard"))
      .distinct()
    // the dim must be the BROADCAST side: DPP's default
    // (reuseBroadcastOnly) only plants the runtime filter when it can
    // reuse the dim's broadcast for the pruning subquery. At 100 TB
    // the planner picks this by itself (the fact dwarfs the dim); at
    // fixture scale BOTH sides are broadcast-small and Spark may build
    // on the fact, which silently drops the pruning opportunity — the
    // hint states the production asymmetry.
    fact.join(broadcast(dim),
        fact("shard") === dim("shard") && fact("user_id") === dim("u"))
      .select(fact("user_id"), col("n_clicks"), col("click_cents"))
      .orderBy("user_id")
  }

  /** q276: DSv2 RUNTIME FILTERING (`SupportsRuntimeV2Filtering` via the
    * V1-filter convenience trait) — q268's dynamic partition pruning
    * re-expressed at the SOURCE contract level, no catalog table
    * involved: the TSV scan declares its partition column filterable,
    * Catalyst plants a `dynamicpruning` subquery into the scan, and at
    * execution the dim's surviving shard keys reach
    * [[graft.sources.TsvScan.filter]] BEFORE partition planning — the
    * pruned `shard=<v>/` dirs are never listed, split, or read (2 of
    * 16 dirs survive here). This is how a lakehouse source keeps a
    * 100 TB fact-dim join from scanning the full fact: the join itself
    * tells the scan which partitions matter. PlanSpec pins the
    * RuntimeFilters on the BatchScan and TsvSourceSpec pins the
    * contract (filter() → fewer planned partitions). */
  private def q276(s: SparkSession, dir: String): DataFrame =
    runtimeFilterFrame(s, dir)

  /** q277: DSv2 TSV SINK (`SupportsWrite`, BATCH_WRITE + TRUNCATE) —
    * the write half of the reference's TSV front door (its jobs emit
    * tab-joined lines), as a first-class batch write with a real
    * task-commit protocol: tasks write `_temporary/<job>/part-…-<task>`
    * files, the driver renames ONLY committed attempts into the target
    * (speculative/retried losers vanish with the temp dir), abort
    * leaves the target untouched. SaveMode.Overwrite arrives as the
    * TRUNCATE capability and clears old data files at commit time —
    * readers never observe a half-replaced directory within a task's
    * visibility rules. The gate round-trips orders through the sink
    * and re-aggregates through the READ side (whose aggregate pushdown
    * then pre-folds each written file — the two halves compose); the
    * oracle computes the same from parquet, so framing, null fields,
    * and numeric formatting are all value-checked. TsvSourceSpec pins
    * the protocol itself (overwrite-truncate, append, no temp
    * leftovers, framing-byte refusal leaves the target clean). */
  private def q277(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "tsv_sink_dsv2")
    val ddl = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .write.format(classOf[graft.sources.TsvSourceProvider].getName)
      .option("path", out).option("write_schema", ddl)
      .mode("overwrite").save()
    s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .option("path", out).load()
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderstatus")
  }

  /** q301: WRITE-SIDE GZIP on the DSv2 TSV sink — the producing half
    * of the cold-archive tier the scan reads (q300): with
    * `option("compression", "gzip")` shards land as `.txt.gz` through
    * the SAME task-commit protocol (temp files under `_temporary/`,
    * driver renames committed attempts only), and because a gz shard
    * plans exactly ONE read split, the writer's task count IS the
    * future read parallelism — q131's documented contract, now at the
    * sink: producers size shard count the way they'd size partitions.
    * The gate writes the archive tier gzipped (overwrite), appends a
    * plain hot tier into the SAME store (mixed layouts are one table,
    * q300's read contract), asserts both codecs are physically present,
    * and re-aggregates through the read side with a pushed filter; the
    * oracle states the same over parquet — so gzip framing, null
    * fields, and numeric formatting are all value-checked through a
    * real compress/decompress round trip. TsvSourceSpec pins the
    * mechanics (gz suffix on sink output, one-split-per-gz-file on
    * sink-produced shards, overwrite truncates both codecs). */
  private def q301(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "tsv_sink_gzip")
    val ddl = "o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT"
    val fmt = classOf[graft.sources.TsvSourceProvider].getName
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    base.filter(col("o_orderkey") % 2 === 0).repartition(4)
      .write.format(fmt).option("path", out).option("write_schema", ddl)
      .option("compression", "gzip").mode("overwrite").save()
    base.filter(col("o_orderkey") % 2 === 1).repartition(4)
      .write.format(fmt).option("path", out).option("write_schema", ddl)
      .mode("append").save()
    // gate-side invariant: the store must PHYSICALLY hold both tiers —
    // a silently-ignored compression option would still pass the values.
    // java.io listing is exact here BY CONTRACT: `out` is a graft TSV
    // store path, and the store refuses non-local schemes loudly
    // (TsvWritePaths.strip), so the write above could not have landed
    // anywhere a local listing can't see.
    val names = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && !f.getName.startsWith("_")).map(_.getName)
    require(names.count(_.endsWith(".txt.gz")) == 4 &&
      names.count(_.endsWith(".txt")) == 4,
      s"q301: expected 4 gz + 4 plain shards, got ${names.sorted.mkString(", ")}")
    s.read.format(fmt)
      .schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .option("path", out).load()
      .filter(col("o_orderstatus") =!= "P")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("cents").as("total_cents"),
        min("o_orderkey").as("min_key"))
      .orderBy("o_orderstatus")
  }

  /** q278: DSv2 HIDDEN METADATA COLUMNS (`SupportsMetadataColumns`) —
    * q163's `_metadata` lineage story at the source contract: the TSV
    * scan exposes `_file` (split file path) and `_pos` (line-start byte
    * offset) that materialize only when referenced. The gate is a
    * record-level PROVENANCE AUDIT over the keyed clicks layout: every
    * row's `_file` must come from its own shard's directory — the
    * regexp-extracted `shard=<v>` from the file path is checked against
    * the row's shard value, and the count of agreements must equal the
    * row count (the oracle states it as such). n_files=1/shard and
    * first_pos=0 pin the layout contract (one file per shard dir,
    * offsets from byte 0). At 100 TB this is how audit trails and
    * incremental error re-reads locate records without a lineage
    * table: (_file, _pos) is a stable locator the scan provides for
    * free — the reader already tracks its byte offset for the split
    * contract. */
  private def q278(s: SparkSession, dir: String): DataFrame = {
    val (clicks, _) = spjLayout(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n_clicks BIGINT, click_cents BIGINT, shard BIGINT")
    s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema)
      .option("path", clicks)
      .option("partition_col", "shard")
      .load()
      .select(col("shard"), col("_file"), col("_pos"),
        regexp_extract(col("_file"), "shard=(\\d+)", 1)
          .cast("long").as("file_shard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("_file")).as("n_files"),
        sum(when(col("file_shard") === col("shard"), 1L).otherwise(0L))
          .as("n_lineage_ok"),
        min(col("_pos")).as("first_pos"))
      .orderBy("shard")
  }

  /** q280: PARTITION-LEVEL DELETE (`SupportsDelete`) — the retention /
    * right-to-be-forgotten primitive: `DELETE FROM t WHERE shard IN …`
    * against the keyed TSV table drops whole `shard=<v>/` directories
    * as a METADATA operation — no data read, no rewrite, O(partitions)
    * filesystem work, which is the only delete shape that is sane
    * against a 100 TB layout (a row-level delete would rewrite the
    * table). Predicates not answerable from the layout (data columns)
    * are REFUSED via canDeleteWhere and the statement fails loudly —
    * a delete either maps to partition drops or it is not runnable
    * here (TsvSourceSpec pins the refusal, truncate-all, and empty-IN
    * no-op). The gate builds a FRESH mutable layout each run (it
    * mutates it), deletes four cohort shards through SQL, and
    * re-aggregates the survivors; the oracle states the same exclusion
    * over the parquet events. */
  /** Recursive copy/delete for cloning cached layouts into mutable gate
    * targets (bench-pruning: a filesystem copy of an already-built
    * layout beats re-running its Spark job every pass). Goes through
    * the Hadoop FileSystem API — same as q75/driveRestartHalves over
    * the same scratch roots — so a scratch root resolving to a
    * non-local FS copies correctly instead of java.io silently
    * no-opping and leaving the gate a stale layout. */
  private def rmTree(s: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }
  private def copyTree(s: SparkSession, src: String, dst: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    val sp = new org.apache.hadoop.fs.Path(src)
    val dp = new org.apache.hadoop.fs.Path(dst)
    // dst was rmTree'd just before, so FileUtil copies src AS dst (an
    // existing dst dir would instead nest src under it)
    org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
      dp.getFileSystem(conf), dp, false, true, conf)
    ()
  }

  private def q280(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "tsv_delete_target")
    // the gate MUTATES its layout (DELETE drops shard dirs), so it
    // needs a fresh copy every run — but the copy is cloned from the
    // cached spj clicks layout (IDENTICAL derivation: click events →
    // per-user count + exact cents, shard = user_id % 16) with a
    // filesystem copy instead of a per-pass scan+shuffle+write job
    val (clicks, _) = spjLayout(s, dir)
    rmTree(s, out)
    copyTree(s, clicks, out)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n BIGINT, cents BIGINT, shard BIGINT")
    def load() = s.read
      .format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema).option("path", out)
      .option("partition_col", "shard").load()
    load().createOrReplaceTempView("graft_q280")
    s.sql("DELETE FROM graft_q280 WHERE shard IN (0, 4, 8, 12)")
    val result = load()
      .groupBy("shard")
      .agg(count(lit(1)).as("n_users"), sum("cents").as("cents"))
      .orderBy("shard")
    val rows = result.collect()
    s.catalog.dropTempView("graft_q280")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q268 layout: the fact table partitioned by ship month — the layout
    * a 100 TB time-series fact lives in, written once per source dir
    * (same amortization contract as every layout here). */
  private[graft] def dppLayout(s: SparkSession, dir: String): String = {
    val out = scratch(dir, "lineitem_by_month")
    if (layoutSource.get(out) != dir) {
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
        .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
        .repartition(col("ship_month"))
        .write.mode("overwrite").partitionBy("ship_month").parquet(out)
      layoutSource.put(out, dir)
    }
    out
  }

  /** q268's frame, shared with PlanSpec's dynamicpruning pin. */
  private[graft] def dppFrame(s: SparkSession, dir: String): DataFrame = {
    val fact = s.read.parquet(dppLayout(s, dir))
    // a dates dimension: month → quarter (functional, so DISTINCT gives
    // unique keys). The query filters on the dim ATTRIBUTE, never on the
    // partition column itself — static pruning (q86) cannot see through
    // the join; only the runtime subquery can.
    val dim = Tables.orders(s, dir)
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"),
        concat(year(col("o_orderdate")), lit("-Q"),
          quarter(col("o_orderdate"))).as("qtr"))
      .distinct()
      .filter(col("qtr") === "1997-Q1")
    fact.join(dim, fact("ship_month") === dim("month"))
      .groupBy("ship_month")
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("revenue"))
      .orderBy("ship_month")
  }

  /** q268: DYNAMIC partition pruning — the star-schema scan killer q86's
    * static pruning cannot do. The predicate lives on a dim attribute
    * (quarter); at planning time no literal filter on the fact's
    * partition column exists, so a naive engine scans every partition
    * and lets the join discard 3/4 of them. Catalyst instead plants a
    * `dynamicpruning` subquery into the fact scan's PartitionFilters:
    * the dim side's broadcast is REUSED (reuseBroadcastOnly default) to
    * enumerate the surviving months before the fact scan starts, so only
    * matching partition directories are listed and read. At 100 TB —
    * where a time-partitioned fact is hundreds of partitions and a query
    * usually wants a handful — this is the difference between scanning
    * the table and scanning the quarter. Default confs; PlanSpec pins
    * the dynamicpruning PartitionFilter and its absence when DPP is
    * disabled. */
  private def q268(s: SparkSession, dir: String): DataFrame =
    dppFrame(s, dir)

  /** q269's scoped confs, shared with FileIOSpec's file-count pins.
    * Advisory size is fixture-scaled (64 KiB vs the 64 MiB+ a real
    * cluster uses); the policy — split hot output partitions at map
    * granularity, coalesce small ones — is scale-free. */
  private[graft] val rebalanceConfs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.optimizeSkewsInRebalancePartitions.enabled" -> "true",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")

  /** q269 write target (always under the per-dir scratch root). */
  private[graft] def rebalancedOrdersPath(dir: String): String =
    scratch(dir, "orders_rebalanced")

  /** q269: SKEW-AWARE partitioned write via the REBALANCE hint — the
    * write-side twin of q267's skew-join split. A partitioned write
    * shuffled by the partition column alone puts each value's rows in
    * ONE task: at 100 TB a hot value (a deterministic CASE funnels 75%
    * of orders into `status_class='hot'`; the oracle sees the same
    * data) becomes one straggler task writing one giant file, while the
    * 8 cold values fragment into slivers. The REBALANCE hint keys the
    * shuffle by the partition column but lets AQE's
    * OptimizeSkewsInRebalancePartitions split each oversized reducer
    * partition at map-output granularity (several even files for the
    * hot value, still value-clustered so partitionBy never re-sorts)
    * and coalesce tiny ones — evenly sized output files from skewed
    * data with no query-author salting. The gate hashes the
    * round-tripped data (per-class rows + exact-decimal totals);
    * FileIOSpec pins the file shape: >1 file for the hot class, 1 for a
    * cold one. The class column is projected AFTER the 8-way
    * repartition so CollapseRepartition can't merge the two shuffles —
    * the rebalance needs >1 mapper to split (same fixture note as
    * q267: a real fact scan has thousands of map tasks). */
  private def q269(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Exact.dec
    val out = rebalancedOrdersPath(dir)
    if (layoutSource.get(out) != dir) {
      graft.SessionConfs.withConfs(s, rebalanceConfs: _*) {
        Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"))
          .repartition(8)
          .select(col("o_orderkey"), col("o_totalprice"),
            when(col("o_custkey") % 4 < 3, lit("hot"))
              .otherwise(concat(lit("cold_"),
                (col("o_custkey") % 8).cast("string"))).as("status_class"))
          .hint("rebalance", col("status_class"))
          .write.mode("overwrite").partitionBy("status_class").parquet(out)
      }
      layoutSource.put(out, dir)
    }
    s.read.parquet(out)
      .groupBy(col("status_class").cast("string").as("status_class"))
      .agg(count(lit(1)).as("n"),
        round(sum(dec(col("o_totalprice"))).cast("double"), 2).as("total"))
      .orderBy("status_class")
  }

  /** q270's layout: two per-user aggregate tables (clicks, purchases)
    * written hive-style keyed by `shard = user_id % 16` — the co-keyed
    * layout a storage-partitioned join consumes. Built once per dir. */
  private[graft] def spjLayout(s: SparkSession, dir: String): (String, String) = {
    val clicks = scratch(dir, "spj_clicks")
    val purchases = scratch(dir, "spj_purchases")
    if (layoutSource.get(clicks) != dir) {
      def side(evType: String, out: String): Unit =
        Tables.events(s, dir)
          .filter(col("event_type") === evType)
          .groupBy(col("user_id"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .select(col("user_id"), col("n"), col("cents"),
            (col("user_id") % 16).as("shard"))
          .repartition(col("shard"))
          .write.mode("overwrite").partitionBy("shard")
          .option("sep", "\t").csv(out)
      side("click", clicks)
      side("purchase", purchases)
      layoutSource.put(clicks, dir)
      layoutSource.put(purchases, dir)
    }
    (clicks, purchases)
  }

  private[graft] val spjConfs: Seq[(String, String)] = Seq(
    // lets the planner consume the source-reported KeyGroupedPartitioning
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    // partition keys (shard) are a SUBSET of the join keys
    // (shard, user_id) — co-partitioning on the subset still co-locates
    // every join row, so don't demand all cluster keys
    "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
    // keep the join a shuffle join so the elision is observable
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")

  private[graft] def spjFrame(s: SparkSession, dir: String): DataFrame = {
    val (clicks, purchases) = spjLayout(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n BIGINT, cents BIGINT, shard BIGINT")
    def readSide(path: String): DataFrame =
      s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
        .schema(schema)
        .option("path", path)
        .option("partition_col", "shard")
        .load()
    val c = readSide(clicks)
      .withColumnRenamed("n", "n_clicks")
      .withColumnRenamed("cents", "click_cents")
    val p = readSide(purchases)
      .withColumnRenamed("n", "n_purchases")
      .withColumnRenamed("cents", "purchase_cents")
    c.join(p, Seq("shard", "user_id"))
      .select(col("user_id"), col("n_clicks"), col("click_cents"),
        col("n_purchases"), col("purchase_cents"))
      .orderBy("user_id")
  }

  /** q270: STORAGE-PARTITIONED JOIN — the DSv2 scan itself tells the
    * planner how the data is keyed, and the join plans with NO shuffle
    * on either side. The TSV source reads a hive-style
    * `shard=<v>/` layout, reports KeyGroupedPartitioning(identity
    * (shard)) with a partition key per split
    * ([[graft.sources.TsvScan.outputPartitioning]]), and Spark groups
    * splits by key and zips matching shards directly. This is the
    * DSv2-native analog of q77's bucketed-table join: q77 elides the
    * exchange via catalog bucketing metadata; here the SOURCE carries
    * the layout contract, which is how Iceberg/Delta-style lakehouse
    * tables join shuffle-free at 100 TB. Result collected inside the
    * conf scope; PlanSpec pins zero hash exchanges under the gate's
    * confs and their return when v2 bucketing is off. */
  private def q270(s: SparkSession, dir: String): DataFrame =
    graft.SessionConfs.withConfs(s, spjConfs: _*) {
      val result = spjFrame(s, dir)
      val rows = result.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    }

  /** q287: SCAN-REPORTED ORDERING (`SupportsReportOrdering`) — the last
    * rung of the DSv2 scan-report ladder (stats q247 → key grouping
    * q270 → ORDERING). Every split of the keyed layout holds one
    * `shard=<v>/` directory, so the partition column is constant
    * within each scan partition — trivially sorted — and the source
    * says so. The gate joins the fact to its own per-shard totals ON
    * THE SHARD ALONE (a shard-grain enrichment): both sides keep the
    * source's KeyGroupedPartitioning (zero exchanges, q270's win) and
    * the merge join's fact side needs NO SortExec — the scan feeds the
    * merge directly, because the reported ordering already satisfies
    * the join's requirement. Only the aggregate side sorts (|shards|
    * rows). At 100 TB that's the difference between re-sorting the
    * fact every query and sorting 16 rows; PlanSpec pins the
    * asymmetry. */
  private def q287(s: SparkSession, dir: String): DataFrame =
    graft.SessionConfs.withConfs(s, spjConfs: _*) {
      val result = orderedScanFrame(s, dir)
      val rows = result.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    }

  private[graft] def orderedScanFrame(s: SparkSession, dir: String): DataFrame = {
    val (clicks, _) = spjLayout(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n_clicks BIGINT, click_cents BIGINT, shard BIGINT")
    def fact = s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema)
      .option("path", clicks)
      .option("partition_col", "shard")
      .load()
    val totals = fact.groupBy("shard")
      .agg(sum("click_cents").as("shard_cents"))
    fact.hint("merge").join(totals, "shard")
      .select(col("user_id"), col("n_clicks"), col("click_cents"),
        col("shard"), col("shard_cents"))
      .orderBy("user_id")
  }

  /** q288: DSv2 TOP-N PUSHDOWN (`SupportsPushDownTopN`) — `ORDER BY …
    * LIMIT n` reaches the source, and each split keeps a bounded HEAP
    * of its n best rows under the sort keys instead of emitting every
    * parsed line: TakeOrderedAndProject's per-partition heads, moved
    * BELOW the parse. Partial by contract (k splits emit ≤ k·n rows;
    * Spark's global TakeOrdered re-sorts the heads), so semantics
    * never depend on the source — unsupported keys (expressions)
    * decline and plan a full scan under Spark's own sort
    * (TsvSourceSpec pins the refusal, ties, null placement, and the
    * bounded scan-output metric). At 100 TB a leaderboard query over
    * a TSV lake reads every byte either way, but SHUFFLES only
    * splits × n rows and holds n-row state per task — the difference
    * between a top-10 and materializing the table. */
  private def q288(s: SparkSession, dir: String): DataFrame = {
    val (clicks, _) = spjLayout(s, dir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, n_clicks BIGINT, click_cents BIGINT, shard BIGINT")
    s.read.format(classOf[graft.sources.TsvSourceProvider].getName)
      .schema(schema)
      .option("path", clicks)
      .option("partition_col", "shard")
      .load()
      .orderBy(col("click_cents").desc, col("user_id"))
      .limit(10)
      .select("user_id", "n_clicks", "click_cents")
  }

  /** q290: DSv2 TABLE CATALOG over the TSV store — the NAME-BASED front
    * door ([[graft.sources.GraftTsvCatalog]], `spark.sql.catalog.<name>`
    * plugin): CREATE NAMESPACE / CREATE TABLE / INSERT INTO / SELECT /
    * DROP TABLE all resolve through the plugin to the same [[TsvTable]]
    * the path API returns, so reads keep the scan ladder (pushdown,
    * stats, ordering) and writes keep the sink's task-commit protocol —
    * no paths in user SQL at all. The gate creates a table, loads it in
    * two INSERT waves (append visibility across jobs), and aggregates
    * by name; the catalog name is derived from the source dir so
    * different fixtures in one session get separate plugin instances
    * (catalog plugins cache their `root` at first load). At 100 TB the
    * catalog IS the sharing contract: a thousand pipelines address one
    * store by name and governance (retention DELETE, q280) runs against
    * identifiers, not path strings. TsvCatalogSpec pins DDL semantics
    * (exists/list/rename/drop, partitioned-create and ALTER refusals,
    * cascade rules, sidecar survival under INSERT OVERWRITE). */
  private def q290(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.orders_t")
    s.sql(s"""CREATE TABLE $cat.lake.orders_t (
             |  o_orderkey BIGINT, o_custkey BIGINT,
             |  o_totalprice DOUBLE, o_orderpriority STRING)""".stripMargin)
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .createOrReplaceTempView("graft_src290")
    s.sql(s"INSERT INTO $cat.lake.orders_t " +
      "SELECT * FROM graft_src290 WHERE o_orderkey % 2 = 0")
    s.sql(s"INSERT INTO $cat.lake.orders_t " +
      "SELECT * FROM graft_src290 WHERE o_orderkey % 2 = 1")
    val result = s.sql(
      s"""SELECT o_orderpriority AS priority, count(*) AS n,
         |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
         |    AS revenue
         |FROM $cat.lake.orders_t GROUP BY 1 ORDER BY 1""".stripMargin)
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.orders_t")
    s.catalog.dropTempView("graft_src290")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q302: catalog `PARTITIONED BY identity(col)` — the keyed
    * `shard=<v>/` layout, previously the path API's read/delete surface
    * only, now CREATABLE and GOVERNABLE by name: `CREATE TABLE …
    * PARTITIONED BY (shard)` records the key in a `_graft_partition`
    * sidecar, INSERT routes each row into its key directory through the
    * task-commit protocol (key in the DIRECTORY name, not the file —
    * the keyed read synthesizes it back), scans prune statically on key
    * predicates (`PushedPartitionFilters`: a pruned dir is never
    * listed, split, or sized), and `DELETE FROM t WHERE <key pred>`
    * drops whole directories as a metadata operation. This closes the
    * loop the r14 verdict named: partition pruning (q86), storage-
    * partitioned joins (q270), runtime filtering (q276) and partition
    * DELETE (q280) now all compose with catalog identifiers. The gate
    * runs the full lifecycle — create partitioned, insert clicks keyed
    * by user cohort, retention-delete two cohorts, re-aggregate the
    * survivors above a pruning range predicate — and the oracle states
    * the same exclusions over parquet. TsvCatalogSpec pins the layout
    * mechanics, refusals (non-identity transforms, NULL keys, streaming
    * epochs), partitioned CTAS, the PushedPartitionFilters pruned plan,
    * and runtime filtering on the catalog-resolved fact. */
  private def q302(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.clicks302")
    s.sql(s"CREATE TABLE $cat.lake.clicks302 " +
      "(user_id BIGINT, cents BIGINT, shard BIGINT) PARTITIONED BY (shard)")
    Tables.events(s, dir)
      .filter(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("user_id") % 8).as("shard"))
      .createOrReplaceTempView("graft_src302")
    // no REPARTITION hint needed: the keyed write DECLARES clustered-
    // by-key distribution (RequiresDistributionAndOrdering), so Spark
    // plans the exchange itself and each key lands as ONE file — the
    // small-files discipline lives in the table, not the query text
    s.sql(s"INSERT INTO $cat.lake.clicks302 SELECT * FROM graft_src302")
    s.sql(s"DELETE FROM $cat.lake.clicks302 WHERE shard IN (2, 5)")
    val result = s.sql(
      s"""SELECT shard, count(*) AS n_rows,
         |  count(DISTINCT user_id) AS n_users,
         |  CAST(sum(cents) AS BIGINT) AS cents
         |FROM $cat.lake.clicks302 WHERE shard >= 1
         |GROUP BY shard ORDER BY shard""".stripMargin)
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.clicks302")
    s.catalog.dropTempView("graft_src302")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q305: PARTITION DDL on the keyed catalog table
    * ([[org.apache.spark.sql.connector.catalog.SupportsPartitionManagement]]
    * + TruncatableTable) — the remaining governance verbs, each an O(1)
    * filesystem metadata operation because partitions ARE directories:
    * `SHOW PARTITIONS` lists the key dirs (with partial-spec filtering),
    * `ALTER TABLE … ADD PARTITION` creates an empty-but-visible key dir
    * (scans plan zero splits for it), `ALTER TABLE … DROP PARTITION` is
    * q280's retention DELETE as DDL syntax, and `TRUNCATE TABLE` clears
    * data while the table (and its sidecars) survive. Partition
    * metadata/properties are refused loudly — this store has nowhere to
    * keep them, and storing nothing silently would be worse. The gate
    * runs the lifecycle (create → insert → ADD empty cohort → DROP a
    * cohort) and reconciles the CATALOG's partition listing against the
    * TABLE's contents — the listed empty partition must surface as a
    * zero row, the dropped one must vanish from both views; the oracle
    * restates the surviving cohorts plus the empty one from parquet.
    * TsvCatalogSpec pins duplicate-ADD refusal, missing-DROP loudness,
    * the partial-spec SHOW, flat-table refusals, and keyed/flat
    * TRUNCATE. */
  private def q305(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.pt305")
    s.sql(s"CREATE TABLE $cat.lake.pt305 " +
      "(user_id BIGINT, cents BIGINT, shard BIGINT) PARTITIONED BY (shard)")
    Tables.events(s, dir)
      .filter(col("event_type") === "click" && col("user_id").isNotNull)
      .select(col("user_id"),
        round(col("value") * 100).cast("long").as("cents"),
        (col("user_id") % 8).as("shard"))
      .createOrReplaceTempView("graft_src305")
    s.sql(s"INSERT INTO $cat.lake.pt305 SELECT * FROM graft_src305")
    s.sql(s"ALTER TABLE $cat.lake.pt305 ADD PARTITION (shard = 99)")
    s.sql(s"ALTER TABLE $cat.lake.pt305 DROP PARTITION (shard = 3)")
    val listed = s.sql(s"SHOW PARTITIONS $cat.lake.pt305")
      .select(regexp_extract(col("partition"), "shard=(-?\\d+)", 1)
        .cast("long").as("shard"))
    val counts = s.table(s"$cat.lake.pt305")
      .groupBy("shard")
      .agg(count(lit(1)).as("cnt"), sum("cents").as("sum_c"))
    val result = listed.join(counts, Seq("shard"), "left")
      .select(col("shard"),
        coalesce(col("cnt"), lit(0L)).as("n"),
        coalesce(col("sum_c"), lit(0L)).as("cents"))
      .orderBy("shard")
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.pt305")
    s.catalog.dropTempView("graft_src305")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q306: STRING identity partition keys — the keyed `<col>=<v>/`
    * layout with the key encoded as the column's TEXT, because the
    * real retention/GDPR keys of a 100 TB store are strings and dates
    * (country codes, tenant ids, day strings), not synthetic BIGINTs.
    * `CREATE TABLE … PARTITIONED BY (<string col>)` records the key in
    * the same `_graft_partition` sidecar (the TYPE rides in the schema
    * sidecar — one source of truth, no second format); INSERT routes
    * rows into `<col>=<text>/` dirs with per-key path-safety
    * validation (separators/traversal/control bytes REFUSE the write
    * loudly — silent escaping would make the dir name disagree with
    * the value it answers for); scans prune statically on key
    * equality/IN (range shapes stay Spark's residual: dir-name string
    * order is Java UTF-16, which diverges from Spark's UTF8 binary
    * collation outside ASCII — declining beats silently wrong rows);
    * `DELETE FROM t WHERE <string key pred>` drops whole directories
    * as metadata. The gate runs the lifecycle over the orders
    * priorities (one value carries a SPACE — the dir-name contract at
    * its least convenient), retention-deletes one priority, pins
    * static IN-pruning in the plan and the hostile-value refusal
    * inline, and re-aggregates the survivors; the oracle restates the
    * exclusions over parquet. TsvSourceSpec/TsvCatalogSpec pin the
    * mechanics (pruned split planning, partition DDL on string keys,
    * refusal shapes). */
  private def q306(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.ord306")
    s.sql(s"CREATE TABLE $cat.lake.ord306 " +
      "(o_orderkey BIGINT, cents BIGINT, priority STRING) " +
      "PARTITIONED BY (priority)")
    Tables.orders(s, dir)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        col("o_orderpriority").as("priority"))
      .createOrReplaceTempView("graft_src306")
    s.sql(s"INSERT INTO $cat.lake.ord306 SELECT * FROM graft_src306")
    // retention by STRING key: a metadata-only directory drop
    s.sql(s"DELETE FROM $cat.lake.ord306 WHERE priority = '2-HIGH'")
    // gate-side pin 1: key equality prunes STATICALLY (the scan's own
    // description carries the accepted partition filter — a pruned dir
    // is never listed, split, or sized)
    val prunedPlan = s.table(s"$cat.lake.ord306")
      .filter(col("priority") === "1-URGENT")
      .queryExecution.executedPlan.toString
    require(prunedPlan.contains("PushedPartitionFilters"),
      s"q306: string-key equality must prune statically:\n$prunedPlan")
    // gate-side pin 2: a path-hostile key value refuses the WRITE
    // loudly instead of mangling a directory name. Only that refusal
    // (TsvSource.validateKeyToken's, anywhere in the cause chain) counts;
    // any other failure propagates
    def isRefusal(e: Throwable) = Iterator.iterate(e)(_.getCause)
      .takeWhile(_ != null).take(16).exists {
        case r: IllegalArgumentException =>
          String.valueOf(r.getMessage).contains("cannot encode as a directory")
        case _ => false
      }
    val hostileRefused =
      try { s.sql(s"INSERT INTO $cat.lake.ord306 VALUES (0, 0, 'a/b')"); false }
      catch { case e: Throwable if isRefusal(e) => true }
    require(hostileRefused,
      "q306: path-hostile partition value must refuse the write")
    val result = s.sql(
      s"""SELECT priority, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents,
         |  min(o_orderkey) AS min_key
         |FROM $cat.lake.ord306 WHERE priority != '3-MEDIUM'
         |GROUP BY priority ORDER BY priority""".stripMargin)
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.ord306")
    s.catalog.dropTempView("graft_src306")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q307: `PARTITIONED BY (bucket(n, col))` in the catalog — the
    * HIGH-CARDINALITY co-location story by name. Identity partitioning
    * (q302) cannot co-locate a per-user join: a dir per user is
    * millions of dirs. The bucket transform hashes the cluster column
    * into n `_graft_bucket=<id>/` directories; the write DECLARES
    * clustered+sorted-by-bucket distribution (Spark resolves the
    * transform through the catalog's FunctionCatalog and plans the
    * exchange — one file per bucket per job); the scan reports
    * KeyGroupedPartitioning(bucket(n, col)), so two co-bucketed
    * catalog tables JOIN WITH ZERO EXCHANGES on either side (the
    * q270 win, previously path-options-only, now composing with
    * names), and a point lookup prunes to the key's single bucket
    * directory through the same shared hash. The gate builds
    * co-bucketed per-user click/purchase aggregates, pins the
    * exchange-free join plan inline, and re-joins them; the oracle
    * restates the join over parquet. TsvCatalogSpec pins the layout
    * (one file per bucket), bucket pruning, and the refusal shapes
    * (non-BIGINT cluster column, absurd bucket counts); PlanSpec
    * pins the zero-exchange plan and its shuffle fallback with v2
    * bucketing off. */
  private def q307(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.bkc307")
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.bkp307")
    def mk(t: String): Unit = s.sql(
      s"""CREATE TABLE $cat.lake.$t (user_id BIGINT, n BIGINT,
         |  cents BIGINT) PARTITIONED BY (bucket(16, user_id))"""
        .stripMargin)
    mk("bkc307"); mk("bkp307")
    def side(evType: String, view: String): Unit = {
      Tables.events(s, dir)
        .filter(col("event_type") === evType && col("user_id").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .createOrReplaceTempView(view)
      ()
    }
    side("click", "graft_src307c"); side("purchase", "graft_src307p")
    s.sql(s"INSERT INTO $cat.lake.bkc307 SELECT * FROM graft_src307c")
    s.sql(s"INSERT INTO $cat.lake.bkp307 SELECT * FROM graft_src307p")
    graft.SessionConfs.withConfs(s, spjConfs: _*) {
      val joined = s.table(s"$cat.lake.bkc307").as("c")
        .join(s.table(s"$cat.lake.bkp307").as("p"), "user_id")
        .select(col("user_id"),
          col("c.n").as("n_clicks"), col("c.cents").as("click_cents"),
          col("p.n").as("n_purchases"), col("p.cents").as("purchase_cents"))
        .orderBy("user_id")
      val rows = joined.collect()
      // gate-side pin: the co-bucketed join planned with no shuffle on
      // either side (the orderBy's range exchange is above the join)
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("Exchange hashpartitioning"),
        s"q307: co-bucketed catalog join must elide both exchanges:\n$plan")
      s.sql(s"DROP TABLE $cat.lake.bkc307")
      s.sql(s"DROP TABLE $cat.lake.bkp307")
      s.catalog.dropTempView("graft_src307c")
      s.catalog.dropTempView("graft_src307p")
      s.createDataFrame(java.util.Arrays.asList(rows: _*), joined.schema)
    }
  }

  /** q309: REPLACE VISIBILITY UNDER CONCURRENT READERS — the
    * current-generation pointer as a gated behavior. The nightly
    * rebuild of a served summary table is the canonical 100 TB shape:
    * `REPLACE TABLE … AS SELECT` runs while dashboards read the same
    * name, and the old two-rename swap had an instant where the name
    * resolved to NOTHING (NoSuchTableException for whoever asked at the
    * wrong microsecond). The staged commit now promotes the staging dir
    * to an invisible generation directory and flips a pointer file in
    * ONE atomic write, so the name answers old-or-new at every instant.
    * The gate hammers the name from a reader thread through EIGHT
    * successive REPLACEs (each widening a keyset filter) and REQUIRES
    * zero reader misses with continuous observation; the result is the
    * final snapshot, whose oracle is the full aggregate over parquet.
    * TsvCatalogSpec pins the layout (one generation + pointer after N
    * replaces) and the rename/drop composition. */
  private def q309(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.snap309")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("graft_src309")
    def snapSql(keyMod: Int): String =
      s"""SELECT o_orderpriority AS priority, count(*) AS n,
         |  CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM graft_src309 WHERE o_orderkey % 16 < $keyMod
         |GROUP BY 1""".stripMargin
    s.sql(s"CREATE TABLE $cat.lake.snap309 AS ${snapSql(2)}")
    val reads = new java.util.concurrent.atomic.AtomicLong(0L)
    @volatile var stop = false
    @volatile var readerFailure: Throwable = null
    val reader = new Thread(() => {
      while (!stop && readerFailure == null) {
        try {
          require(s.table(s"$cat.lake.snap309").count() > 0,
            "q309: the served snapshot answered empty")
          reads.incrementAndGet()
          ()
        } catch {
          // the documented RETRYABLE outcome: a reader that outlives
          // the grace window (or loses the resolve race under churn)
          // gets a TYPED reclaimed-generation error and re-resolves —
          // matched by CLASS through the cause chain, never by message
          // substring, so a rewording can't turn retryable into a gate
          // failure. What the gate must never see is a silent empty
          // answer or a lost name.
          case e: Throwable
              if graft.sources.GraftGenerationReclaimedException
                .causedBy(e) =>
            ()
          case e: Throwable => readerFailure = e
        }
      }
    })
    reader.start()
    try {
      // eight successive rebuilds, the last covering every key (% 16 <
      // 16) so the final snapshot states the full aggregate
      (1 to 8).foreach { i =>
        s.sql(s"REPLACE TABLE $cat.lake.snap309 AS ${snapSql(2 * i)}")
      }
    } finally {
      stop = true
      reader.join(60000)
    }
    require(readerFailure == null,
      s"q309: a reader lost the name mid-REPLACE: $readerFailure")
    require(reads.get() >= 5,
      s"q309: the reader must observe the table continuously under " +
        s"rebuilds (got ${reads.get()} reads)")
    val result = s.table(s"$cat.lake.snap309").orderBy("priority")
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.snap309")
    s.catalog.dropTempView("graft_src309")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q294: catalog SCHEMA EVOLUTION — `ALTER TABLE … ADD COLUMN` on the
    * DSv2 TSV catalog is a METADATA-ONLY write (one sidecar file), and
    * pre-evolution shards surface explicit NULL for the new column in
    * the very next scan: the reader answers NULL for any field index
    * past a row's end, so shorter old lines and full new lines read as
    * one table in one scan — the q132 mergeSchema contract with zero
    * per-read cost, because the catalog (not a footer-union pass over
    * every file) carries the schema. That asymmetry is the 100 TB
    * point: evolving a petabyte table is one metadata write, never a
    * rewrite, and never a per-query schema reconciliation. The gate
    * loads an orders table in a pre-evolution wave (no price column),
    * ALTERs, loads the post-evolution wave with exact cents, and
    * aggregates across both populations; the oracle rebuilds the union
    * with explicit NULLs. TsvCatalogSpec pins the DDL lifecycle and the
    * positional-field refusals (only trailing nullable ADDs are legal). */
  private def q294(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.orders_ev")
    s.sql(s"""CREATE TABLE $cat.lake.orders_ev (
             |  o_orderkey BIGINT, o_orderpriority STRING)""".stripMargin)
    Tables.orders(s, dir)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
      .createOrReplaceTempView("graft_src294")
    s.sql(s"INSERT INTO $cat.lake.orders_ev " +
      "SELECT o_orderkey, o_orderpriority FROM graft_src294 " +
      "WHERE o_orderkey % 2 = 0")
    s.sql(s"ALTER TABLE $cat.lake.orders_ev ADD COLUMN price_c BIGINT")
    s.sql(s"INSERT INTO $cat.lake.orders_ev " +
      "SELECT o_orderkey, o_orderpriority, " +
      "cast(round(o_totalprice * 100) AS BIGINT) FROM graft_src294 " +
      "WHERE o_orderkey % 2 = 1")
    val result = s.sql(
      s"""SELECT o_orderpriority AS priority, count(*) AS n_rows,
         |  count(price_c) AS n_with_price,
         |  CAST(sum(price_c) AS BIGINT) AS price_c_new
         |FROM $cat.lake.orders_ev GROUP BY 1 ORDER BY 1""".stripMargin)
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.orders_ev")
    s.catalog.dropTempView("graft_src294")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q297: ATOMIC CTAS/RTAS through the DSv2 catalog
    * ([[graft.sources.GraftTsvCatalog]] is a StagingTableCatalog) — the
    * derived-table publication primitive: `CREATE OR REPLACE TABLE …
    * AS SELECT` writes the SELECT into an invisible `_staging_…`
    * directory through the ordinary task-commit sink, and the table
    * name flips to the new contents in ONE rename inside
    * commitStagedChanges — a mid-write failure aborts to a deleted
    * staging dir with the name untouched (old contents still served on
    * REPLACE; no empty half-table on CREATE, which is what plain
    * create-then-insert leaves behind). At 100 TB this is the nightly
    * rebuild contract: consumers read yesterday's summary table until
    * the instant the rebuilt one is complete, and a failed rebuild
    * changes nothing. The gate publishes an orders summary twice — the
    * second publish REPLACES the first through the staged path with a
    * tighter filter — and reads back the final contents by name; the
    * oracle states the second SELECT directly. TsvCatalogSpec pins
    * atomicity (failed CTAS leaves nothing, failed RTAS preserves the
    * old table, staging dirs never leak). */
  private def q297(s: SparkSession, dir: String): DataFrame = {
    val cat = ensureCatalog(s, dir)
    s.sql(s"DROP TABLE IF EXISTS $cat.lake.ord_sum")
    Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      .createOrReplaceTempView("graft_src297")
    s.sql(
      s"""CREATE TABLE $cat.lake.ord_sum AS
         |SELECT o_orderpriority AS priority, o_orderstatus AS status,
         |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM graft_src297 GROUP BY 1, 2""".stripMargin)
    // the nightly re-publish: REPLACE through the staged path — the
    // name serves the old summary until this commit's rename
    s.sql(
      s"""CREATE OR REPLACE TABLE $cat.lake.ord_sum AS
         |SELECT o_orderpriority AS priority, o_orderstatus AS status,
         |  count(*) AS n, CAST(sum(cents) AS BIGINT) AS total_cents
         |FROM graft_src297 WHERE o_orderkey % 4 != 0
         |GROUP BY 1, 2""".stripMargin)
    val result = s.table(s"$cat.lake.ord_sum")
      .orderBy("priority", "status")
    val rows = result.collect()
    s.sql(s"DROP TABLE $cat.lake.ord_sum")
    s.catalog.dropTempView("graft_src297")
    s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
  }

  /** q265 setup: stats'd catalog tables for the CBO gate, built once per
    * source dir. `ANALYZE TABLE ... FOR ALL COLUMNS` collects the
    * row/size stats plus per-column NDV/min/max that cost-based join
    * reordering needs. Returns the database name. */
  private[graft] def cboSetup(s: SparkSession, dir: String): String = {
    val db = s"graft_cbo_${math.abs(dir.hashCode)}"
    if (layoutSource.get(db) != dir) {
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db")
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice")
        .write.mode("overwrite").saveAsTable(s"$db.lineitem_cbo")
      Tables.part(s, dir).select("p_partkey", "p_brand")
        .write.mode("overwrite").saveAsTable(s"$db.part_cbo")
      Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
        .write.mode("overwrite").saveAsTable(s"$db.supplier_cbo")
      Seq("lineitem_cbo", "part_cbo", "supplier_cbo").foreach(t =>
        s.sql(s"ANALYZE TABLE $db.$t COMPUTE STATISTICS FOR ALL COLUMNS"))
      layoutSource.put(db, dir)
    }
    db
  }

  /** q265's star query, written in the deliberately WORST syntactic
    * order: the fact joins the unfiltered 2k-row part dim first and the
    * selective supplier dim (s_nationkey = 0 keeps ~2%) last. Without
    * stats Catalyst keeps this order (its rule-based ReorderJoin only
    * rescues cross products); with ANALYZE stats + CBO the DP join
    * reorderer flips it — supplier's filtered ~2 rows shrink the fact
    * 50× before part is touched. PlanSpec pins both optimized orders. */
  private[graft] def cboSql(db: String): String =
    s"""SELECT p_brand, count(*) AS n,
       |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
       |    AS revenue
       |FROM $db.lineitem_cbo
       |JOIN $db.part_cbo ON l_partkey = p_partkey
       |JOIN $db.supplier_cbo ON l_suppkey = s_suppkey
       |WHERE s_nationkey = 0
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  private[graft] val cboConfs: Seq[(String, String)] = Seq(
    "spark.sql.cbo.enabled" -> "true",
    "spark.sql.cbo.joinReorder.enabled" -> "true")

  /** q265: cost-based join reordering (§4.1's missing optimizer half —
    * the reference has NO optimizer; this gate completes the "Catalyst
    * supersedes it" story with stats-driven evidence). At 100 TB the
    * difference between joining a fact against an unfiltered dim vs a
    * stats-known-selective dim first is the job's dominant shuffle; CBO
    * makes that choice from ANALYZE statistics instead of query-author
    * luck. The result is collected INSIDE the conf scope (optimization
    * happens at execution, so returning a lazy frame would optimize
    * after the confs are restored). Values are order-independent — the
    * oracle checks the reordered plan computes the same answer. */
  private def q265(s: SparkSession, dir: String): DataFrame = {
    val db = cboSetup(s, dir)
    graft.SessionConfs.withConfs(s, cboConfs: _*) {
      val result = s.sql(cboSql(db))
      val rows = result.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), result.schema)
    }
  }

  override def queries: Seq[Q] = Seq(
    Q("q309_replace_visibility", q309, Some(
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q307_catalog_bucketed_join", q307, Some(
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_clicks,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS click_cents
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL
        |  GROUP BY 1),
        |p AS (
        |  SELECT user_id, count(*) AS n_purchases,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS purchase_cents
        |  FROM events WHERE event_type = 'purchase' AND user_id IS NOT NULL
        |  GROUP BY 1)
        |SELECT c.user_id, n_clicks, click_cents, n_purchases, purchase_cents
        |FROM c JOIN p ON c.user_id = p.user_id
        |ORDER BY c.user_id""".stripMargin)),
    Q("q306_catalog_string_partition", q306, Some(
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents,
        |  min(o_orderkey) AS min_key
        |FROM orders
        |WHERE o_orderpriority NOT IN ('2-HIGH', '3-MEDIUM')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q305_partition_ddl", q305, Some(
      """WITH c AS (
        |  SELECT user_id % 8 AS shard,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL),
        |g AS (SELECT shard, count(*) AS n, CAST(sum(cents) AS BIGINT) AS cents
        |      FROM c GROUP BY shard),
        |p AS (SELECT shard, n, cents FROM g WHERE shard != 3
        |      UNION ALL SELECT 99, 0, 0)
        |SELECT shard, n, cents FROM p ORDER BY shard""".stripMargin)),
    Q("q302_catalog_partitioned", q302, Some(
      """WITH c AS (
        |  SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents,
        |    user_id % 8 AS shard
        |  FROM events WHERE event_type = 'click' AND user_id IS NOT NULL)
        |SELECT shard, count(*) AS n_rows,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM c WHERE shard NOT IN (2, 5) AND shard >= 1
        |GROUP BY shard ORDER BY shard""".stripMargin)),
    Q("q301_tsv_gzip_sink", q301, Some(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  min(o_orderkey) AS min_key
        |FROM orders WHERE o_orderstatus != 'P'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q300_tsv_gzip_scan", q300, Some(
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS id_sum,
        |  count(value) AS n_valued
        |FROM events WHERE user_id >= 10
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),
    Q("q297_catalog_ctas", q297, Some(
      """SELECT o_orderpriority AS priority, o_orderstatus AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents
        |FROM orders WHERE o_orderkey % 4 != 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    Q("q294_catalog_add_column", q294, Some(
      """WITH old AS (
        |  SELECT o_orderkey, o_orderpriority, CAST(NULL AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |new AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey % 2 = 1),
        |u AS (SELECT * FROM old UNION ALL SELECT * FROM new)
        |SELECT o_orderpriority AS priority, count(*) AS n_rows,
        |  count(price_c) AS n_with_price,
        |  CAST(sum(price_c) AS BIGINT) AS price_c_new
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q290_tsv_table_catalog", q290, Some(
      """SELECT o_orderpriority AS priority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS revenue
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q288_dsv2_topn_pushdown", q288, Some(
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_clicks,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS click_cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT user_id, n_clicks, click_cents FROM c
        |ORDER BY click_cents DESC, user_id LIMIT 10""".stripMargin)),
    Q("q287_scan_reported_ordering", q287, Some(
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_clicks,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS click_cents,
        |    user_id % 16 AS shard
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |t AS (SELECT shard, CAST(sum(click_cents) AS BIGINT) AS shard_cents
        |  FROM c GROUP BY 1)
        |SELECT c.user_id, c.n_clicks, c.click_cents, c.shard, t.shard_cents
        |FROM c JOIN t USING (shard) ORDER BY c.user_id""".stripMargin)),
    Q("q270_storage_partitioned_join", q270, Some(
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_clicks,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS click_cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |p AS (
        |  SELECT user_id, count(*) AS n_purchases,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS purchase_cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT c.user_id, n_clicks, click_cents, n_purchases, purchase_cents
        |FROM c JOIN p ON c.user_id = p.user_id
        |ORDER BY c.user_id""".stripMargin)),
    Q("q269_rebalance_write", q269, Some(
      """SELECT CASE WHEN o_custkey % 4 < 3 THEN 'hot'
        |            ELSE 'cold_' || CAST(o_custkey % 8 AS VARCHAR) END
        |    AS status_class,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q268_dynamic_partition_pruning", q268, Some(
      """WITH dim AS (
        |  SELECT DISTINCT strftime(l.month_ts, '%Y-%m') AS month,
        |    CAST(year(l.month_ts) AS VARCHAR) || '-Q' ||
        |      CAST(quarter(l.month_ts) AS VARCHAR) AS qtr
        |  FROM (SELECT o_orderdate AS month_ts FROM orders) l)
        |SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS revenue
        |FROM lineitem
        |JOIN dim ON strftime(l_shipdate, '%Y-%m') = month
        |WHERE qtr = '1997-Q1'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q265_cbo_join_reorder", q265, Some(
      """SELECT p_brand, count(*) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS revenue
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey = 0
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),
    Q("q280_dsv2_partition_delete", q280, Some(
      """WITH c AS (SELECT user_id, count(*) AS n,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1)
        |SELECT user_id % 16 AS shard, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS cents
        |FROM c WHERE user_id % 16 NOT IN (0, 4, 8, 12)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q278_dsv2_metadata_cols", q278, Some(
      """WITH c AS (SELECT DISTINCT user_id FROM events
        |           WHERE event_type = 'click')
        |SELECT user_id % 16 AS shard,
        |  count(*) AS n_rows,
        |  CAST(1 AS BIGINT) AS n_files,
        |  count(*) AS n_lineage_ok,
        |  CAST(0 AS BIGINT) AS first_pos
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q277_dsv2_tsv_sink", q277, Some(
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS total_cents,
        |  min(o_orderkey) AS min_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q276_dsv2_runtime_filter", q276, Some(
      """WITH c AS (
        |  SELECT user_id, count(*) AS n_clicks,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
        |      AS click_cents
        |  FROM events WHERE event_type = 'click' GROUP BY 1),
        |d AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase' AND user_id % 32 = 5)
        |SELECT c.user_id, n_clicks, click_cents
        |FROM c JOIN d ON c.user_id = d.user_id
        |ORDER BY c.user_id""".stripMargin)),
    Q("q275_dsv2_agg_pushdown", q275, Some(
      """SELECT nullif(event_type, '') AS event_type,
        |  count(*) AS n,
        |  min(event_id) AS min_eid,
        |  max(event_id) AS max_eid,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events WHERE user_id >= 10
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin)),
    Q("q247_dsv2_pushdown", q247, Some(
      """SELECT user_id, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events WHERE event_type = 'click' AND user_id >= 50
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q209_sorted_export", q209, Some(
      """SELECT count(*) AS n_rows,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS price_sum,
        |  CAST(8 AS BIGINT) AS n_files,
        |  true AS ranges_disjoint
        |FROM orders""".stripMargin)),
    Q("q208_zone_map_skipping", q208, Some(
      """SELECT count(*) AS n_rows,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS price_sum,
        |  (SELECT count(DISTINCT strftime(o_orderdate, '%Y-%m'))
        |     FROM orders) AS n_files_total,
        |  count(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_files_scanned
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-03-01'
        |  AND o_orderdate < TIMESTAMP '1997-06-01'""".stripMargin)),
    Q("q207_compaction", q207, Some(
      """SELECT count(*) AS n_rows,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS price_sum,
        |  CAST(64 AS BIGINT) AS n_files_small,
        |  CAST(ceil(count(*) / 25000.0) AS BIGINT) AS n_files_compacted,
        |  true AS target_hit
        |FROM orders""".stripMargin)),
    Q("q206_uri_glob_index", q206, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS cents_sum
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q199_ignore_corrupt", q199, Some(
      """SELECT count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |  count(DISTINCT n_regionkey) AS n_regions
        |FROM nation""".stripMargin)),
    Q("q172_managed_table", q172, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS balance
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q162_permissive_csv", q162, Some(
      """SELECT c_custkey,
        |  CASE WHEN c_custkey % 7 != 0 THEN c_nationkey END AS natkey,
        |  c_custkey % 7 = 0 AS is_bad,
        |  CASE WHEN c_custkey % 7 = 0 THEN 'oops_' || c_mktsegment
        |       ELSE '' END AS bad_payload
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Q("q163_file_metadata", q163, Some(
      """SELECT o_orderpriority AS prio, true AS path_matches,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q158_dynamic_overwrite", q158, Some(
      """SELECT o_orderpriority AS prio, count(*) AS n,
        |  round(CAST(sum(CAST(CASE WHEN o_orderpriority = '1-URGENT'
        |                            THEN o_totalprice * 2
        |                            ELSE o_totalprice END
        |                      AS DECIMAL(18,2))) AS DOUBLE), 2) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q145_csv_quoted", q145, Some(
      """SELECT c_custkey,
        |  c_name || ',"' || c_mktsegment || '"' || chr(10) || c_nationkey
        |    AS tricky
        |FROM customer ORDER BY c_custkey""".stripMargin)),
    Q("q74_mr_textfile", q74, Some(
      """SELECT c_mktsegment, count(*) AS n, min(c_name) AS first_name
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q75_mr_file_index", q75, Some(
      """SELECT o_orderpriority, count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q76_sink_roundtrip", q76, Some(
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),
    // q99's oracle reads the ORIGINAL parquet source — the ORC round
    // trip must be value-transparent.
    Q("q99_orc_roundtrip", q99, Some(
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
        |  count(*) AS n
        |FROM lineitem WHERE l_quantity <= 25 GROUP BY 1 ORDER BY 1""".stripMargin)),
    // q101's oracle reads the ORIGINAL parquet source — the JSON round
    // trip must be value-transparent.
    Q("q101_json_roundtrip", q101, Some(
      """SELECT o_orderpriority, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders WHERE o_orderkey % 3 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q131_gzip_text_roundtrip", q131, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  CAST(sum(c_custkey) AS BIGINT) AS key_sum,
        |  count(DISTINCT c_nationkey) AS n_nations
        |FROM customer GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q132_schema_merge", q132, Some(
      """WITH u AS (
        |  SELECT o_orderkey, o_orderpriority, NULL::DOUBLE AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderpriority, o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_orderpriority, count(*) AS n_rows,
        |  count(o_totalprice) AS n_with_price,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS revenue_new_only
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q77_bucketed_join", q77, Some(
      """SELECT c_mktsegment, count(*) AS n,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q284_bucket_pruning", q284, Some(
      """SELECT o_custkey, count(*) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM orders WHERE o_custkey IN (7, 19, 23, 42)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
    Q("q86_partitioned_scan", q86, Some(
      """SELECT event_type, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users
        |FROM events
        |WHERE strftime(ts, '%Y-%m-%d') BETWEEN '2024-01-08' AND '2024-01-14'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
