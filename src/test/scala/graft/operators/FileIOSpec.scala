package graft.operators

import graft.{SparkEntry, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Gate-level checks for the file-input MapReduce queries and the sink
  * round-trip (FileIO pack). The DuckDB oracle is the real arbiter; these
  * pin the Spark-side invariants that the oracle can't see: header-skip
  * correctness (a swallowed header would surface as a phantom group) and
  * sink round-trip identity (the intersected read-back must equal the
  * in-memory aggregate, not merely be non-empty).
  */
class FileIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("q74 header line is skipped, groups match the table") {
    val got = SparkEntry.queries("q74_mr_textfile")(spark, sf).collect()
    val expected = graft.sources.Tables.customer(spark, sf)
      .groupBy("c_mktsegment")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.min("c_name").as("first_name"))
      .orderBy("c_mktsegment").collect()
    assert(got.toSeq === expected.toSeq)
    // no phantom group from the header line
    assert(!got.exists(_.getString(0) == "c_mktsegment"))
  }

  test("q75 file index covers every shard") {
    val got = SparkEntry.queries("q75_mr_file_index")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
    assert(got === graft.sources.Tables.orders(spark, sf).count())
  }

  test("q76 sink round-trip equals the direct aggregate") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q76_sink_roundtrip")(spark, sf)
      .collect().map(_.toString).sorted
    val direct = graft.sources.Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_qty"),
        count(lit(1)).as("n"))
      .collect().map(_.toString).sorted
    assert(got.length === 3)
    assert(got === direct)
  }

  test("q86 scan prunes to the filtered day partitions") {
    val df = SparkEntry.queries("q86_partitioned_scan")(spark, sf)
    df.collect() // materializes the partitioned layout
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val pf = formatted.split("\n").filter(_.contains("PartitionFilters"))
    assert(pf.exists(l => l.contains("2024-01-08") && l.contains("day#")),
      s"expected the day range inside PartitionFilters, got:\n${pf.mkString("\n")}")
  }

  test("fresh process rewrites layouts — stale on-disk data is never trusted") {
    import org.apache.spark.sql.functions._
    // The layout cache is process-local BY CONTRACT: a fresh process must
    // rewrite, so a regenerated source table can never be shadowed by a
    // stale on-disk layout. This poisons the layouts behind the cache's
    // back (as an earlier process run against different data would have
    // left them), simulates the fresh process, and asserts the answers
    // still come from the true source.
    val good86 = SparkEntry.queries("q86_partitioned_scan")(spark, sf)
      .collect().map(_.toString).sorted
    val good77 = SparkEntry.queries("q77_bucketed_join")(spark, sf)
      .collect().map(_.toString).sorted
    // poison q86's partitioned dump and q77's bucketed tables
    val out = FileIO.scratch(sf, "events_by_day")
    spark.range(3)
      .select(lit("poison").as("event_type"), col("id").as("user_id"),
        lit("2024-01-09").as("day"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    spark.range(3)
      .select(col("id").as("o_orderkey"), col("id").as("o_custkey"),
        lit(1.0).as("o_totalprice"))
      .write.mode("overwrite").saveAsTable("graft_orders_bkt")
    // prove the poison took (a cache-trusting read WOULD see it)
    assert(spark.read.parquet(out).filter(col("event_type") === "poison").count() == 3)
    // fresh process: the cache starts empty
    graft.Memo.forget(_.productElement(0) == "layout")
    assert(SparkEntry.queries("q86_partitioned_scan")(spark, sf)
      .collect().map(_.toString).sorted === good86)
    assert(SparkEntry.queries("q77_bucketed_join")(spark, sf)
      .collect().map(_.toString).sorted === good77)
  }

  test("q284 point lookup reads a strict subset of bucket files, agg shuffle-free") {
    val df = SparkEntry.queries("q284_bucket_pruning")(spark, sf)
    df.collect() // materializes the bucketed layout
    val plan = df.queryExecution.executedPlan.toString
    val sel = "SelectedBucketsCount: (\\d+) out of 16".r
      .findFirstMatchIn(plan)
      .getOrElse(fail(s"no bucket pruning in:\n$plan"))
    val k = sel.group(1).toInt
    assert(k > 0 && k < 16, s"expected a pruned bucket set, got $k of 16")
    // the bucketed scan's hash layout also feeds the per-key aggregate:
    // the ONLY exchange is the final sort's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"aggregate re-shuffled a bucketed scan:\n$plan")
  }

  test("q99 quantity predicate is pushed into the ORC scan") {
    val df = SparkEntry.queries("q99_orc_roundtrip")(spark, sf)
    df.collect() // materializes the ORC layout
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("PushedFilters") &&
      formatted.contains("LessThanOrEqual(l_quantity"),
      s"expected l_quantity pushdown in the ORC scan:\n$formatted")
  }

  test("q131 gzip shards drive read parallelism (one task per .gz file)") {
    // gzip is not splittable: the scan MUST get one partition per shard
    // (4 written) — if the shards collapsed into one partition the whole
    // compressed corpus would decompress on a single task at 100 TB
    SparkEntry.queries("q131_gzip_text_roundtrip")(spark, sf).collect()
    val out = FileIO.scratch(sf, "customer_csv_gz")
    // the shards must actually BE gzip: parts >= 4 also holds for plain
    // CSV (4 files -> >= 4 splits), so a silently-dropped codec option
    // would pass both this count and the value-level oracle (ADVICE r6)
    val shards = Option(new java.io.File(out).listFiles())
      .getOrElse(fail(s"missing output dir: $out"))
      .map(_.getName).filter(_.startsWith("part-"))
    assert(shards.nonEmpty && shards.forall(_.endsWith(".csv.gz")),
      s"expected every shard to end in .csv.gz, got: ${shards.mkString(", ")}")
    val parts = spark.read
      .schema("c_custkey LONG, c_mktsegment STRING, c_nationkey LONG")
      .csv(out).rdd.getNumPartitions
    assert(parts >= 4, s"expected >= 4 read partitions for 4 .gz shards, got $parts")
  }

  test("q269 rebalance write splits the hot class, keeps cold ones whole") {
    import org.apache.spark.sql.functions._
    // sf0.01: 'hot' holds ~75% of orders (well over the gate's 64 KiB
    // advisory) and must fan out into >1 evenly-sized file; each cold
    // class (~3%) is under it and must stay a single file
    val sf01 = "/root/testdata/sf0.01"
    SparkEntry.queries("q269_rebalance_write")(spark, sf01).collect()
    val files = spark.read.parquet(FileIO.rebalancedOrdersPath(sf01))
      .groupBy(col("status_class").cast("string").as("status_class"))
      .agg(countDistinct(col("_metadata.file_path")).as("n_files"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(files("hot") > 1, s"hot class must split: $files")
    val cold = files.filter(_._1.startsWith("cold_"))
    assert(cold.nonEmpty && cold.values.forall(_ == 1),
      s"cold classes must each stay one file: $files")
  }

  test("q158 dynamic overwrite leaves untouched partitions' files intact") {
    // The reload writes ONLY prio=1-URGENT; every other partition must
    // keep its ORIGINAL files (same paths — dynamic mode never
    // truncates siblings). A static overwrite would have replaced all
    // directories in the second write.
    graft.Memo.forget(_.productElement(0) == "layout")
    val root = FileIO.scratch(sf, "orders_dynpart")
    SparkEntry.queries("q158_dynamic_overwrite")(spark, sf).collect()
    def files(p: String): Set[String] = {
      val d = new java.io.File(s"$root/prio=$p")
      d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val lowBefore = files("5-LOW")
    val urgentFiles = files("1-URGENT")
    // rewrite the urgent partition again via a fresh dynamic write
    spark.read.parquet(root).where("prio = '1-URGENT'")
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("prio").parquet(root)
    assert(files("5-LOW") === lowBefore,
      "dynamic overwrite must not touch sibling partitions")
    assert(files("1-URGENT") !== urgentFiles,
      "the targeted partition must actually be rewritten")
  }

  test("q145 multiLine quoted CSV reads embedded newlines without row splits") {
    val got = SparkEntry.queries("q145_csv_quoted")(spark, sf)
    val rows = got.collect()
    val expected = graft.sources.Tables.customer(spark, sf).count()
    assert(rows.length == expected,
      s"row count must survive embedded newlines: ${rows.length} vs $expected")
    assert(rows.forall(_.getString(1).contains("\n")),
      "every payload must retain its embedded newline")
  }

  test("text round-trip: a renamed writer column fails loudly instead of reading null") {
    import org.apache.spark.sql.functions._
    val written = graft.sources.Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice").as("price"))
    val out = java.nio.file.Files.createTempDirectory("graft_json_renamed").toString
    written.write.mode("overwrite").json(out)
    def revenue(schema: org.apache.spark.sql.types.StructType) =
      spark.read.schema(schema).json(out)
        .groupBy("o_orderpriority").agg(sum("o_totalprice")).collect()
    // a read-back schema kept apart from its writer reads the renamed
    // column as nulls, with no error
    val literal = org.apache.spark.sql.types.StructType.fromDDL(
      "o_orderkey BIGINT, o_orderpriority STRING, o_totalprice DOUBLE")
    assert(revenue(literal).forall(_.isNullAt(1)))
    // q101, q131 and q145 read back with their writer's schema: it fails
    intercept[org.apache.spark.sql.AnalysisException](revenue(written.schema))
  }

  test("a one-file parquet write through the session's file: filesystem starts no chmod") {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[graft.sources.LocalFs.Checksummed],
      s"file: resolves to ${fs.getClass.getName}")
    val out = java.nio.file.Files.createTempDirectory("graft_write_spawns").resolve("t").toString
    // a Hadoop-committer write creates 5 dirs and 4 files (with `.crc`s)
    val chmods = graft.TestSpark.programsStartedDuring(
      spark.range(10).coalesce(1).write.parquet(out)).filter(_ == "chmod")
    assert(chmods.isEmpty, s"${chmods.size} chmod spawns")
    assert(spark.read.parquet(out).count() === 10)
  }

  test("q206 index mixes file: URI, plain path, and glob — all shards covered") {
    val got = SparkEntry.queries("q206_uri_glob_index")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).collect().head.getLong(0)
    // every customer row reaches the reduce exactly once: a missed glob
    // shard undercounts, a double-listed shard overcounts
    assert(got === graft.sources.Tables.customer(spark, sf).count())
  }

  test("remote object-store scheme ROUTING engages (offline half of s3a)") {
    // The sandbox has no network and no hadoop-aws jar, so the gateable
    // contract is that a remote URI is routed BY SCHEME to the Hadoop FS
    // loader (what smart_open does in the reference, mapreduce.py:91) and
    // fails there — with an error naming the scheme — rather than being
    // misparsed as a relative local path. With the connector jar deployed,
    // this same resolution path proceeds to credentials + network.
    val ex = intercept[Exception] {
      spark.read.textFile("s3a://some-bucket/prefix/part-00000.tsv").collect()
    }
    val msg = (ex.getMessage + Option(ex.getCause).map(_.getMessage).getOrElse(""))
    assert(msg.contains("s3a"), s"error must name the unresolved scheme: $msg")
    // and URI parsing itself splits scheme/bucket/key the way the
    // connector will consume them
    val p = new org.apache.hadoop.fs.Path("s3a://some-bucket/prefix/x.tsv")
    assert(p.toUri.getScheme === "s3a")
    assert(p.toUri.getAuthority === "some-bucket")
    assert(p.toUri.getPath === "/prefix/x.tsv")
    // credential/config plumbing: spark.hadoop.* session confs are the
    // documented way to feed fs.s3a.* settings; they surface in the
    // Hadoop conf every FileSystem.get call receives
    val hc = spark.sparkContext.hadoopConfiguration
    assert(hc != null && hc.get("fs.defaultFS", "file:///").nonEmpty)
  }

  test("q208 zone map skips files and loses no rows") {
    import org.apache.spark.sql.functions._
    val row = SparkEntry.queries("q208_zone_map_skipping")(spark, sf)
      .collect().head
    // skipping must actually engage: a broken zone map degrades to a
    // full scan, which the file counts expose
    assert(row.getLong(3) < row.getLong(2),
      s"expected n_files_scanned < n_files_total, got $row")
    // and the pruned scan must agree with an independent full-table
    // filter (the oracle checks this against DuckDB; this pins it
    // against Spark's own full scan too, isolating the pruning step)
    val full = graft.sources.Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= "1997-03-01" &&
        col("o_orderdate") < "1997-06-01")
      .agg(count(lit(1)),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2))
      .collect().head
    assert(row.getLong(0) === full.getLong(0))
    assert(row.getDouble(1) === full.getDouble(1))
  }

  test("q209 export files are internally sorted and range-disjoint") {
    val row = SparkEntry.queries("q209_sorted_export")(spark, sf)
      .collect().head
    assert(row.getBoolean(3), "per-file ranges must be pairwise disjoint")
    // per-file local order: together with disjoint ranges this IS the
    // total order (the facet the manifest audit can't see)
    val out = FileIO.scratch(sf, "orders_sorted_export")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(out), spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .map(_.getPath).filter(_.getName.startsWith("part-"))
    assert(parts.length === 8)
    parts.foreach { p =>
      val rows = spark.read.parquet(p.toString)
        .select("o_totalprice", "o_orderkey")
        .collect().map(r => (r.getDouble(0), r.getLong(1)))
      assert(rows.sameElements(rows.sorted), s"file $p not locally sorted")
    }
  }

  test("q77 bucketed join plans without a shuffle on either join key") {
    val df = SparkEntry.queries("q77_bucketed_join")(spark, sf)
    df.collect() // also materializes the bucketed tables
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning(o_custkey") &&
      !plan.contains("Exchange hashpartitioning(c_custkey"),
      s"unexpected shuffle before bucketed join:\n$plan")
  }
}
