package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Contract tests for the DSv2 TSV source (q247's engine): value
  * fidelity against Spark's own csv reader, null semantics for empty
  * fields, pushdown-vs-residual routing, and quote transparency (a TSV
  * field containing '"' must pass through byte-exact — the csv reader
  * needs quote gymnastics for that; the TSV dialect has none). */
class TsvSourceSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private val schema = StructType.fromDDL(
    "id BIGINT, name STRING, score DOUBLE, note STRING")

  private def writeTsv(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_spec").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00000.txt"),
      lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  private def readTsv(dir: String) =
    spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(schema).option("path", dir).load()

  test("values round-trip byte-exact, including embedded quotes and empty→NULL") {
    val dir = writeTsv(Seq(
      "1\talice\t2.50\tplain",
      "2\tbob\t-0.75\thas \"quotes\" inside",
      "3\t\t1.00\t",          // empty name and note → NULL
      "4\tdora\t3.25"))        // short row: missing trailing field → NULL
    val rows = readTsv(dir).orderBy("id").collect()
    assert(rows.length == 4)
    assert(rows(1).getString(3) == "has \"quotes\" inside")
    assert(rows(2).isNullAt(1) && rows(2).isNullAt(3))
    assert(rows(3).isNullAt(3))
    assert(rows(0).getDouble(2) == 2.50 && rows(1).getDouble(2) == -0.75)
  }

  test("numeric range + string equality push down; the scan result matches an unpushed baseline") {
    val dir = writeTsv((1 to 50).map(i =>
      s"$i\tn$i\t${i % 7}.25\t${if (i % 2 == 0) "even" else "odd"}"))
    val pushed = readTsv(dir)
      .filter(col("id") >= 10 && col("id") < 20 && col("note") === "even")
      .select(col("id"), col("score"))
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(id,10)") &&
      plan.contains("LessThan(id,20)") && plan.contains("EqualTo(note,even)"),
      s"expected all three predicates in PushedFilters:\n$plan")
    val baseline = spark.read.schema(schema).option("sep", "\t")
      .csv(dir + "/part-00000.txt")
      .filter(col("id") >= 10 && col("id") < 20 && col("note") === "even")
      .select(col("id"), col("score"))
    assert(pushed.orderBy("id").collect().toSeq ==
      baseline.orderBy("id").collect().toSeq)
  }

  test("IN on data columns pushes down exactly; IN (…, NULL) is declined (three-valued)") {
    val dir = writeTsv((1 to 50).map(i =>
      s"$i\tn$i\t${i % 7}.25\t${if (i % 2 == 0) "even" else "odd"}"))
    // numeric IN and string IN both push (the reader evaluates each as
    // a disjunction of exact equalities)
    val pushed = readTsv(dir)
      .filter(col("id").isin(3L, 17L, 42L, 99L) &&
        col("note").isin("odd", "weird"))
      .select(col("id"), col("name"))
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("In(id") && plan.contains("In(note"),
      s"expected both IN predicates in PushedFilters:\n$plan")
    assert(pushed.orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(3L, 17L))
    // IN with a NULL element must be DECLINED (residual Filter stays):
    // the reader's boolean evaluation can't express the NULL answer a
    // no-match row takes under three-valued IN
    val withNull = readTsv(dir)
      .filter(col("id").isin(3L, 17L) || col("name").isNull)
    val nullPlan = withNull.queryExecution.executedPlan.toString
    // (the OR keeps it residual anyway; assert directly on the builder)
    val b = new TsvScanBuilder(schema, dir, 32L * 1024 * 1024)
    val residual = b.pushFilters(Array(
      org.apache.spark.sql.sources.In("id", Array(3L, null))))
    assert(residual.length == 1 && b.pushedFilters().isEmpty,
      s"IN with NULL element must stay residual, got " +
        s"pushed=${b.pushedFilters().mkString(",")} plan:\n$nullPlan")
  }

  test("string RANGE predicates are declined (residual Filter stays in the plan) yet results stay correct") {
    val dir = writeTsv(Seq("1\tapple\t1.0\tx", "2\tbanana\t2.0\ty",
      "3\tcherry\t3.0\tz"))
    val df = readTsv(dir).filter(col("name") > "avocado").select("id", "name")
    val plan = df.queryExecution.executedPlan.toString
    // the DECLINE is the contract: the predicate must NOT appear in the
    // scan's PushedFilters list (a bare plan.contains("Filter") would be
    // vacuous — the "PushedFilters:" label itself contains "Filter")
    val pushedList = plan.linesIterator
      .filter(_.contains("PushedFilters:")).mkString("\n")
    assert(pushedList.nonEmpty, s"expected a GraftTsvScan in the plan:\n$plan")
    assert(!pushedList.contains("GreaterThan(name"),
      s"string range predicates must stay Spark's (UTF-16 vs UTF8 binary " +
        s"ordering diverges outside ASCII):\n$pushedList")
    // and Spark must still apply it: a real FilterExec node evaluates
    // the residual (collect via the plan tree, not a substring)
    val hasFilterNode = df.queryExecution.executedPlan.exists {
      p => p.isInstanceOf[org.apache.spark.sql.execution.FilterExec]
    }
    assert(hasFilterNode, s"expected a residual Spark FilterExec:\n$plan")
    assert(df.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("banana", "cherry"))
  }

  test("byte-range splits: every split size yields the identical row set (lines read exactly once)") {
    // varied line lengths + a final UNTERMINATED line, so boundaries
    // land mid-line, exactly on '\n', and exactly on a line start
    val lines = (1 to 40).map(i => s"$i\t${"x" * (i % 7)}\t$i.5\tnote$i")
    val dir = writeTsv(lines) // writeTsv joins with \n, no trailing newline
    val baseline = readTsv(dir).orderBy("id").collect().toSeq
    assert(baseline.size == 40)
    // exhaustive sweep over tiny split sizes: every possible boundary
    // alignment occurs somewhere in 1..40 bytes
    for (split <- 1 to 40) {
      val df = spark.read.format(classOf[TsvSourceProvider].getName)
        .schema(schema).option("path", dir)
        .option("split_bytes", split.toString).load()
      val got = df.orderBy("id").collect().toSeq
      assert(got == baseline,
        s"split_bytes=$split read ${got.size} rows, expected 40 " +
          s"(duplicated or lost lines at a boundary)")
    }
    // and the plan really fans out: a 40-line file at 16-byte splits
    // is many input partitions, not one
    val parts = new TsvScan(schema, schema, Array.empty,
      dir, 16L, -1).planInputPartitions()
    assert(parts.length > 5, s"expected many splits, got ${parts.length}")
  }

  test("gzip shards: one split per .gz file, values identical to plain, stores mix freely") {
    val lines = (1 to 60).map(i => s"$i\t${"x" * (i % 7)}\t$i.5\tnote$i")
    val dir = writeTsv(lines.take(30)) // plain shard
    // second shard gzipped alongside it
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$dir/part-00001.txt.gz"))
    try gz.write((lines.drop(30).mkString("\n") + "\n").getBytes("UTF-8"))
    finally gz.close()
    val got = readTsv(dir).orderBy("id").collect().toSeq
    val plainAll = readTsv(writeTsv(lines)).orderBy("id").collect().toSeq
    assert(got == plainAll, "mixed plain+gz store must equal one plain store")
    // gzip is not splittable: tiny split_bytes must fan out the PLAIN
    // shard but keep exactly ONE split for the .gz shard
    val parts = new TsvScan(schema, schema, Array.empty,
      dir, 16L, -1).planInputPartitions()
    val gzParts = parts.collect {
      case p: TsvInputPartition if p.file.endsWith(".gz") => p }
    assert(gzParts.length == 1, s"expected 1 gz split, got ${gzParts.length}")
    assert(parts.length > 5, "plain shard must still byte-split")
    // pushed filters evaluate on decompressed lines
    val f = readTsv(dir).filter(col("id") > 55)
    assert(f.count() == 5)
  }

  test("CRLF terminators parse identically to LF (trailing CR stripped, even off a numeric last column)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_crlf").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00000.txt"),
      "1\talice\t2.50\tnote1\r\n2\tbob\t3.25\tnote2\r\n".getBytes("UTF-8"))
    val rows = readTsv(dir).orderBy("id").collect()
    assert(rows.map(_.getString(3)).toSeq == Seq("note1", "note2"),
      "trailing CR must be stripped from the last field")
    // numeric parse of a CR-terminated numeric column (schema without
    // the trailing string field) must not throw
    val numSchema = StructType.fromDDL("id BIGINT, name STRING, score DOUBLE")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-00001.txt"),
      "3\tcara\t4.75\r\n".getBytes("UTF-8"))
    val all = spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(numSchema).option("path", dir).load()
      .filter(col("id") === 3).collect()
    assert(all.length == 1 && all(0).getDouble(2) == 4.75)
  }

  test("split_bytes must be positive: 0 and negatives fail loudly at plan time") {
    val dir = writeTsv(Seq("1\ta\t1.0\tx"))
    for (bad <- Seq("0", "-1")) {
      val e = intercept[IllegalArgumentException] {
        spark.read.format(classOf[TsvSourceProvider].getName)
          .schema(schema).option("path", dir)
          .option("split_bytes", bad).load().count()
      }
      assert(e.getMessage.contains("split_bytes"),
        s"expected the split_bytes guard, got: ${e.getMessage}")
    }
  }

  test("limit pushdown: the scan carries PushedLimit and results stay exact") {
    val dir = writeTsv((1 to 200).map(i => s"$i\tn$i\t$i.5\tx$i"))
    val df = readTsv(dir).filter(col("id") > 50).limit(7)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedLimit: 7"),
      s"limit must reach the source (partial push):\n$plan")
    // partial push: Spark's global Limit still bounds the result, and
    // the pushed filter applies BEFORE the per-split row cap
    val got = df.collect().map(_.getLong(0))
    assert(got.length == 7 && got.forall(_ > 50))
  }

  test("limit pushdown caps each split without dropping later splits' rows") {
    // many tiny splits: per-split limit 3 emits up to 3 rows per split,
    // but a global collect (no Spark limit) must still see every row —
    // guard that isPartiallyPushed=true keeps correctness when the
    // pushed limit exceeds no split's row count
    val dir = writeTsv((1 to 40).map(i => s"$i\tn$i\t$i.5\tx$i"))
    val full = spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(schema).option("path", dir).option("split_bytes", "64")
      .load().limit(1000).collect()
    assert(full.length == 40)
  }

  test("topN pushdown: per-split heaps bound scan output; results exact incl. ties/nulls/desc") {
    // 4th column (note) sometimes NULL to exercise null placement
    val dir = writeTsv((1 to 120).map(i =>
      s"$i\tn${i % 7}\t${(i % 40)}.5\t${if (i % 11 == 0) "" else s"x$i"}"))
    def scan(extra: (String, String)*) = {
      val base = spark.read.format(classOf[TsvSourceProvider].getName)
        .schema(schema).option("path", dir)
      extra.foldLeft(base)((b, kv) => b.option(kv._1, kv._2)).load()
    }
    // many tiny splits so the per-split cap is observable
    val df = scan("split_bytes" -> "128")
      .orderBy(col("score").desc, col("id")).limit(5)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedTopN: ORDER BY [score DESC NULLS LAST, id ASC NULLS FIRST] LIMIT 5"),
      s"topN must reach the source:\n$plan")
    // exactness vs an unpushable baseline (expression key declines push)
    val got = df.collect().map(r => (r.getLong(0), r.getDouble(2)))
    val baseline = scan()
      .orderBy((col("score") * 1.0).desc, col("id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(!scan().orderBy((col("score") * 1.0).desc, col("id")).limit(5)
      .queryExecution.executedPlan.toString.contains("PushedTopN"),
      "expression sort keys must decline the push")
    assert(got.sameElements(baseline))
    // ascending with nulls: note asc puts NULLS FIRST by default —
    // the four null-note rows with smallest ids (11k multiples) win
    val asc = scan().orderBy(col("note"), col("id")).limit(4)
      .collect().map(r => (r.getLong(0), Option(r.getString(3))))
    assert(asc.map(_._1).sameElements(Array(11L, 22L, 33L, 44L)) &&
      asc.forall(_._2.isEmpty), asc.mkString(","))
    // PAGINATION rides the same push: Spark folds LIMIT n OFFSET m into
    // pushTopN(n + m) itself (SupportsPushDownOffset is never consulted
    // for a partially-pushed sorted limit — probed empirically), the
    // per-split heads widen to n + m, and the retained global
    // sort+offset finishes exactly
    val page = scan("split_bytes" -> "128")
      .orderBy(col("score").desc, col("id")).offset(5).limit(10)
    assert(page.queryExecution.executedPlan.toString.contains("LIMIT 15"),
      "offset must widen the pushed top-N")
    val all = scan().orderBy(col("score").desc, col("id")).collect()
      .map(_.getLong(0))
    assert(page.collect().map(_.getLong(0)).sameElements(all.slice(5, 15)))
    // the scan's output is bounded by splits × n, not the table size
    import org.apache.spark.sql.execution.SparkPlan
    df.collect()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: nodes(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val scanNode = nodes(df.queryExecution.executedPlan).collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    val out = scanNode.metrics("numOutputRows").value
    assert(out < 120, s"scan must emit per-split heads, not the table ($out)")
  }

  test("column pruning: projecting one column still parses filter columns only as needed") {
    val dir = writeTsv(Seq("1\ta\t1.5\tn1", "2\tb\tnot_a_number\tn2"))
    // score is malformed on row 2, but a projection that never touches
    // score must not fail — proof the reader skips unparsed columns
    val names = readTsv(dir).select("name").orderBy("name")
      .collect().map(_.getString(0)).toSeq
    assert(names == Seq("a", "b"))
  }

  test("reported statistics reflect pruning and make a small TSV dim broadcast (VERDICT r12 item 5)") {
    val dir = writeTsv((1 to 200).map(i => s"$i\tn$i\t${i % 7}.25\tx$i"))
    val diskBytes = new java.io.File(dir).listFiles()
      .filter(_.isFile).map(_.length()).sum
    // the pruned relation's logical stats must be the scan's estimate:
    // on-disk bytes scaled by the 1-of-4 projected-column fraction
    val pruned = readTsv(dir).select("id")
    val scanStats = pruned.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes.toLong)
    assert(scanStats == Seq(math.ceil(diskBytes / 4.0).toLong),
      s"expected pruned-size stats, got $scanStats (disk $diskBytes)")
    // and those stats must DRIVE planning: the big side's known size
    // (24 MB > autoBroadcastJoinThreshold) rules it out, so the TSV dim
    // broadcasts only because its reported size is visibly tiny —
    // without SupportsReportStatistics a DSv2 relation is "unknown =
    // huge" and this join sort-merges
    val big = spark.range(0, 3000000).withColumnRenamed("id", "k")
    val j = big.join(readTsv(dir).select(col("id")), col("k") === col("id"))
    j.collect() // finalize AQE
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small TSV dim must broadcast under reported stats:\n$plan")
    val bcastIdx = plan.indexOf("BroadcastExchange")
    assert(bcastIdx >= 0 && plan.indexOf("BatchScan graft_tsv", bcastIdx) > bcastIdx,
      s"the TSV side must be the broadcast side:\n$plan")
  }

  private val keyedSchema = StructType.fromDDL(
    "id BIGINT, name STRING, score DOUBLE, note STRING, shard BIGINT")

  private def writeKeyedTsv(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_tsv_keyed").toString
    for (v <- 0 to 2) {
      val d = java.nio.file.Paths.get(root, s"shard=$v")
      java.nio.file.Files.createDirectory(d)
      val lines = (1 to 30).filter(_ % 3 == v).map(i =>
        s"$i\tn$i\t$i.5\tx$i")
      java.nio.file.Files.write(d.resolve("part-00000.txt"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    root
  }

  private def readKeyed(dir: String, extra: (String, String)*) = {
    val r = spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(keyedSchema).option("path", dir).option("partition_col", "shard")
    extra.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
  }

  test("keyed layout synthesizes the partition column from the directory name") {
    val dir = writeKeyedTsv()
    val rows = readKeyed(dir).orderBy("id").collect()
    assert(rows.length == 30)
    assert(rows.forall(r => r.getLong(4) == r.getLong(0) % 3),
      "shard must equal the directory's value for every row")
    // projecting ONLY the synthesized column works (no file field read)
    val shards = readKeyed(dir).select("shard").collect().map(_.getLong(0))
    assert(shards.length == 30 && shards.toSet == Set(0L, 1L, 2L))
  }

  test("keyed layout: partition-col predicates prune directories statically (exact, fewer splits)") {
    val dir = writeKeyedTsv()
    val q = readKeyed(dir).filter(col("shard") === 1 && col("id") >= 10)
      .select("id", "shard")
    val plan = q.queryExecution.executedPlan.toString
    // the key predicate prunes at LISTING time (PushedPartitionFilters),
    // it never becomes a reader-bound data filter — readers can't index
    // the synthesized column
    assert(plan.contains("PushedPartitionFilters: [EqualTo(shard,1)"),
      s"shard predicates must surface as partition pruning:\n$plan")
    assert(!plan.replaceAll(
      "PushedPartitionFilters: \\[[^\\]]*\\]", "").contains("EqualTo(shard"),
      s"shard predicates must NOT appear in the data PushedFilters:\n$plan")
    assert(plan.contains("GreaterThanOrEqual(id,10)"),
      s"file-column predicates must still push:\n$plan")
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (10 to 30).filter(_ % 3 == 1).map(_.toLong),
      s"unexpected rows: $got")
    // pruning is physical: only shard=1's file plans splits
    val pruned = new TsvScan(keyedSchema, keyedSchema, Array.empty, dir,
      1L << 20, -1, TsvLayout.of(keyedSchema, Some("shard")),
      keyFilters = Array(org.apache.spark.sql.sources.EqualTo("shard", 1L)))
      .planInputPartitions()
    assert(pruned.length == 1 &&
      pruned.head.asInstanceOf[TsvKeyedInputPartition].value == "1",
      s"expected one shard=1 split, got ${pruned.toSeq}")
    // range and set shapes evaluate exactly on the dir key
    assert(readKeyed(dir).filter(col("shard") >= 1).count() == 20)
    assert(readKeyed(dir).filter(col("shard").isin(0, 2)).count() == 20)
  }

  test("keyed layout: a non-BIGINT key directory fails planning and DELETE, naming dir, column and path") {
    val dir = writeKeyedTsv()
    new java.io.File(dir, "shard=tmp").mkdir()
    val layout = TsvLayout.of(keyedSchema, Some("shard"))
    def check(e: IllegalArgumentException): Unit =
      assert(e.getMessage.contains("'shard=tmp'") &&
        e.getMessage.contains("partition column shard") &&
        e.getMessage.contains(dir), e.getMessage)
    check(intercept[IllegalArgumentException] {
      new TsvScan(keyedSchema, keyedSchema, Array.empty, dir, 1L << 20, -1,
        layout).planInputPartitions()
    })
    check(intercept[IllegalArgumentException] {
      new TsvTable(keyedSchema, dir, layout).deleteWhere(
        Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.EqualTo("shard", 1L)))
    })
  }

  test("keyed layout: byte-range splits group back into key partitions, results exact") {
    val dir = writeKeyedTsv()
    // tiny splits force several TsvKeyedInputPartitions per file — but
    // the reported KeyGroupedPartitioning makes Spark GROUP them by
    // key, so the RDD must come out with exactly one partition per key
    // (the contract a storage-partitioned join relies on)
    val small = readKeyed(dir, "split_bytes" -> "16")
    assert(small.rdd.getNumPartitions == 3,
      "splits must group into one partition per key")
    assert(small.orderBy("id").collect().toSeq ==
      readKeyed(dir).orderBy("id").collect().toSeq)
  }

  test("keyed layout rejects a non-BIGINT or unknown partition column at plan time") {
    val dir = writeKeyedTsv()
    def readWith(c: String) =
      spark.read.format(classOf[TsvSourceProvider].getName)
        .schema(keyedSchema).option("path", dir).option("partition_col", c)
        .load()
    // STRING keys are supported; an unparseable-as-directory-key type
    // (DOUBLE) still refuses at plan time
    val e1 = intercept[IllegalArgumentException](readWith("score").collect())
    assert(e1.getMessage.contains("must be BIGINT or STRING"))
    val e2 = intercept[IllegalArgumentException](readWith("nope").collect())
    assert(e2.getMessage.contains("not in schema"))
  }

  test("STRING keyed layout: synthesis, exact IN-pruning, range residual, writer routing + hostile refusal") {
    val root = java.nio.file.Files.createTempDirectory("graft_tsv_sk").toString
    val sSchema = StructType.fromDDL("id BIGINT, v DOUBLE, country STRING")
    val fmt = classOf[TsvSourceProvider].getName
    // writer routes rows into <col>=<text>/ dirs (dir name carries the
    // key verbatim, including a SPACE)
    val df = spark.createDataFrame(Seq(
      (1L, 1.5, "US"), (2L, 2.5, "US"), (3L, 3.5, "de x"),
      (4L, 4.5, "jp"), (5L, 5.5, "jp")))
      .toDF("id", "v", "country")
    df.write.format(fmt).option("path", root)
      .option("write_schema", "id BIGINT, v DOUBLE, country STRING")
      .option("partition_col", "country").mode("append").save()
    val dirs = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.toSeq == Seq("country=US", "country=de x", "country=jp"),
      s"string keys must encode verbatim: ${dirs.mkString(",")}")
    def readK = spark.read.format(fmt).schema(sSchema)
      .option("path", root).option("partition_col", "country").load()
    // the key column synthesizes back from the directory name
    assert(readK.orderBy("id").collect().map(_.getString(2)).toSeq ==
      Seq("US", "US", "de x", "jp", "jp"))
    // equality/IN prune physically (split planning never lists pruned
    // dirs); ranges are declined and stay exact via Spark's residual
    val pruned = new TsvScan(sSchema, sSchema, Array.empty, root,
      1L << 20, -1, TsvLayout.of(sSchema, Some("country")),
      keyFilters = Array(org.apache.spark.sql.sources.In("country",
        Array[Any]("US", "de x"))))
      .planInputPartitions()
    assert(pruned.map(_.asInstanceOf[TsvKeyedInputPartition].value)
      .toSet == Set("US", "de x"), s"IN must prune dirs: ${pruned.toSeq}")
    assert(readK.filter(col("country") > "d").count() == 3) // de x, jp, jp
    val plan = readK.filter(col("country") === "jp")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedPartitionFilters"),
      s"string equality must show as a pushed partition filter:\n$plan")
    // a path-hostile key refuses the write loudly; the store stays clean
    val bad = spark.createDataFrame(Seq((9L, 9.0, "a/b")))
      .toDF("id", "v", "country")
    intercept[Exception] {
      bad.write.format(fmt).option("path", root)
        .option("write_schema", "id BIGINT, v DOUBLE, country STRING")
        .option("partition_col", "country").mode("append").save()
    }
    assert(readK.count() == 5, "a refused write must leave no rows behind")
  }

  // ---- partition delete (SupportsDelete contract) ----

  private def deletableLayout(): String = {
    val root = java.nio.file.Files.createTempDirectory("graft_tsv_del").toString
    for (v <- 0 to 3) {
      val d = java.nio.file.Paths.get(root, s"shard=$v")
      java.nio.file.Files.createDirectory(d)
      java.nio.file.Files.write(d.resolve("part-0.txt"),
        (0 until 3).map(i => s"${v * 10 + i}\tn$v\t1.5\tx")
          .mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    root
  }

  private val delSchema = StructType.fromDDL(
    "id BIGINT, name STRING, score DOUBLE, shard BIGINT")

  private def loadDeletable(root: String) = spark.read
    .format(classOf[TsvSourceProvider].getName)
    .schema(delSchema).option("path", root)
    .option("partition_col", "shard").load()

  test("DELETE on the partition column drops whole directories; data-column DELETE is refused") {
    val root = deletableLayout()
    loadDeletable(root).createOrReplaceTempView("graft_del_v")
    spark.sql("DELETE FROM graft_del_v WHERE shard IN (1, 3)")
    assert(loadDeletable(root).select("shard").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 2L))
    assert(!new java.io.File(root, "shard=1").exists() &&
      new java.io.File(root, "shard=0").exists())
    // a data-column predicate cannot map to partition drops: the
    // statement must FAIL (canDeleteWhere=false), never half-apply
    val e = intercept[Exception] {
      spark.sql("DELETE FROM graft_del_v WHERE id = 21")
    }
    assert(e.getMessage.toLowerCase.contains("delete"),
      s"expected a delete-refusal error, got: ${e.getMessage}")
    assert(loadDeletable(root).count() == 6, "refused DELETE must change nothing")
    spark.catalog.dropTempView("graft_del_v")
  }

  test("DELETE without WHERE truncates every partition; IN () deletes nothing") {
    val root = deletableLayout()
    loadDeletable(root).createOrReplaceTempView("graft_del_t")
    // the empty-IN edge first (while data still exists): no-op
    val table = new TsvTable(delSchema, root,
      TsvLayout.of(delSchema, Some("shard")))
    table.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("shard", Array.empty)))
    assert(loadDeletable(root).count() == 12, "IN () must delete nothing")
    spark.sql("DELETE FROM graft_del_t")
    assert(new java.io.File(root).listFiles()
      .count(_.getName.startsWith("shard=")) == 0,
      "truncate must drop every partition directory")
    spark.catalog.dropTempView("graft_del_t")
  }

  // ---- metadata columns (SupportsMetadataColumns contract) ----

  test("_file/_pos materialize only when referenced; _pos is the line-start byte offset") {
    // line lengths chosen so offsets are easy to state exactly:
    // "1\ta\t1.0\tx\n" = 10 bytes, "22\tbb\t2.5\tyy\n" = 13 bytes
    val dir = writeTsv(Seq("1\ta\t1.0\tx", "22\tbb\t2.5\tyy", "3\tc\t3.0\tz"))
    val df = readTsv(dir)
    // hidden: select * must NOT include the metadata columns
    assert(df.columns.toSeq == Seq("id", "name", "score", "note"))
    val rows = df.select(col("id"), col("_pos"), col("_file"))
      .orderBy("id").collect()
    // id order is 1, 3, 22 — their lines start at bytes 0, 23, 10
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 23L, 10L),
      "_pos must be each line's first-byte offset")
    assert(rows.map(_.getString(2)).distinct.toSeq.length == 1 &&
      rows.head.getString(2).endsWith("part-00000.txt"))
    // and offsets survive byte-range splitting (split mid-file)
    val split = spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(schema).option("path", dir).option("split_bytes", "11").load()
      .select(col("id"), col("_pos")).orderBy("id").collect()
    assert(split.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 0L), (3L, 23L), (22L, 10L)).sortBy(_._1),
      "split readers must report absolute file offsets")
  }

  test("a data column named _pos shadows the metadata column") {
    val shadowSchema = StructType.fromDDL(
      "id BIGINT, _pos BIGINT, score DOUBLE, note STRING")
    val dir = writeTsv(Seq("1\t77\t1.0\tx"))
    val r = spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(shadowSchema).option("path", dir).load()
      .select(col("id"), col("_pos")).collect().head
    assert(r.getLong(1) == 77L,
      "the DATA column must win over the metadata column")
  }

  // ---- micro-batch stream: versioned offsets + admission control ----

  import org.apache.spark.sql.connector.read.streaming.ReadLimit

  private def mkStream(dir: String, cp: String,
      limits: TsvStreamLimits = TsvStreamLimits.none) =
    new TsvMicroBatchStream(schema, schema, Array.empty, dir, 1L << 20,
      TsvLayout.Flat, Array.empty, limits, cp)

  private def addShard(dir: String, name: String, ids: Range): Unit = {
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, name),
      (ids.map(i => s"$i\tn$i\t$i.5\tx$i").mkString("\n") + "\n")
        .getBytes("UTF-8"))
    ()
  }

  private def batchFiles(
      s: graft.sources.TsvMicroBatchStream,
      from: org.apache.spark.sql.connector.read.streaming.Offset,
      to: org.apache.spark.sql.connector.read.streaming.Offset): Seq[String] =
    s.planInputPartitions(from, to)
      .map(_.asInstanceOf[TsvInputPartition].file).distinct.sorted.toSeq

  test("stream offset payload is O(1): growing the store does not grow the offset JSON") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    addShard(dir, "part-00000.txt", 1 to 10)
    val s1 = mkStream(dir, cp)
    val o0 = s1.initialOffset()
    val o1 = s1.latestOffset(o0, ReadLimit.allAvailable())
    val size1 = o1.json().length
    // grow the store 50×: the offset payload must NOT grow with it
    (1 to 50).foreach(i => addShard(dir, f"part-$i%05d.txt", 1 to 5))
    val o2 = s1.latestOffset(o1, ReadLimit.allAvailable())
    assert(o2.json().length <= size1 + 2, // digits, not file lists
      s"offset payload must stay O(1): ${o2.json()}")
    assert(batchFiles(s1, o1, o2).length == 50)
    // the delta defines the batch, and a replay plans the IDENTICAL one
    assert(batchFiles(s1, o0, o1) == batchFiles(s1, o0, o1))
    assert(batchFiles(s1, o1, o2) == batchFiles(s1, o1, o2))
    // restart: a fresh stream over the same checkpoint replays the same
    // batch from the log and sees nothing new
    val s2 = mkStream(dir, cp)
    val o2b = s2.deserializeOffset(o2.json())
    assert(batchFiles(s2, s2.deserializeOffset(o1.json()), o2b) ==
      batchFiles(s1, o1, o2))
    val o3 = s2.latestOffset(o2b, ReadLimit.allAvailable())
    assert(o3.json() == o2b.json(), "no new files → offset must not advance")
  }

  test("admission control bounds each version; availableNow pins the drain frontier") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    (0 until 10).foreach(i => addShard(dir, f"part-$i%05d.txt", 1 to 4))
    val s1 = mkStream(dir, cp,
      TsvStreamLimits(maxFiles = Some(4), maxBytes = None))
    assert(s1.getDefaultReadLimit.toString.toLowerCase.contains("file"))
    // a cold start over 10 files at 4/trigger drains in 3 bounded
    // batches: 4 + 4 + 2 — never one table-sized batch
    var off = s1.initialOffset()
    val sizes = scala.collection.mutable.Buffer.empty[Int]
    var advancing = true
    while (advancing) {
      val next = s1.latestOffset(off, s1.getDefaultReadLimit)
      if (next.json() == off.json()) advancing = false
      else { sizes += batchFiles(s1, off, next).length; off = next }
    }
    assert(sizes.toSeq == Seq(4, 4, 2), s"bounded drain, got $sizes")
    // maxBytes admits at least one file even when a single shard
    // exceeds the budget (progress beats starvation)
    val cp2 = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    val s2 = mkStream(dir, cp2)
    val tiny = s2.latestOffset(s2.initialOffset(), ReadLimit.maxBytes(1L))
    assert(batchFiles(s2, s2.initialOffset(), tiny).length == 1)
    // AvailableNow: the frontier is pinned at prepare — files landing
    // mid-drain are NOT admitted by this run
    val cp3 = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    val s3 = mkStream(dir, cp3,
      TsvStreamLimits(maxFiles = Some(6), maxBytes = None))
    s3.prepareForTriggerAvailableNow()
    val a1 = s3.latestOffset(s3.initialOffset(), s3.getDefaultReadLimit)
    addShard(dir, "part-late.txt", 1 to 3) // lands mid-drain
    val a2 = s3.latestOffset(a1, s3.getDefaultReadLimit)
    val a3 = s3.latestOffset(a2, s3.getDefaultReadLimit)
    assert(a3.json() == a2.json(), "drain must stop at the prepared frontier")
    assert((batchFiles(s3, s3.initialOffset(), a1) ++
      batchFiles(s3, a1, a2)).length == 10,
      "the drain must cover exactly the prepared files")
    assert(!batchFiles(s3, a1, a2).exists(_.contains("part-late")),
      "a file landing mid-drain must wait for the next run")
  }

  test("keyed stream: statically pruned dirs never enter offsets; admission and keys compose") {
    val dir = writeKeyedTsv() // shard=0/1/2, one file each
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    val s1 = new TsvMicroBatchStream(keyedSchema, keyedSchema,
      Array.empty, dir, 1L << 20, TsvLayout.of(keyedSchema, Some("shard")),
      Array(org.apache.spark.sql.sources.GreaterThanOrEqual("shard", 1L)),
      TsvStreamLimits(maxFiles = Some(1), maxBytes = None), cp)
    var off = s1.initialOffset()
    val perBatch = scala.collection.mutable.Buffer
      .empty[Seq[org.apache.spark.sql.connector.read.InputPartition]]
    var advancing = true
    while (advancing) {
      val next = s1.latestOffset(off, s1.getDefaultReadLimit)
      if (next.json() == off.json()) advancing = false
      else { perBatch += s1.planInputPartitions(off, next).toSeq; off = next }
    }
    // shard=0 is pruned BEFORE any offset exists: two bounded batches
    // (one file each), keys synthesized from the logged paths' parents
    assert(perBatch.length == 2, s"expected 2 bounded batches, got $perBatch")
    val keys = perBatch.flatten
      .map(_.asInstanceOf[TsvKeyedInputPartition].value).sorted
    assert(keys == Seq("1", "2"), s"pruned stream must only admit " +
      s"shard>=1 dirs, got $keys")
    // the seen-files log never learned the pruned dir's file either
    val logged = new java.io.File(cp, "graft_tsv_seen").listFiles()
      .filter(_.getName.forall(_.isDigit))
      .flatMap(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8").split("\""))
    assert(!logged.exists(_.contains("shard=0")),
      "a pruned dir's files must never enter the log")
  }

  test("crash-recovery: an orphan log version drains as its own bounded batch (no 2x admission)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    (0 until 6).foreach(i => addShard(dir, f"part-$i%05d.txt", 1 to 3))
    val limits = TsvStreamLimits(maxFiles = Some(2), maxBytes = None)
    val s1 = mkStream(dir, cp, limits)
    val v0 = s1.initialOffset()
    val v1 = s1.latestOffset(v0, s1.getDefaultReadLimit) // delta 1 written
    assert(batchFiles(s1, v0, v1).length == 2)
    // simulate a crash BETWEEN the delta write and Spark's offset-WAL
    // write: a fresh stream replays the log (latestVersion = 1) but
    // Spark's recovery hands start = v0. The source must return v1
    // WITHOUT admitting more files — otherwise the recovered batch
    // spans two versions and admits up to 2x the bound.
    val s2 = mkStream(dir, cp, limits)
    val r1 = s2.latestOffset(s2.deserializeOffset(v0.json()),
      s2.getDefaultReadLimit)
    assert(r1.json() == v1.json(),
      s"orphan version must drain as its own batch, got ${r1.json()}")
    assert(batchFiles(s2, s2.deserializeOffset(v0.json()), r1).length == 2,
      "the recovered batch must be exactly the orphan delta")
    assert(!new java.io.File(new java.io.File(cp, "graft_tsv_seen"), "2")
      .isFile, "no new delta may be written while an orphan is pending")
    // the NEXT call resumes normal bounded admission
    val r2 = s2.latestOffset(r1, s2.getDefaultReadLimit)
    assert(batchFiles(s2, r1, r2).length == 2)
  }

  test("non-local schemes are refused loudly at table, stream, and catalog construction") {
    // table path: s3a:// would silently become a bogus local dir
    val e1 = intercept[IllegalArgumentException] {
      spark.read.format(classOf[TsvSourceProvider].getName)
        .schema(schema).option("path", "s3a://bucket/tbl").load().collect()
    }
    assert(e1.getMessage.contains("s3a"), e1.getMessage)
    // checkpointLocation: the realistic deployment case — the
    // seen-files log dir derives from it, so an hdfs:// checkpoint
    // must refuse at stream construction, not misplace the log
    val dir = writeTsv(Seq("1\ta\t1.0\tx"))
    val e2 = intercept[IllegalArgumentException] {
      mkStream(dir, "hdfs://nn:8020/checkpoints/q")
    }
    assert(e2.getMessage.contains("hdfs"), e2.getMessage)
    // catalog root
    val cat = new GraftTsvCatalog
    val e3 = intercept[IllegalArgumentException] {
      cat.initialize("bad_root", new org.apache.spark.sql.util
        .CaseInsensitiveStringMap(
          java.util.Collections.singletonMap("root", "s3a://bucket/root")))
    }
    assert(e3.getMessage.contains("s3a"), e3.getMessage)
    // file: URIs and plain local paths still resolve
    assert(spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(schema).option("path", "file:" + dir).load().count() == 1)
  }

  test("seen-files log compacts, prunes old deltas, and fails loudly past retention") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    val s1 = mkStream(dir, cp,
      TsvStreamLimits(maxFiles = Some(1), maxBytes = None))
    // 25 versions of one file each → compacts at 10 and 20, deltas ≤ 10
    // pruned after the second compact
    (0 until 25).foreach(i => addShard(dir, f"part-$i%05d.txt", 1 to 2))
    var off = s1.initialOffset()
    (1 to 25).foreach { _ =>
      off = s1.latestOffset(off, s1.getDefaultReadLimit)
    }
    val log = new java.io.File(cp, "graft_tsv_seen")
    val names = log.listFiles().map(_.getName).toSet
    assert(names.contains("20.compact") && !names.contains("10.compact"),
      s"only the newest compact survives (older are dead weight): $names")
    assert(!names.contains("5") && names.contains("15") && names.contains("25"),
      s"deltas at or below the previous compact must be pruned: $names")
    // restart recovery from compact + deltas: the full seen-set is back
    val s2 = mkStream(dir, cp)
    val o25 = s2.deserializeOffset("""{"v":25}""")
    assert(s2.latestOffset(o25, ReadLimit.allAvailable()).json() == o25.json(),
      "recovered stream must know all 25 files are seen")
    // a recent replay works; one past the pruned window fails loudly
    assert(batchFiles(s2, s2.deserializeOffset("""{"v":24}"""), o25).length == 1)
    val e = intercept[IllegalStateException] {
      s2.planInputPartitions(
        s2.deserializeOffset("""{"v":2}"""),
        s2.deserializeOffset("""{"v":3}"""))
    }
    assert(e.getMessage.contains("exactly-once"), e.getMessage)
  }

  test("restart mid-drain recovers from a compact + deltas and finishes the drain exactly-once") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    (0 until 30).foreach(i => addShard(dir, f"part-$i%05d.txt", 1 to 2))
    val limits = TsvStreamLimits(maxFiles = Some(2), maxBytes = None)
    val s1 = mkStream(dir, cp, limits)
    // drive 12 bounded versions: the log compacts at 10, so the
    // checkpoint now holds 10.compact + deltas 11,12 — the recovery
    // shape a mid-drain kill leaves behind
    var off = s1.initialOffset()
    val firstRun = scala.collection.mutable.Buffer.empty[String]
    (1 to 12).foreach { _ =>
      val next = s1.latestOffset(off, s1.getDefaultReadLimit)
      firstRun ++= batchFiles(s1, off, next); off = next
    }
    assert(new java.io.File(new java.io.File(cp, "graft_tsv_seen"),
      "10.compact").isFile, "the kill point must sit past a compaction")
    // "crash": a fresh stream over the same checkpoint rebuilds seen
    // from the compact + following deltas, then finishes the drain in
    // bounded batches — every file exactly once across both runs
    val s2 = mkStream(dir, cp, limits)
    var off2: org.apache.spark.sql.connector.read.streaming.Offset =
      s2.deserializeOffset(off.json())
    val secondRun = scala.collection.mutable.Buffer.empty[String]
    var advancing = true
    while (advancing) {
      val next = s2.latestOffset(off2, s2.getDefaultReadLimit)
      if (next.json() == off2.json()) advancing = false
      else { secondRun ++= batchFiles(s2, off2, next); off2 = next }
    }
    assert(secondRun.size == 6 && secondRun.forall(_.nonEmpty),
      s"resume must drain the remaining 6 bounded batches")
    val all = firstRun ++ secondRun
    assert(all.size == 30 && all.distinct.size == 30,
      s"exactly-once across the restart: ${all.size} files, " +
        s"${all.distinct.size} distinct")
  }

  test("maxFileAgeMs: files past the retention horizon are ignored and expire from the seen-set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    val now = System.currentTimeMillis()
    addShard(dir, "part-old.txt", 1 to 2)
    new java.io.File(dir, "part-old.txt").setLastModified(now - 60_000L)
    (0 until 12).foreach { i =>
      addShard(dir, f"part-$i%05d.txt", 1 to 2)
      new java.io.File(dir, f"part-$i%05d.txt").setLastModified(now)
    }
    val s1 = mkStream(dir, cp, TsvStreamLimits(maxFiles = Some(1),
      maxBytes = None, maxFileAgeMs = Some(10_000L)))
    var off = s1.initialOffset()
    val admitted = scala.collection.mutable.Buffer.empty[String]
    var advancing = true
    while (advancing) {
      val next = s1.latestOffset(off, s1.getDefaultReadLimit)
      if (next.json() == off.json()) advancing = false
      else { admitted ++= batchFiles(s1, off, next); off = next }
    }
    assert(admitted.size == 12 && !admitted.exists(_.contains("part-old")),
      s"a file past the horizon must never be admitted: $admitted")
    // 12 versions → compacted at 10; the compact snapshot carries only
    // in-horizon entries (bounded driver memory on an appending store)
    val compact = new java.io.File(new java.io.File(cp, "graft_tsv_seen"),
      "10.compact")
    assert(compact.isFile)
    val snapshot = new String(
      java.nio.file.Files.readAllBytes(compact.toPath), "UTF-8")
    assert(!snapshot.contains("part-old"),
      s"expired entries must prune from the compact: $snapshot")
  }

  test("offset log at high file count: O(1) offsets, O(new) deltas, bounded log footprint") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_mb").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_tsv_cp").toString
    val nFiles = 20000
    (0 until nFiles).foreach { i =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, f"part-$i%06d.txt"),
        s"$i\tn$i\t1.5\tx\n".getBytes("UTF-8"))
      ()
    }
    val s1 = mkStream(dir, cp,
      TsvStreamLimits(maxFiles = Some(2000), maxBytes = None))
    var off = s1.initialOffset()
    var triggers = 0
    val wall = scala.collection.mutable.Buffer.empty[Long]
    var advancing = true
    while (advancing) {
      val t0 = System.nanoTime()
      val next = s1.latestOffset(off, s1.getDefaultReadLimit)
      wall += (System.nanoTime() - t0) / 1000000
      if (next.json() == off.json()) advancing = false
      else {
        // offset payload: one integer, regardless of 20k-file store
        assert(next.json().length < 16, s"offset grew: ${next.json()}")
        triggers += 1; off = next
      }
    }
    assert(triggers == 10, s"20k files at 2000/trigger = 10 batches, got $triggers")
    val log = new java.io.File(cp, "graft_tsv_seen")
    val names = log.listFiles().map(_.getName)
    // compaction kept the footprint bounded: one live compact + the
    // post-compact deltas, never 10 full-store snapshots
    assert(names.count(_.endsWith(".compact")) == 1,
      s"exactly one live compact: ${names.sorted.mkString(",")}")
    assert(names.count(n => n.forall(_.isDigit)) <= 11,
      s"pruned deltas must not accumulate: ${names.length} files")
    // a delta is O(admitted batch), not O(store): ~2000 paths each
    val d = new java.io.File(log, "1")
    val delta1 = new String(
      java.nio.file.Files.readAllBytes(d.toPath), "UTF-8")
    assert(delta1.count(_ == ',') < 2000,
      "a delta must carry one batch, not the store listing")
    info(s"latestOffset wall per trigger at ${nFiles} files: " +
      s"${wall.mkString(", ")} ms")
  }

  // ---- write path (SupportsWrite: task-commit protocol) ----

  private def writeFrame(rows: Seq[(Long, String, java.lang.Double, String)]) =
    spark.createDataFrame(rows).toDF("id", "name", "score", "note")

  private val writeDdl =
    "id BIGINT, name STRING, score DOUBLE, note STRING"

  private def sinkTo(df: org.apache.spark.sql.DataFrame, dir: String,
      mode: String): Unit =
    df.write.format(classOf[TsvSourceProvider].getName)
      .option("path", dir).option("write_schema", writeDdl)
      .mode(mode).save()

  test("sink round-trips values byte-exact, including NULL fields") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_sink").toString
    val df = writeFrame(Seq((1L, "alice", 2.5, "x"),
      (2L, null, 3.25, null), (3L, "has \"quotes\"", -0.75, "y")))
    sinkTo(df, dir, "overwrite")
    val back = readTsv(dir).orderBy("id").collect()
    assert(back.length == 3)
    assert(back(1).isNullAt(1) && back(1).isNullAt(3))
    assert(back(2).getString(1) == "has \"quotes\"")
    assert(back.map(_.getDouble(2)).toSeq == Seq(2.5, 3.25, -0.75))
    // commit hygiene: no _temporary residue, only data files visible
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(!names.exists(_.startsWith("_temporary")),
      s"temp dir must be removed at commit: ${names.toSeq}")
    assert(names.forall(_.startsWith("part-")), names.toSeq.toString)
  }

  test("sink compression=gzip: .txt.gz shards, one read split each, mixed with plain appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_sink").toString
    val rows = (1 to 40).map(i =>
      (i.toLong, s"n$i", java.lang.Double.valueOf(i + 0.5), s"note$i"))
    // archive tier: gzip write through the same task-commit protocol
    writeFrame(rows.take(20)).repartition(2)
      .write.format(classOf[TsvSourceProvider].getName)
      .option("path", dir).option("write_schema", writeDdl)
      .option("compression", "gzip").mode("overwrite").save()
    val gzNames = new java.io.File(dir).listFiles()
      .filter(_.isFile).map(_.getName).filterNot(_.startsWith("_"))
    assert(gzNames.length == 2 && gzNames.forall(_.endsWith(".txt.gz")),
      s"gzip write must land .txt.gz shards: ${gzNames.toSeq}")
    // hot tier: plain append into the SAME store
    sinkTo(writeFrame(rows.drop(20)).repartition(2), dir, "append")
    val got = readTsv(dir).orderBy("id").collect().toSeq
    val plain = readTsv(writeTsv(rows.map(r =>
      s"${r._1}\t${r._2}\t${r._3}\t${r._4}"))).orderBy("id").collect().toSeq
    assert(got == plain, "sink-gz + plain mixed store must equal one plain store")
    // sink-produced gz shards keep the read contract: ONE split each
    // even under tiny split_bytes, while plain appends byte-split
    val parts = new TsvScan(schema, schema, Array.empty,
      dir, 16L, -1).planInputPartitions()
    val byCodec = parts.collect { case p: TsvInputPartition => p }
      .partition(_.file.endsWith(".gz"))
    assert(byCodec._1.map(_.file).distinct.length == 2 &&
      byCodec._1.length == 2,
      s"each sink-written gz shard must plan exactly one split")
    assert(byCodec._2.length > 2, "plain appends must still byte-split")
    // overwrite truncates BOTH codecs (one store, one truncate rule)
    sinkTo(writeFrame(Seq((99L, "z", 9.0, "w"))), dir, "overwrite")
    assert(readTsv(dir).collect().map(_.getLong(0)).toSeq == Seq(99L))
    val refuse = intercept[IllegalArgumentException] {
      writeFrame(Seq((1L, "a", 1.0, "x"))).write
        .format(classOf[TsvSourceProvider].getName)
        .option("path", dir).option("write_schema", writeDdl)
        .option("compression", "zstd").mode("append").save()
    }
    assert(refuse.getMessage.contains("none|gzip"))
  }

  test("sink overwrite truncates previous data; append adds to it") {
    // two starting stores: empty, and one already holding a data file in
    // a `shard=1/` subdir — the flat read returns it, so a flat
    // overwrite must drop it too
    for (nested <- Seq(false, true)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_tsv_sink").toString
      if (nested) {
        val d = java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(dir, "shard=1"))
        java.nio.file.Files.write(d.resolve("part-00000.txt"),
          "5\te\t5.0\tv\n".getBytes("UTF-8"))
        assert(readTsv(dir).collect().map(_.getLong(0)).toSeq == Seq(5L))
      }
      sinkTo(writeFrame(Seq((1L, "a", 1.0, "x"), (2L, "b", 2.0, "y"))),
        dir, "overwrite")
      sinkTo(writeFrame(Seq((3L, "c", 3.0, "z"))), dir, "overwrite")
      assert(readTsv(dir).collect().map(_.getLong(0)).toSeq == Seq(3L),
        s"overwrite must clear the previous data files (nested=$nested)")
      sinkTo(writeFrame(Seq((4L, "d", 4.0, "w"))), dir, "append")
      assert(readTsv(dir).orderBy("id").collect().map(_.getLong(0)).toSeq ==
        Seq(3L, 4L), "append must keep the previous write's files")
    }
  }

  /** A sink target for each write layout: flat, and keyed on `id` (the
    * path API's `partition_col`), through the path API; bucketed on `id`
    * through a catalog table, the only way to declare one. */
  private final class SinkTarget(val layout: String, val dir: String,
      val write: (org.apache.spark.sql.DataFrame, String) => Unit,
      val read: () => org.apache.spark.sql.DataFrame)

  /** A fresh graft catalog with one namespace `ns`: (name, root dir). */
  private def freshCatalog(): (String, String) = {
    val cat = "graft_sink_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(10)
    val root = java.nio.file.Files.createTempDirectory("graft_tsv_cat").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftTsvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    (cat, root)
  }

  private def sinkTargets(): Seq[SinkTarget] = {
    def tmp() = java.nio.file.Files.createTempDirectory("graft_tsv_sink").toString
    val flat = tmp()
    val keyed = tmp()
    val (cat, root) = freshCatalog()
    val bucketed = s"$cat.ns.t"
    spark.sql(s"CREATE TABLE $bucketed ($writeDdl) PARTITIONED BY (bucket(4, id))")
    Seq(
      new SinkTarget("flat", flat, (df, mode) => sinkTo(df, flat, mode),
        () => readTsv(flat)),
      new SinkTarget("keyed", keyed,
        (df, mode) => df.write.format(classOf[TsvSourceProvider].getName)
          .option("path", keyed).option("write_schema", writeDdl)
          .option("partition_col", "id").mode(mode).save(),
        () => readKeyed(keyed, "id")),
      new SinkTarget("bucketed", s"$root/ns/t",
        (df, mode) =>
          if (mode == "overwrite") df.writeTo(bucketed).overwrite(lit(true))
          else df.writeTo(bucketed).append(),
        () => spark.table(bucketed)))
  }

  private def readKeyed(dir: String, keyCol: String) =
    spark.read.format(classOf[TsvSourceProvider].getName)
      .schema(schema).option("path", dir).option("partition_col", keyCol)
      .load()

  test("sink refuses framing bytes in strings and leaves the target clean") {
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    for (t <- sinkTargets()) {
      t.write(writeFrame(Seq((1L, "keep", 1.0, "x"))), "overwrite")
      val bad = writeFrame(Seq((2L, "tab\there", 2.0, "y")))
      val e = intercept[Exception] { t.write(bad, "append") }
      assert(causes(e).exists(_.getMessage != null) &&
        causes(e).exists(c => c.getMessage != null &&
          c.getMessage.contains("framing byte")),
        s"${t.layout}: expected the framing-byte refusal, got: $e")
      // the failed job aborted: original data intact, no new rows, no temp
      assert(t.read().collect().map(_.getLong(0)).toSeq == Seq(1L),
        s"${t.layout}: the aborted job must land no rows")
      assert(!new java.io.File(t.dir).listFiles()
        .exists(_.getName.startsWith("_temporary")),
        s"${t.layout}: abort must remove the temp dir")
    }
  }

  test("sink append from a fresh job never collides with an earlier job's files") {
    // taskIds restart at 0 in a new SparkContext: two jobs with the
    // SAME (partitionId, taskId) must still land as distinct files —
    // a shared name would make renameTo silently replace the first
    // job's data. Drive the write contract directly to pin it, for
    // every layout, each routing both jobs' rows into ONE directory
    // (keyed on the shared name, a single bucket).
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    for (layout <- Seq(TsvLayout.Flat, TsvLayout.of(schema, Some("name")),
        TsvLayout.Bucketed("id", 1))) {
      val dir = java.nio.file.Files.createTempDirectory("graft_tsv_sink").toString
      def writeJob(id: Long): Unit = {
        val bw = new TsvBatchWrite(schema, dir, layout, truncateFirst = false)
        val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
        w.write(InternalRow(id, UTF8String.fromString("n"), 1.5, null))
        val msg = w.commit()
        bw.commit(Array(msg))
      }
      writeJob(1L)
      writeJob(2L)
      // read back through a scan of the SAME layout value
      val batch = new TsvScanBuilder(schema, dir, 1L << 20, layout).build()
        .toBatch
      val readers = batch.createReaderFactory()
      val back = batch.planInputPartitions().toSeq.flatMap { p =>
        val r = readers.createReader(p)
        try Iterator.continually(r).takeWhile(_.next())
          .map(_.get().getLong(0)).toList
        finally r.close()
      }
      assert(back.sorted == Seq(1L, 2L),
        s"$layout: the second job must not replace the first job's file")
    }
  }

  test("sink write plans: flat adds no exchange or sort; keyed and bucketed cluster and sort") {
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.ns.flat ($writeDdl)")
    spark.sql(s"CREATE TABLE $cat.ns.keyed ($writeDdl) PARTITIONED BY (id)")
    spark.sql(s"CREATE TABLE $cat.ns.bucketed ($writeDdl) " +
      "PARTITIONED BY (bucket(4, id))")
    spark.range(20).selectExpr("id", "CAST(id AS STRING) AS name",
        "id * 0.5 AS score", "'x' AS note")
      .createOrReplaceTempView("graft_sink_plan_src")
    def plan(t: String) = spark.sql(
      s"EXPLAIN INSERT INTO $cat.ns.$t SELECT * FROM graft_sink_plan_src")
      .collect().head.getString(0)
    val flat = plan("flat")
    assert(flat.contains("AppendData") && !flat.contains("Exchange") &&
      !flat.contains("Sort"),
      s"a flat write must plan no exchange or sort:\n$flat")
    for (t <- Seq("keyed", "bucketed")) {
      val p = plan(t)
      assert(p.contains("Exchange hashpartitioning") && p.contains("Sort ["),
        s"a $t write must plan its clustered and sorted exchange:\n$p")
    }
  }

  // ---- runtime filtering (SupportsRuntimeFiltering contract) ----

  test("runtime filter() prunes whole key directories before partition planning") {
    import org.apache.spark.sql.sources.{EqualTo => SEq, In => SIn}
    val dir = writeKeyedTsv() // shards 0, 1, 2
    def freshScan() = new TsvScanBuilder(keyedSchema, dir,
      32L * 1024 * 1024, TsvLayout.of(keyedSchema, Some("shard"))).build()
      .asInstanceOf[TsvScan]
    val unfiltered = freshScan()
    assert(unfiltered.planInputPartitions().length == 3)
    val pruned = freshScan()
    pruned.filter(Array[org.apache.spark.sql.sources.Filter](SIn("shard", Array(0L, 2L))))
    val parts = pruned.planInputPartitions()
    assert(parts.length == 2, "two of three shard dirs must survive")
    assert(parts.collect { case p: TsvKeyedInputPartition => p.value }
      .toSet == Set("0", "2"))
    val eq = freshScan()
    eq.filter(Array[org.apache.spark.sql.sources.Filter](SEq("shard", 2L)))
    assert(eq.planInputPartitions().length == 1)
    // repeated delivery intersects (conservative — never widens)
    val twice = freshScan()
    twice.filter(Array[org.apache.spark.sql.sources.Filter](SIn("shard", Array(0L, 1L))))
    twice.filter(Array[org.apache.spark.sql.sources.Filter](SIn("shard", Array(1L, 2L))))
    assert(twice.planInputPartitions().length == 1)
    // unsupported shapes and non-partition columns are ignored, not
    // misapplied: the scan stays unpruned and Spark keeps its filter
    val ignored = freshScan()
    ignored.filter(Array[org.apache.spark.sql.sources.Filter](SIn("id", Array(1L))))
    assert(ignored.planInputPartitions().length == 3)
  }

  test("bucketed scan stats size only the buckets a pushed point lookup keeps") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val dir = java.nio.file.Files.createTempDirectory("graft_tsv_bks").toString
    val layout = TsvLayout.Bucketed("id", 4)
    val bw = new TsvBatchWrite(schema, dir, layout, truncateFirst = false)
    val w = bw.createBatchWriterFactory(null).createWriter(0, 0L)
    (1L to 40L).sortBy(TsvLayout.bucketOf(_, 4)).foreach(i =>
      w.write(InternalRow(i, UTF8String.fromString(s"n$i"), 1.5, null)))
    bw.commit(Array(w.commit()))
    def bytes(filters: org.apache.spark.sql.sources.Filter*): Long = {
      val b = new TsvScanBuilder(schema, dir, 1L << 20, layout)
      b.pushFilters(filters.toArray)
      b.build().asInstanceOf[TsvScan].estimateStatistics().sizeInBytes()
        .getAsLong
    }
    val all = bytes()
    val one = bytes(org.apache.spark.sql.sources.EqualTo("id", 7L))
    assert(one < all, s"a point lookup keeps one bucket of four: $one vs $all bytes")
  }

  test("only keyed and bucketed layouts offer runtime-filter attributes") {
    val plain = new TsvScanBuilder(schema,
      writeTsv(Seq("1\ta\t1.0\tx")), 1024L).build().asInstanceOf[TsvScan]
    assert(plain.filterAttributes().isEmpty)
    val keyed = new TsvScanBuilder(keyedSchema, writeKeyedTsv(),
      1024L, TsvLayout.of(keyedSchema, Some("shard"))).build()
      .asInstanceOf[TsvScan]
    assert(keyed.filterAttributes().map(_.describe()).toSeq == Seq("shard"))
    val bucketed = new TsvScanBuilder(schema,
      java.nio.file.Files.createTempDirectory("graft_tsv_bk").toString,
      1024L, TsvLayout.Bucketed("id", 4)).build().asInstanceOf[TsvScan]
    assert(bucketed.filterAttributes().map(_.describe()).toSeq == Seq("id"))
  }

  // ---- aggregate pushdown (SupportsPushDownAggregates, partial) ----

  private def aggFixture(): String = writeTsv((1 to 60).map { i =>
    val name = if (i % 10 == 0) "" else s"g${i % 3}" // some NULL groups
    val score = if (i % 7 == 0) "" else s"${i % 5}.5" // some NULL scores
    s"$i\t$name\t$score\tx"
  })

  test("aggregate pushdown: pushed plan equals the unpushed baseline, incl. null groups/inputs") {
    val dir = aggFixture()
    val pushed = readTsv(dir)
      .groupBy("name")
      .agg(count(lit(1)).as("n"), count(col("score")).as("n_score"),
        min(col("score")).as("min_s"), max(col("score")).as("max_s"),
        sum(col("id")).as("sum_id"))
    val plan = pushed.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT_STAR(*), COUNT(score), " +
      "MIN(score), MAX(score), SUM(id)]") &&
      plan.contains("PushedGroupBy: [name]"),
      s"expected the aggregation in the scan description:\n$plan")
    val baseline = spark.read.schema(schema).option("sep", "\t")
      .csv(dir + "/part-00000.txt")
      .groupBy("name")
      .agg(count(lit(1)).as("n"), count(col("score")).as("n_score"),
        min(col("score")).as("min_s"), max(col("score")).as("max_s"),
        sum(col("id")).as("sum_id"))
    assert(pushed.orderBy("name").collect().toSeq ==
      baseline.orderBy("name").collect().toSeq)
  }

  test("aggregate pushdown: per-split partials merge exactly across many byte splits") {
    val dir = aggFixture()
    val whole = readTsv(dir).groupBy("name")
      .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
      .orderBy("name").collect().toSeq
    for (sb <- Seq(16, 64, 257)) {
      val split = spark.read.format(classOf[TsvSourceProvider].getName)
        .schema(schema).option("path", dir)
        .option("split_bytes", sb.toString).load()
        .groupBy("name")
        .agg(sum(col("id")).as("s"), count(lit(1)).as("n"))
      assert(split.queryExecution.executedPlan.toString
        .contains("PushedAggregates"), s"pushdown lost at split_bytes=$sb")
      assert(split.orderBy("name").collect().toSeq == whole,
        s"split_bytes=$sb diverged")
    }
  }

  test("aggregate pushdown composes with fully-pushed filters; global (no-group) aggregates work") {
    val dir = aggFixture()
    val df = readTsv(dir).filter(col("id") > 20)
      .agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT_STAR(*), SUM(id)]") &&
      plan.contains("GreaterThan(id,20)"),
      s"filter + global aggregate must both push:\n$plan")
    val r = df.collect().head
    assert(r.getLong(0) == 40 && r.getLong(1) == (21 to 60).sum)
  }

  test("aggregate pushdown refuses DISTINCT and expression inputs (falls back, stays correct)") {
    val dir = aggFixture()
    val distinct = readTsv(dir).groupBy("name")
      .agg(countDistinct(col("score")).as("d"))
    assert(!distinct.queryExecution.executedPlan.toString
      .contains("PushedAggregates"),
      "COUNT(DISTINCT) must not be pushed")
    val expr = readTsv(dir).groupBy("name")
      .agg(sum(col("id") * 2).as("s2"))
    assert(!expr.queryExecution.executedPlan.toString
      .contains("PushedAggregates"),
      "expression aggregate inputs must not be pushed")
    // both still compute correctly through Spark's own aggregate
    val d = distinct.orderBy("name").collect().map(_.getLong(1)).toSeq
    assert(d.nonEmpty && d.forall(_ > 0))
    val s = expr.agg(sum(col("s2"))).collect().head.getLong(0)
    assert(s == 2L * (1 to 60).sum)
  }
}
