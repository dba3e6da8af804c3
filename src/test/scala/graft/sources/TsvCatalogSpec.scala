package graft.sources

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** DDL contract of the DSv2 TSV table catalog (q290): identifiers
  * resolve to the same TsvTable the path API returns, sidecar schema is
  * the single source of truth, and everything the catalog cannot do
  * fails loudly instead of half-applying. */
class TsvCatalogSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  private def freshCatalog(): String = {
    val name = "graft_ct_" + java.util.UUID.randomUUID().toString
      .replace("-", "").take(10)
    val root = java.nio.file.Files.createTempDirectory("graft_cat").toString
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftTsvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
    name
  }

  test("namespace + table lifecycle: create, exists, list, rename, drop") {
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.ns1")
    spark.sql(s"CREATE TABLE $c.ns1.t1 (id BIGINT, name STRING)")
    spark.sql(s"CREATE TABLE $c.ns1.t2 (id BIGINT)")
    assert(spark.sql(s"SHOW TABLES IN $c.ns1").collect()
      .map(_.getString(1)).sorted.sameElements(Array("t1", "t2")))
    // RENAME TO resolves its target within the same catalog
    spark.sql(s"ALTER TABLE $c.ns1.t2 RENAME TO ns1.t3")
    assert(spark.sql(s"SHOW TABLES IN $c.ns1").collect()
      .map(_.getString(1)).sorted.sameElements(Array("t1", "t3")))
    spark.sql(s"DROP TABLE $c.ns1.t3")
    assert(spark.sql(s"SHOW TABLES IN $c.ns1").collect()
      .map(_.getString(1)).sameElements(Array("t1")))
    // a second create of an existing table fails
    intercept[AnalysisException] {
      spark.sql(s"CREATE TABLE $c.ns1.t1 (x BIGINT)")
    }
    // dropping a non-empty namespace needs CASCADE
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $c.ns1") }
    spark.sql(s"DROP NAMESPACE $c.ns1 CASCADE")
    assert(spark.sql(s"SHOW NAMESPACES IN $c").collect().isEmpty)
  }

  test("insert + select round-trip by name; schema sidecar survives overwrite") {
    val c = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE NAMESPACE $c.lake")
    spark.sql(s"CREATE TABLE $c.lake.people (id BIGINT, name STRING, score DOUBLE)")
    Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "name", "score")
      .createOrReplaceTempView("catspec_src")
    spark.sql(s"INSERT INTO $c.lake.people SELECT * FROM catspec_src")
    spark.sql(s"INSERT INTO $c.lake.people SELECT id + 10, name, score + 10 FROM catspec_src")
    assert(spark.sql(s"SELECT count(*) FROM $c.lake.people").head().getLong(0) === 4)
    // INSERT OVERWRITE truncates data but the sidecar (and so the
    // table) survives — `_`-prefixed files are invisible to the sink's
    // truncate listing by the same rule that hides them from scans
    spark.sql(s"INSERT OVERWRITE $c.lake.people SELECT * FROM catspec_src")
    val rows = spark.sql(s"SELECT id, name, score FROM $c.lake.people ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.sameElements(Array((1L, "a", 1.5), (2L, "b", 2.5))))
    spark.catalog.dropTempView("catspec_src")
  }

  test("ALTER TABLE ADD COLUMN evolves the sidecar; old rows surface NULL") {
    val c = freshCatalog()
    import spark.implicits._
    spark.sql(s"CREATE NAMESPACE $c.lake")
    spark.sql(s"CREATE TABLE $c.lake.ev (id BIGINT, name STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .createOrReplaceTempView("catspec_ev_src")
    spark.sql(s"INSERT INTO $c.lake.ev SELECT * FROM catspec_ev_src")
    // evolution is a metadata-only write: the pre-evolution data file
    // must not move (shorter TSV lines read as trailing NULLs)
    spark.sql(s"ALTER TABLE $c.lake.ev ADD COLUMN score BIGINT")
    spark.sql(s"INSERT INTO $c.lake.ev VALUES (3, 'c', 30), (4, 'd', 40)")
    val rows = spark.sql(
      s"SELECT id, name, score FROM $c.lake.ev ORDER BY id")
      .collect().map(r =>
        (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(rows.sameElements(Array(
      (1L, "a", None), (2L, "b", None),
      (3L, "c", Some(30L)), (4L, "d", Some(40L)))))
    // pre-evolution rows are filterable on the new column (NULL-safe)
    assert(spark.sql(s"SELECT count(*) FROM $c.lake.ev WHERE score IS NULL")
      .head().getLong(0) === 2)
    spark.catalog.dropTempView("catspec_ev_src")
  }

  test("staged CTAS/RTAS: atomic create, atomic replace, failure leaves nothing") {
    val (c, root) = freshCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.range(10).selectExpr("id", "CAST(id * 2 AS DOUBLE) AS v")
      .createOrReplaceTempView("catspec_ctas_src")
    spark.sql(s"CREATE TABLE $c.ns.t AS SELECT * FROM catspec_ctas_src")
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $c.ns.t").head()
      .toSeq === Seq(10L, 90.0))
    // RTAS swaps atomically; the new contents fully replace the old
    spark.sql(s"REPLACE TABLE $c.ns.t AS " +
      "SELECT id, CAST(id * 3 AS DOUBLE) AS v FROM catspec_ctas_src WHERE id < 5")
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $c.ns.t").head()
      .toSeq === Seq(5L, 30.0))
    // a failing CTAS must abort: no table, no staging/leftover dirs
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ns.bad AS " +
        "SELECT id, CAST(raise_error('boom') AS STRING) AS s FROM catspec_ctas_src")
    }
    assert(!spark.catalog.tableExists(s"$c.ns.bad"))
    val leftover = new java.io.File(s"$root/ns").listFiles().map(_.getName)
    assert(!leftover.exists(_.startsWith("_staging_")),
      s"staging leftovers: ${leftover.mkString(",")}")
    // after a REPLACE the pointer names ONE live generation; the
    // superseded data (here the original plain dir) is grace-retained
    // until the NEXT publish so in-flight readers finish against a
    // complete directory
    assert(leftover.count(_.startsWith("_gen_t_")) == 1 &&
      leftover.contains("_graft_gen_t") && leftover.contains("t"),
      s"post-replace layout: ${leftover.sorted.mkString(",")}")
    // a failing RTAS must leave the OLD table intact and served
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE $c.ns.t AS " +
        "SELECT id, CAST(raise_error('late') AS STRING) AS s FROM catspec_ctas_src")
    }
    assert(spark.sql(s"SELECT count(*), sum(v) FROM $c.ns.t").head()
      .toSeq === Seq(5L, 30.0), "old table must survive a failed replace")
    // REPLACE of a missing table is refused; CREATE OR REPLACE is not
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE $c.ns.nope AS SELECT * FROM catspec_ctas_src")
    }
    spark.sql(s"CREATE OR REPLACE TABLE $c.ns.t2 AS SELECT * FROM catspec_ctas_src")
    assert(spark.sql(s"SELECT count(*) FROM $c.ns.t2").head().getLong(0) === 10)
    spark.catalog.dropTempView("catspec_ctas_src")
  }

  private def freshCatalogWithRoot(): (String, String) = {
    val name = freshCatalog()
    (name, spark.conf.get(s"spark.sql.catalog.$name.root"))
  }

  test("loadTable during a staged REPLACE never throws: the name answers old-or-new") {
    val (c, root) = freshCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.gens")
    spark.sql(s"CREATE TABLE $c.gens.hot (id BIGINT)")
    val cat = spark.sessionState.catalogManager.catalog(c)
      .asInstanceOf[GraftTsvCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("gens"), "hot")
    val info = new org.apache.spark.sql.connector.catalog.TableInfo.Builder()
      .withColumns(Array(org.apache.spark.sql.connector.catalog.Column
        .create("id", org.apache.spark.sql.types.LongType)))
      .withPartitions(Array.empty)
      .withProperties(java.util.Collections.emptyMap[String, String]())
      .build()
    @volatile var stop = false
    @volatile var failure: Throwable = null
    val reader = new Thread(() => {
      while (!stop && failure == null) {
        try {
          val t = cat.loadTable(ident)
          assert(t.columns().map(_.name).sameElements(Array("id")))
        } catch { case e: Throwable => failure = e }
      }
    })
    reader.start()
    // hammer REPLACE while the reader resolves the name continuously:
    // with the generation pointer there is no instant at which the
    // name answers NoSuchTable (the retired two-rename window)
    (1 to 30).foreach { _ =>
      cat.stageReplace(ident, info).commitStagedChanges()
    }
    stop = true
    reader.join(30000)
    assert(failure == null, s"loadTable threw during REPLACE: $failure")
    // the pointer's generation plus ONE grace-retained predecessor
    // remain (in-flight readers of the previous snapshot finish
    // against a complete directory); everything older was reclaimed
    // as each commit completed
    val names = new java.io.File(s"$root/gens").listFiles().map(_.getName)
    assert(names.count(_.startsWith("_gen_hot_")) == 2 &&
      names.contains("_graft_gen_hot") && !names.contains("hot"),
      s"generation layout after 30 replaces: ${names.sorted.mkString(",")}")
    // lifecycle still composes with the pointer: rename materializes,
    // drop removes pointer + data, recreate works
    spark.sql(s"ALTER TABLE $c.gens.hot RENAME TO gens.warm")
    assert(spark.sql(s"SHOW TABLES IN $c.gens").collect()
      .map(_.getString(1)).sameElements(Array("warm")))
    spark.sql(s"DROP TABLE $c.gens.warm")
    val after = new java.io.File(s"$root/gens").listFiles().map(_.getName)
    assert(!after.exists(n => n.contains("hot") || n.contains("warm")),
      s"drop must clear pointer and generations: ${after.mkString(",")}")
    spark.sql(s"CREATE TABLE $c.gens.hot (id BIGINT, v DOUBLE)")
    assert(spark.table(s"$c.gens.hot").schema.fieldNames
      .sameElements(Array("id", "v")))
  }

  test("refusals are loud: non-identity partitioning, non-ADD ALTER, multi-level namespaces") {
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    // ONE identity column (BIGINT/STRING) or ONE single-column bucket
    // is the supported partitioning; every other transform promises a
    // layout the store does not have (multi-column bucket included)
    val e1 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ns.p (id BIGINT, a BIGINT, b BIGINT) " +
        "PARTITIONED BY (bucket(4, a, b))")
    }
    assert(e1.getMessage.contains("only PARTITIONED BY"), e1.getMessage)
    // (BIGINT and STRING identity keys are supported; a DOUBLE key —
    // no exact directory-text encoding — still refuses)
    val e1b = intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ns.p (id BIGINT, score DOUBLE) " +
        "PARTITIONED BY (score)")
    }
    assert(e1b.getMessage.contains("BIGINT or STRING"), e1b.getMessage)
    val e1c = intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ns.p (id BIGINT, a BIGINT, b BIGINT) " +
        "PARTITIONED BY (a, b)")
    }
    assert(e1c.getMessage.contains("only PARTITIONED BY"), e1c.getMessage)
    spark.sql(s"CREATE TABLE $c.ns.t (id BIGINT)")
    // ADD COLUMN is the ONE supported evolution; everything that would
    // re-map positional TSV fields refuses loudly
    val e2 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ns.t DROP COLUMN id")
    }
    assert(e2.getMessage.contains("ADD COLUMN"), e2.getMessage)
    val e2b = intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ns.t ADD COLUMN head BIGINT FIRST")
    }
    assert(e2b.getMessage.contains("positional"), e2b.getMessage)
    intercept[Exception] { spark.sql(s"CREATE NAMESPACE $c.a.b") }
    // multi-level LOOKUPS answer per the DSv2 contract instead of
    // IllegalArgumentException: SHOW TABLES → no such namespace;
    // DROP ... IF EXISTS → quiet no-op
    intercept[AnalysisException] { spark.sql(s"SHOW TABLES IN $c.a.b") }
    spark.sql(s"DROP TABLE IF EXISTS $c.a.b.t")
    spark.sql(s"DROP NAMESPACE IF EXISTS $c.a.b")
    // USING a different format and LOCATION are refused (silently
    // storing TSV under a parquet-shaped promise is the hazard)
    val e3 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ns.u (id BIGINT) USING orc")
    }
    assert(e3.getMessage.contains("USING orc"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.ns.v (id BIGINT) LOCATION '/tmp/elsewhere'")
    }
    assert(e4.getMessage.contains("LOCATION"), e4.getMessage)
    // explicit graft_tsv provider and the session default both pass —
    // and so does the PROVIDER CLASS NAME the path API uses (the alias
    // check lowers both sides; mixed-case class names must not refuse)
    spark.sql(s"CREATE TABLE $c.ns.w (id BIGINT) USING graft_tsv")
    assert(spark.sql(s"SELECT count(*) FROM $c.ns.w").head().getLong(0) === 0)
    spark.sql(
      s"CREATE TABLE $c.ns.x (id BIGINT) USING ${classOf[TsvSourceProvider].getName}")
    assert(spark.sql(s"SELECT count(*) FROM $c.ns.x").head().getLong(0) === 0)
  }

  test("PARTITIONED BY identity: keyed layout by name — inserts route, scans prune, DELETE drops dirs") {
    import org.apache.spark.sql.functions.col
    val (c, root) = freshCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.p (id BIGINT, name STRING, shard BIGINT) " +
      "PARTITIONED BY (shard)")
    // a freshly created partitioned table is legitimately empty
    assert(spark.table(s"$c.ns.p").count() === 0)
    spark.sql(s"INSERT INTO $c.ns.p SELECT id, concat('u', id), id % 4 " +
      "FROM range(40)")
    // physical contract: key dirs + the partition sidecar; the key
    // rides in the DIRECTORY name, never in the file data
    val dir = new java.io.File(root, "ns/p")
    assert(dir.listFiles().count(_.getName.startsWith("shard=")) === 4)
    // the sink DECLARES clustered-by-key distribution, so an unhinted
    // INSERT writes exactly ONE file per key — never tasks×keys shards
    (0 to 3).foreach { k =>
      val n = new java.io.File(dir, s"shard=$k").listFiles()
        .count(_.getName.startsWith("part-"))
      assert(n === 1, s"shard=$k must hold one file per job, got $n")
    }
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(dir, "_graft_partition").toPath), "UTF-8") === "shard")
    val aFile = new java.io.File(dir, "shard=1").listFiles()
      .filter(_.getName.startsWith("part-")).head
    val src = scala.io.Source.fromFile(aFile)
    val firstLine = try src.getLines().next() finally src.close()
    assert(firstLine.split("\t", -1).length === 2, firstLine)
    // static partition pruning by name (the q86 story, catalog-resolved)
    val q = spark.table(s"$c.ns.p").filter(col("shard") === 2)
    assert(q.queryExecution.executedPlan.toString
      .contains("PushedPartitionFilters: [EqualTo(shard,2)"))
    assert(q.count() === 10)
    // partition DELETE by name drops whole directories; data-column
    // DELETE refuses (no row-level rewrite on this store)
    spark.sql(s"DELETE FROM $c.ns.p WHERE shard IN (0, 1)")
    assert(!new java.io.File(dir, "shard=0").exists())
    assert(spark.table(s"$c.ns.p").count() === 20)
    intercept[Exception] { spark.sql(s"DELETE FROM $c.ns.p WHERE id = 3") }
    // a NULL key has no directory — refused, not silently dropped
    val eNull = intercept[Exception] {
      spark.sql(s"INSERT INTO $c.ns.p SELECT 1L, 'x', CAST(NULL AS BIGINT)")
    }
    assert(eNull.getMessage.contains("NULL") ||
      eNull.getCause != null, eNull.getMessage)
    // INSERT OVERWRITE truncates by dropping key dirs
    spark.sql(s"INSERT OVERWRITE $c.ns.p SELECT 1L, 'x', 9L")
    assert(spark.table(s"$c.ns.p").collect().map(_.getLong(2)).toSeq === Seq(9L))
    // partitioned CTAS stages the KEYED layout and publishes atomically
    spark.sql(s"CREATE TABLE $c.ns.p2 PARTITIONED BY (shard) " +
      s"AS SELECT * FROM $c.ns.p")
    assert(new java.io.File(root, "ns/p2/_graft_partition").isFile)
    assert(new java.io.File(root, "ns/p2/shard=9").isDirectory)
    assert(spark.table(s"$c.ns.p2").count() === 1)
    // ALTER ADD COLUMN keeps the partitioning live (sidecars compose)
    spark.sql(s"ALTER TABLE $c.ns.p ADD COLUMN note STRING")
    spark.sql(s"INSERT INTO $c.ns.p SELECT 2L, 'y', 9L, 'n'")
    assert(spark.table(s"$c.ns.p").filter(col("shard") === 9).count() === 2)
    spark.sql(s"DELETE FROM $c.ns.p WHERE shard = 9")
    assert(spark.table(s"$c.ns.p").count() === 0)
  }

  test("two catalog-partitioned tables join storage-partitioned, zero hash exchanges (q270 story)") {
    import org.apache.spark.sql.functions.col
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    // two co-keyed tables created and loaded BY NAME — the keyed write's
    // declared distribution builds the one-file-per-key layout, and the
    // scans report KeyGroupedPartitioning(identity(shard)) back
    spark.sql(s"CREATE TABLE $c.ns.a (user_id BIGINT, v BIGINT, shard BIGINT) " +
      "PARTITIONED BY (shard)")
    spark.sql(s"CREATE TABLE $c.ns.b (user_id BIGINT, w BIGINT, shard BIGINT) " +
      "PARTITIONED BY (shard)")
    spark.sql(s"INSERT INTO $c.ns.a SELECT id AS user_id, id * 2 AS v, " +
      "id % 4 AS shard FROM range(40)")
    spark.sql(s"INSERT INTO $c.ns.b SELECT id AS user_id, id * 3 AS w, " +
      "id % 4 AS shard FROM range(40)")
    val plan = graft.SessionConfs.withConfs(spark,
      graft.operators.FileIO.spjConfs: _*) {
      val a = spark.table(s"$c.ns.a")
      val b = spark.table(s"$c.ns.b")
      val q = a.join(b, Seq("shard", "user_id"))
        .agg(org.apache.spark.sql.functions.sum(col("v") + col("w")).as("s"))
      assert(q.head().getLong(0) ===
        (0 until 40).map(i => i * 5L).sum)
      q.queryExecution.executedPlan.toString
    }
    assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-keyed catalog tables must join with zero hash exchanges:\n$plan")
  }

  test("runtime filtering prunes a catalog-partitioned fact resolved by name (q276 story)") {
    import org.apache.spark.sql.functions._
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.f (user_id BIGINT, v BIGINT, shard BIGINT) " +
      "PARTITIONED BY (shard)")
    spark.sql(s"INSERT INTO $c.ns.f SELECT " +
      "id AS user_id, id * 2 AS v, id % 8 AS shard FROM range(80)")
    // the dim's filter is on its own attribute — only the runtime
    // subquery (fed through the broadcast) can prune the fact dirs
    val dim = spark.range(64)
      .select(col("id").as("u"), (col("id") % 8).as("shard"))
      .filter(col("u") % 16 === 3).distinct()
    val fact = spark.table(s"$c.ns.f")
    val q = fact.join(broadcast(dim),
        fact("shard") === dim("shard") && fact("user_id") === dim("u"))
      .select(fact("user_id"), col("v"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters: [dynamicpruning"),
      s"expected a runtime filter on the catalog-resolved fact scan:\n$plan")
    assert(q.count() === 4)
  }

  test("ALTER ADD COLUMN mid-stream: running query keeps its projection, restart picks up the column") {
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.src (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.src VALUES (1, 10), (2, 20)")
    val cp = java.nio.file.Files.createTempDirectory("graft_cat_cp").toString
    // (batchId → (schema field names, row count)) per processed batch
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String], Long)]()
    def run(): org.apache.spark.sql.streaming.StreamingQuery =
      spark.readStream.table(s"$c.ns.src").writeStream
        .option("checkpointLocation", cp)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          seen.add((id, df.schema.fieldNames.toSeq, df.count())); ()
        }
        .start()
    val q1 = run()
    try {
      q1.processAllAvailable()
      // the ALTER lands while q1 RUNS; wave 2 carries the new column
      spark.sql(s"ALTER TABLE $c.ns.src ADD COLUMN w BIGINT")
      spark.sql(s"INSERT INTO $c.ns.src VALUES (3, 30, 300)")
      q1.processAllAvailable()
    } finally q1.stop()
    import scala.jdk.CollectionConverters._
    val batches1 = seen.asScala.toSeq.sortBy(_._1)
    // every batch of the RUNNING query — including the post-evolution
    // wave — kept the captured 2-column projection: no torn batches
    assert(batches1.nonEmpty &&
      batches1.forall(_._2 == Seq("id", "v")), batches1.toString)
    assert(batches1.map(_._3).sum === 3, batches1.toString)
    seen.clear()
    // a RESTART rebuilds the scan from the sidecar: the new column is
    // live, and only unseen files replay (the checkpoint carries on)
    spark.sql(s"INSERT INTO $c.ns.src VALUES (4, 40, 400)")
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()
    val batches2 = seen.asScala.toSeq.sortBy(_._1)
    assert(batches2.nonEmpty &&
      batches2.forall(_._2 == Seq("id", "v", "w")), batches2.toString)
    assert(batches2.map(_._3).sum === 1, batches2.toString)
    // and the batch view reconciles both populations with explicit NULL
    val all = spark.table(s"$c.ns.src").orderBy("id").collect()
    assert(all.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq ===
      Seq(-1L, -1L, 300L, 400L))
  }

  test("partition DDL: SHOW/ADD/DROP/TRUNCATE are metadata ops with loud refusals") {
    val (c, root) = freshCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.ns")
    spark.sql(s"CREATE TABLE $c.ns.p (id BIGINT, shard BIGINT) " +
      "PARTITIONED BY (shard)")
    spark.sql(s"INSERT INTO $c.ns.p SELECT id, id % 3 FROM range(30)")
    def shown(spec: String = "") = spark
      .sql(s"SHOW PARTITIONS $c.ns.p $spec")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(shown() == Seq("shard=0", "shard=1", "shard=2"))
    assert(shown("PARTITION (shard=1)") == Seq("shard=1"))
    // ADD creates an empty-but-VISIBLE partition: it lists, scans plan
    // zero splits for it, and a duplicate ADD refuses
    spark.sql(s"ALTER TABLE $c.ns.p ADD PARTITION (shard=99)")
    assert(shown().contains("shard=99"))
    assert(spark.table(s"$c.ns.p").count() === 30)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ns.p ADD PARTITION (shard=0)")
    }
    // DROP is the retention DELETE as DDL; a missing partition is loud
    spark.sql(s"ALTER TABLE $c.ns.p DROP PARTITION (shard=1)")
    assert(spark.table(s"$c.ns.p").count() === 20)
    assert(!new java.io.File(root, "ns/p/shard=1").exists())
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.ns.p DROP PARTITION (shard=7)")
    }
    // TRUNCATE clears data (key dirs whole), the table + sidecars stay
    spark.sql(s"TRUNCATE TABLE $c.ns.p")
    assert(spark.table(s"$c.ns.p").count() === 0)
    assert(spark.sql(s"SHOW PARTITIONS $c.ns.p").count() === 0)
    assert(new java.io.File(root, "ns/p/_graft_partition").isFile)
    spark.sql(s"INSERT INTO $c.ns.p SELECT 1L, 5L") // still writable
    assert(shown() == Seq("shard=5"))
    // flat tables: TRUNCATE works, partition DDL refuses via Spark's
    // own empty-partition-schema analysis
    spark.sql(s"CREATE TABLE $c.ns.flat (id BIGINT)")
    spark.sql(s"INSERT INTO $c.ns.flat SELECT id FROM range(5)")
    spark.sql(s"TRUNCATE TABLE $c.ns.flat")
    assert(spark.table(s"$c.ns.flat").count() === 0)
    intercept[Exception] { spark.sql(s"SHOW PARTITIONS $c.ns.flat") }
  }

  test("STRING partition keys: DDL lifecycle, pruned scans, DELETE by value, hostile refusals") {
    val (c, root) = freshCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.sk")
    spark.sql(s"CREATE TABLE $c.sk.t (id BIGINT, country STRING) " +
      "PARTITIONED BY (country)")
    spark.sql(s"INSERT INTO $c.sk.t VALUES (1, 'US'), (2, 'de x'), (3, 'jp')")
    // SHOW/ADD/DROP PARTITION with string values (space included)
    spark.sql(s"ALTER TABLE $c.sk.t ADD PARTITION (country = 'empty zone')")
    assert(spark.sql(s"SHOW PARTITIONS $c.sk.t").collect()
      .map(_.getString(0)).sorted.toSeq ==
      Seq("country=US", "country=de x", "country=empty zone", "country=jp"))
    spark.sql(s"ALTER TABLE $c.sk.t DROP PARTITION (country = 'de x')")
    assert(spark.table(s"$c.sk.t").orderBy("id").collect()
      .map(_.getString(1)).toSeq == Seq("US", "jp"))
    // DELETE by string key drops the directory
    spark.sql(s"DELETE FROM $c.sk.t WHERE country IN ('jp')")
    assert(!new java.io.File(s"$root/sk/t/country=jp").exists())
    assert(spark.table(s"$c.sk.t").count() == 1)
    // hostile values refuse loudly at every front door
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $c.sk.t ADD PARTITION (country = 'a/b')")
    }
    intercept[Exception] {
      spark.sql(s"INSERT INTO $c.sk.t VALUES (9, '..')")
    }
    assert(spark.table(s"$c.sk.t").count() == 1,
      "refused writes must leave nothing behind")
    // non-partitionable key types still refuse at CREATE
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.sk.bad (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (ts)")
    }
    assert(e.getMessage.contains("BIGINT or STRING"), e.getMessage)
  }

  test("bucket(n, col): hash layout by name, co-bucketed join with zero exchanges") {
    import org.apache.spark.sql.functions.col
    val (c, root) = freshCatalogWithRoot()
    spark.sql(s"CREATE NAMESPACE $c.bk")
    spark.sql(s"CREATE TABLE $c.bk.a (user_id BIGINT, n BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.sql(s"CREATE TABLE $c.bk.b (user_id BIGINT, m BIGINT) " +
      "PARTITIONED BY (bucket(8, user_id))")
    spark.range(200).selectExpr("id AS user_id", "id * 2 AS n")
      .createOrReplaceTempView("bk_src_a")
    spark.range(150).selectExpr("id AS user_id", "id * 3 AS m")
      .createOrReplaceTempView("bk_src_b")
    spark.sql(s"INSERT INTO $c.bk.a SELECT * FROM bk_src_a")
    spark.sql(s"INSERT INTO $c.bk.b SELECT * FROM bk_src_b")
    // physical layout: every row landed in its hash bucket's dir, ONE
    // file per bucket per job (the write declares bucket clustering)
    val dirs = new java.io.File(s"$root/bk/a").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.length == 8 && dirs.forall(_.startsWith("_graft_bucket=")),
      s"bucket layout: ${dirs.mkString(",")}")
    dirs.foreach { d =>
      val files = new java.io.File(s"$root/bk/a/$d").listFiles()
        .filter(_.isFile).filterNot(_.getName.startsWith("_"))
      assert(files.length == 1,
        s"one file per bucket per job, got ${files.length} in $d")
    }
    // values round-trip (the cluster column stays in the lines)
    assert(spark.table(s"$c.bk.a").count() == 200)
    assert(spark.sql(s"SELECT sum(n) FROM $c.bk.a").head().getLong(0) ==
      (0L until 200).map(_ * 2).sum)
    // the join: co-bucketed scans report bucket(8, user_id), the
    // catalog's FunctionCatalog resolves it, and the storage-
    // partitioned join plans with NO exchange on either side
    val spjPlan = graft.SessionConfs.withConfs(spark,
      graft.operators.FileIO.spjConfs: _*) {
      val j = spark.table(s"$c.bk.a")
        .join(spark.table(s"$c.bk.b"), "user_id")
        .agg(org.apache.spark.sql.functions.count(
            org.apache.spark.sql.functions.lit(1)).as("rows"),
          org.apache.spark.sql.functions.sum(
            org.apache.spark.sql.functions.expr("n + m")).as("total"))
      val rows = j.collect()
      assert(rows.head.getLong(0) == 150 &&
        rows.head.getLong(1) == (0L until 150).map(i => i * 2 + i * 3).sum,
        s"join values: ${rows.mkString}")
      j.queryExecution.executedPlan.toString
    }
    assert(!spjPlan.contains("Exchange hashpartitioning"),
      s"co-bucketed join must elide both exchanges:\n$spjPlan")
    // bucket pruning: a point lookup reads ONE bucket directory
    val one = spark.table(s"$c.bk.a").filter(col("user_id") === 42L)
    assert(one.count() == 1)
    assert(one.rdd.getNumPartitions == 1,
      "a point lookup must plan exactly the key's bucket")
    // refusals: non-BIGINT bucket column, silly bucket counts
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.bk.bad (s STRING) " +
        "PARTITIONED BY (bucket(8, s))")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $c.bk.bad2 (x BIGINT) " +
        "PARTITIONED BY (bucket(100000, x))")
    }
  }

  test("staged CREATE sets aside schema-less crash debris instead of bricking the name") {
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.deb")
    val root = spark.conf.get(s"spark.sql.catalog.$c.root")
    // crash debris: a plain directory at the table name holding data
    // but NO _graft_schema (a create that died before the sidecar) —
    // POSIX renameTo onto it would fail, so the commit must set it
    // aside as a `_replaced_` orphan for the GC sweep
    val debris = new java.io.File(s"$root/deb/t")
    debris.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(debris, "leftover.txt").toPath, "9\n".getBytes)
    import spark.implicits._
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .createOrReplaceTempView("debris_src")
    spark.sql(s"CREATE TABLE $c.deb.t AS SELECT * FROM debris_src")
    assert(spark.sql(s"SELECT count(*) FROM $c.deb.t").head().getLong(0) == 2,
      "the CTAS table must serve its own rows, not the debris")
    val orphans = Option(new java.io.File(s"$root/deb").listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("_replaced_t_"))
    assert(orphans.length == 1 &&
      new java.io.File(orphans.head, "leftover.txt").isFile,
      "the debris must survive as an invisible _replaced_ orphan")
  }

  test("reclaimed-generation failures carry the typed exception through the cause chain") {
    val c = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $c.gen")
    import spark.implicits._
    Seq((1L, 10L)).toDF("k", "v").createOrReplaceTempView("gen_src")
    spark.sql(s"CREATE TABLE $c.gen.t AS SELECT * FROM gen_src")
    // resolve the table, then reclaim its directory out from under it:
    // the scan must fail with the TYPED reclaimed-generation error (a
    // retryable condition callers match by class, never by message)
    val df = spark.table(s"$c.gen.t")
    val root = spark.conf.get(s"spark.sql.catalog.$c.root")
    TsvWritePaths.deleteRecursively(new java.io.File(s"$root/gen/t"))
    val e = intercept[Throwable] { df.count() }
    assert(GraftGenerationReclaimedException.causedBy(e),
      s"expected a GraftGenerationReclaimedException in the cause " +
        s"chain, got: $e")
  }

  test("streaming writes to a partitioned table refuse loudly") {
    val b = new TsvWriteBuilder(
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, shard BIGINT"),
      java.nio.file.Files.createTempDirectory("graft_kw").toString,
      TsvLayout.Keyed("shard", org.apache.spark.sql.types.LongType),
      java.util.UUID.randomUUID().toString)
    val e = intercept[UnsupportedOperationException] {
      b.build().toStreaming
    }
    assert(e.getMessage.contains("PARTITIONED"), e.getMessage)
  }
}
