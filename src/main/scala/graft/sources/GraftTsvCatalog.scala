package graft.sources

import java.util
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, StagedTable, StagingTableCatalog, SupportsNamespaces, Table, TableCatalog, TableChange, TableInfo}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import GraftTsvCatalog.schemaFile

/** A DSv2 [[TableCatalog]] over a directory of TSV tables — the
  * NAME-BASED front door to the store the path-based gates drive with
  * `option("path", …)`. Registered per session with
  *
  * {{{
  * spark.conf.set("spark.sql.catalog.graft_store", classOf[GraftTsvCatalog].getName)
  * spark.conf.set("spark.sql.catalog.graft_store.root", "/data/tsv")
  * }}}
  *
  * after which plain SQL addresses it like any lakehouse catalog:
  * `CREATE NAMESPACE graft_store.lake`, `CREATE TABLE
  * graft_store.lake.t (…)`, `INSERT INTO`, `SELECT`, `DROP TABLE` —
  * every statement resolving through THIS plugin to the same
  * [[TsvTable]] the path API returns, so reads keep the full scan
  * contract (pushdown, stats, metadata columns) and writes keep the
  * sink's task-commit protocol. Layout on disk: `root/<ns>/<table>/`
  * holding the data files plus a `_graft_schema` sidecar (DDL text;
  * `_`-prefixed files are invisible to scans and survive TRUNCATE by
  * the sink's own listing rules). At 100 TB this is how a thousand
  * pipelines share one store without passing paths around: the catalog
  * IS the contract, and governance (q280's partition DELETE, retention)
  * addresses tables by name.
  *
  * Schema evolution: `ALTER TABLE … ADD COLUMN` appends a nullable
  * trailing column to the `_graft_schema` sidecar WITHOUT touching any
  * data file — the TSV reader already surfaces NULL for fields past a
  * row's end (`fieldAt`, TsvSource.scala), so pre-evolution shards and
  * post-evolution shards read as one table in one scan (the same
  * explicit-NULL union contract q132 pins for parquet mergeSchema,
  * here at zero per-read cost because the catalog, not a footer-union
  * pass, carries the schema). That asymmetry is the point at 100 TB:
  * evolving the table is a one-file metadata write, never a rewrite.
  *
  * Partitioning: `PARTITIONED BY (<one BIGINT or STRING column>)`
  * creates the keyed `<col>=<v>/` layout by name, `PARTITIONED BY
  * (bucket(n, <BIGINT column>))` the bucketed one — the [[TsvLayout]]
  * recorded in a `_graft_partition` sidecar. INSERTs route rows into
  * its directories, scans prune/key-group/runtime-filter on it, and
  * `DELETE FROM t WHERE <key predicate>` drops whole key directories —
  * the path API's entire governance surface, addressable by
  * identifier. Every other transform (time/multi-column/other key
  * types) is refused loudly: each would promise a layout this store
  * does not have.
  *
  * Deliberately unsupported, loudly: every other ALTER TABLE change
  * (drops/renames/type-changes would silently re-map existing TSV
  * fields), and multi-level namespaces (one level, one directory —
  * lookups on deeper names answer "no such namespace/table" per the
  * DSv2 contract; only CREATE refuses loudly).
  */
final class GraftTsvCatalog extends TableCatalog with SupportsNamespaces
    with StagingTableCatalog
    with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  // ---- FunctionCatalog: the `bucket` transform's identity ----
  // Spark resolves a scan-reported `bucket(n, col)` transform through
  // the TABLE'S catalog; exposing the one shared function here is what
  // makes two co-bucketed graft tables storage-partition-join with no
  // exchange (compatibility = bound canonicalName + bucket count).
  override def listFunctions(namespace: Array[String])
      : Array[Identifier] =
    if (namespace.isEmpty || nsDirOpt(namespace).exists(_.isDirectory))
      Array(Identifier.of(namespace, "bucket"))
    else throw new NoSuchNamespaceException(namespace)
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket") TsvBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private var catalogName: String = _
  private var root: java.io.File = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null,
      s"graft tsv catalog '$name' needs spark.sql.catalog.$name.root")
    // strip() refuses remote schemes LOUDLY (s3a://, hdfs://, …): the
    // catalog's java.io directory layout would otherwise degrade a
    // remote root to a bogus local relative path, silently
    root = new java.io.File(TsvWritePaths.strip(r))
    root.mkdirs()
  }

  override def name(): String = catalogName

  private def nsDir(namespace: Array[String]): java.io.File = {
    require(namespace.length == 1,
      s"graft tsv catalog supports exactly one namespace level, got " +
        namespace.mkString("."))
    new java.io.File(root, namespace(0))
  }
  /** Lookup-path variant: a multi-level namespace is simply a namespace
    * this catalog does not have — None, not IllegalArgumentException —
    * so SHOW TABLES IN cat.a.b / IF EXISTS paths get the
    * NoSuchNamespace/false answers the DSv2 contract expects. The loud
    * require stays on the create paths only. */
  private def nsDirOpt(namespace: Array[String]): Option[java.io.File] =
    if (namespace.length == 1) Some(new java.io.File(root, namespace(0)))
    else None
  private def tableDir(ident: Identifier): java.io.File =
    new java.io.File(nsDir(ident.namespace()), ident.name())

  // ---- the current-generation pointer ----
  // A table REPLACEd at least once lives in an invisible generation
  // directory (`_gen_<table>_<uuid>`), and the namespace holds a
  // pointer file (`_graft_gen_<table>`) naming the current generation.
  // The pointer is written with the sidecar discipline (temp +
  // ATOMIC_MOVE), so REPLACE's visibility flip is ONE atomic write —
  // a reader racing the commit resolves the name to the OLD generation
  // or the NEW one, never to nothing (the two-rename NoSuchTable
  // window this indirection retires). A table never replaced has no
  // pointer and lives in the plain `<table>/` directory — resolution
  // falls through to it, so the pointer is pay-as-you-go.
  private[sources] def resolvedDirOpt(ident: Identifier): Option[java.io.File] =
    if (internalName(ident.name())) None
    else nsDirOpt(ident.namespace()).map { ns =>
      GraftTsvCatalog.readGenPointer(ns, ident.name())
        .filter(d => schemaFile(d).isFile) // dangling pointer → plain dir
        .getOrElse(new java.io.File(ns, ident.name()))
    }
  private def resolvedExisting(ident: Identifier): Option[java.io.File] =
    resolvedDirOpt(ident).filter(d => schemaFile(d).isFile)
  /** Resolution is two reads (pointer, then schema probe), so a REPLACE
    * commit landing BETWEEN them makes a live table transiently resolve
    * to nothing (pointer read pre-flip, probe post-reclaim). A bounded
    * re-resolve lands on the new generation; a genuinely absent table
    * just pays a few extra stat calls before the honest None. */
  private def resolvedExistingRetry(ident: Identifier): Option[java.io.File] = {
    var attempt = 0
    var r = resolvedExisting(ident)
    while (r.isEmpty && attempt < 5) {
      attempt += 1
      Thread.`yield`()
      r = resolvedExisting(ident)
    }
    r
  }
  /** `_`-prefixed directory names are CATALOG-INTERNAL (staging dirs,
    * set-aside replaced tables) — never listable, never addressable,
    * never creatable as table names. One rule, same as the store's
    * file-hiding rule. */
  private def internalName(n: String): Boolean = n.startsWith("_")

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val d = nsDirOpt(namespace)
      .filter(_.isDirectory)
      .getOrElse(throw new NoSuchNamespaceException(namespace))
    val entries = Option(d.listFiles()).getOrElse(Array.empty)
    val plain = entries
      .filter(t => t.isDirectory && !internalName(t.getName) &&
        schemaFile(t).isFile)
      .map(_.getName)
    // generation-pointer tables: the pointer file is the listing entry
    // (the generation dir itself is `_`-hidden); only a pointer whose
    // target holds a schema names a live table
    val pointed = entries
      .filter(f => f.isFile &&
        f.getName.startsWith(GraftTsvCatalog.GenPtrPrefix))
      .map(_.getName.stripPrefix(GraftTsvCatalog.GenPtrPrefix))
      .filter(n => GraftTsvCatalog.readGenPointer(d, n)
        .exists(g => schemaFile(g).isFile))
    (plain ++ pointed).distinct
      .map(n => Identifier.of(namespace, n))
      .sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    resolvedExistingRetry(ident).nonEmpty

  override def loadTable(ident: Identifier): Table = {
    // bounded retry: a reader can resolve the pointer to a generation
    // the very next commit is reclaiming — the re-resolve lands on the
    // NEW generation (the pointer has already flipped), so the name
    // always answers old-or-new, never NoSuchTable mid-REPLACE. Losing
    // the race requires a commit to land inside the microseconds
    // between resolve and read, so ten consecutive losses means
    // pathological replace churn — surface THAT, not a raw
    // NoSuchFileException (and never a false NoSuchTable: the table
    // exists, it just cannot be read stably)
    var attempt = 0
    while (attempt <= 10) {
      val dir = resolvedExistingRetry(ident)
        .getOrElse(throw new NoSuchTableException(ident))
      try {
        val ddl = new String(
          java.nio.file.Files.readAllBytes(schemaFile(dir).toPath), "UTF-8")
        val schema = StructType.fromDDL(ddl)
        return new TsvTable(schema, dir.getPath,
          GraftTsvCatalog.readLayoutSidecar(dir, schema), requireDir = true)
      } catch {
        case _: java.nio.file.NoSuchFileException |
             _: java.io.FileNotFoundException =>
          attempt += 1
          Thread.`yield`()
      }
    }
    throw new GraftGenerationReclaimedException(
      s"graft tsv catalog: table $ident is being replaced faster than " +
        "it can be read (10 consecutive resolve/read races lost) — " +
        "throttle the REPLACE cadence, or re-resolve and retry")
  }

  /** `PARTITIONED BY` at create time: exactly ONE single-column
    * IDENTITY transform over a BIGINT or STRING column — the keyed
    * `<col>=<v>/` layout the path API reads/deletes, now creatable by
    * name, which is what lets the whole governance surface (pruned
    * scans, storage-partitioned joins, runtime filtering, partition
    * DELETE) compose with catalog identifiers instead of paths — or ONE
    * `bucket(n, <BIGINT col>)`. Anything else (time transforms, nested
    * or multi-column keys, other key types) is refused loudly: each
    * would promise a layout this store does not have. Returns the
    * layout, recorded in the `_graft_partition` sidecar. */
  private def layoutOf(partitions: Array[Transform], schema: StructType)
      : TsvLayout = partitions.toSeq match {
    case Seq() => TsvLayout.Flat
    case Seq(t) if t.name() == "identity" &&
        t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1 =>
      val col = t.references()(0).fieldNames()(0)
      val field = schema.fields.find(_.name == col).getOrElse(
        throw new IllegalArgumentException(
          s"graft tsv catalog: partition column $col is not in the schema"))
      if (field.dataType != LongType &&
          field.dataType != org.apache.spark.sql.types.StringType)
        throw new UnsupportedOperationException(
          s"graft tsv catalog: partition column must be BIGINT or " +
            s"STRING, got $col ${field.dataType.sql} — directory keys " +
            "encode as the column's text (the keyed-layout contract); " +
            "dates/timestamps partition via a derived STRING or BIGINT " +
            "column")
      TsvLayout.Keyed(col, field.dataType)
    case Seq(t) if t.name() == "bucket" &&
        t.references().length == 1 &&
        t.references()(0).fieldNames().length == 1 =>
      // `CLUSTERED BY / PARTITIONED BY (bucket(n, col))`: the hash
      // layout for high-cardinality co-located joins — recorded in the
      // same sidecar, refused for anything but one BIGINT column
      val col = t.references()(0).fieldNames()(0)
      val field = schema.fields.find(_.name == col).getOrElse(
        throw new IllegalArgumentException(
          s"graft tsv catalog: bucket column $col is not in the schema"))
      if (field.dataType != LongType)
        throw new UnsupportedOperationException(
          s"graft tsv catalog: bucket column must be BIGINT, got $col " +
            field.dataType.sql)
      val n = t.arguments().toSeq.collectFirst {
        case lit: org.apache.spark.sql.connector.expressions.Literal[_]
            if lit.dataType == org.apache.spark.sql.types.IntegerType =>
          lit.value.asInstanceOf[Int]
      }.getOrElse(throw new IllegalArgumentException(
        s"graft tsv catalog: bucket transform carries no bucket count: " +
          t.describe()))
      require(n > 1 && n <= 4096,
        s"graft tsv catalog: bucket count must be in (1, 4096], got $n " +
          "— each bucket is a directory, and a write task holds one " +
          "open stream per bucket it touches")
      TsvLayout.Bucketed(col, n)
    case other => throw new UnsupportedOperationException(
      "graft tsv catalog: only PARTITIONED BY (<one BIGINT or STRING " +
        s"column>) is supported, got " +
        s"${other.map(_.describe()).mkString(", ")} — " +
        "time/multi-column transforms would promise a layout this " +
        "store does not have (bucket(n, <BIGINT col>) is supported)")
  }

  /** Shared create-time validation (createTable + the staged CTAS
    * paths): the loud-refusal contract must hold no matter which DDL
    * front door reaches the catalog. */
  private def validateCreate(
      properties: util.Map[String, String]): Unit = {
    // the loud-refusal contract extends to clauses the catalog would
    // otherwise silently ignore: a LOCATION/EXTERNAL table would write
    // somewhere other than the managed root, and an explicit USING of a
    // DIFFERENT format would store TSV under a parquet-shaped promise.
    // (`USING <session default>` is indistinguishable from no USING —
    // Spark fills the provider property either way — so the default
    // passes and anything else fails.)
    if (properties.containsKey(TableCatalog.PROP_LOCATION) ||
        "true".equalsIgnoreCase(properties.get(TableCatalog.PROP_EXTERNAL)))
      throw new UnsupportedOperationException(
        "graft tsv catalog: LOCATION/EXTERNAL are not supported — " +
          "tables are managed under the catalog root")
    val provider = properties.get(TableCatalog.PROP_PROVIDER)
    val defaultProvider =
      org.apache.spark.sql.internal.SQLConf.get.defaultDataSourceName
    // compare lowercased-vs-lowercased: the class-name alias has upper
    // case in it, so it must be lowered on the SET side too or
    // `USING graft.sources.TsvSourceProvider` (the exact string the
    // path API uses) would be wrongly refused
    val accepted = Set("tsv", "graft_tsv",
      classOf[TsvSourceProvider].getName.toLowerCase(java.util.Locale.ROOT))
    if (provider != null && provider != defaultProvider &&
        !accepted.contains(provider.toLowerCase(java.util.Locale.ROOT)))
      throw new UnsupportedOperationException(
        s"graft tsv catalog: USING $provider is not supported — this " +
          "catalog stores TSV (omit USING, or say USING graft_tsv)")
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    val layout = layoutOf(partitions, schema)
    validateCreate(properties)
    require(!internalName(ident.name()),
      s"graft tsv catalog: table names may not start with '_' " +
        s"(reserved for catalog-internal directories): ${ident.name()}")
    val dir = tableDir(ident)
    if (resolvedExisting(ident).nonEmpty)
      throw new TableAlreadyExistsException(ident)
    if (!dir.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    // a DANGLING generation pointer (crashed rename/drop leftover) must
    // not shadow the fresh plain-dir table about to be created
    GraftTsvCatalog.genPtrFile(dir.getParentFile, ident.name()).delete()
    dir.mkdirs()
    // partition sidecar BEFORE the schema sidecar: the schema file is
    // what makes the table exist (loadTable's filter), so a crash
    // between the two leaves a non-table, never an accidentally-flat
    // one. The INVERSE hazard needs the explicit delete: a crashed
    // partitioned CREATE leaves a stale _graft_partition in the
    // non-table dir, and a later FLAT create of the same name must not
    // silently inherit it (accidentally-keyed writes, or a bricked
    // table if the new schema lacks the old key column).
    GraftTsvCatalog.writeLayoutSidecar(dir, layout)
    TsvWritePaths.writeAtomically(schemaFile(dir), schema.toDDL.getBytes("UTF-8"))
    new TsvTable(schema, dir.getPath, layout, requireDir = true)
  }

  // ---- atomic CTAS / RTAS ([[StagingTableCatalog]]) ----
  //
  // Without staging, CREATE TABLE AS SELECT is create-then-insert: a
  // mid-write failure leaves a live EMPTY (or half-loaded, under
  // non-atomic sinks) table behind for every reader to see. Staged, the
  // SELECT writes into a `_staging_…` directory (underscore-prefixed:
  // invisible to scans and listings by the store's one hiding rule) and
  // the table only EXISTS — sidecar written, directory renamed into
  // place — inside commitStagedChanges after the write completed;
  // failure aborts to a deleted staging dir and the catalog never shows
  // the name. REPLACE TABLE AS SELECT gets the same contract up to one
  // honest caveat: the swap is TWO renames (old aside, staging in) —
  // a local FS has no atomic directory exchange — so a loadTable racing
  // the commit can hit a brief NoSuchTable window between them; what it
  // can NEVER see is a half-loaded table, and a crash anywhere in the
  // window leaves the old data recoverable under `_replaced_…`. At 100 TB
  // this is the difference between "the nightly rebuild failed and the
  // table is gone" and "the nightly rebuild failed and yesterday's
  // table is still being served".

  override def stageCreate(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = false, mustExist = false)
  override def stageReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, mustExist = true)
  override def stageCreateOrReplace(ident: Identifier, info: TableInfo): StagedTable =
    stage(ident, info, replace = true, mustExist = false)

  private def stage(ident: Identifier, info: TableInfo,
      replace: Boolean, mustExist: Boolean): StagedTable = {
    val layout = layoutOf(info.partitions(), info.schema())
    validateCreate(info.properties())
    // Defense-in-depth, NOT the SQL front door's check: Spark's own
    // analyzer already rejects constraint-bearing DDL for catalogs
    // that don't declare SUPPORT_TABLE_CONSTRAINT (ResolveTableConstraints),
    // so from SQL this never fires. A DIRECT stageCreate(ident, TableInfo)
    // caller bypasses the analyzer, and for that path a constraint the
    // store cannot enforce must refuse rather than silently drop.
    if (info.constraints() != null && info.constraints().nonEmpty)
      throw new UnsupportedOperationException(
        "graft tsv catalog: table constraints are not supported — " +
          "the TSV store does not enforce them, and storing an " +
          "unenforced promise would be worse than refusing")
    require(!internalName(ident.name()),
      s"graft tsv catalog: table names may not start with '_' " +
        s"(reserved for catalog-internal directories): ${ident.name()}")
    val dir = tableDir(ident)
    if (!replace && resolvedExisting(ident).nonEmpty)
      throw new TableAlreadyExistsException(ident)
    if (mustExist && resolvedExistingRetry(ident).isEmpty)
      throw new NoSuchTableException(ident)
    if (!dir.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(ident.namespace())
    // GC point for crash leftovers: a new staged publish of this table
    // reclaims `_staging_<t>_…` / `_replaced_<t>_…` orphans a killed
    // process left behind (invisible, but they hold disk; the next
    // publish is the natural sweep moment). The age guard keeps a
    // CONCURRENT publish's live staging dir safe — a genuinely racing
    // second CTAS still loses at commit (the set-aside require), it
    // just isn't deleted mid-write here. Liveness is judged by the
    // NEWEST mtime anywhere in the tree, not the dir's own (a dir's
    // mtime only moves on direct-child changes, so a long single-file
    // write would look stale): the sink's BufferedOutputStream flushes
    // every 64 KiB, so any live write keeps its temp file's mtime
    // current. Residual assumption — a writer that produces <64 KiB in
    // a full hour — is documented here rather than guarded.
    val gcCutoff = System.currentTimeMillis() - 60L * 60 * 1000
    def newestMtime(f: java.io.File): Long =
      (f.lastModified() +: Option(f.listFiles()).getOrElse(Array.empty)
        .map(newestMtime).toSeq).max
    // name check FIRST: the recursive mtime walk runs only on the few
    // matching _staging_/_replaced_ orphan candidates, never on every
    // live table's whole data tree (a per-DDL full-store stat walk
    // would be its own scale bug)
    // `_gen_` orphans are generation dirs no pointer names (a crash
    // between the staging→gen rename and the pointer flip): the CURRENT
    // pointer target is excluded unconditionally — age alone must never
    // reclaim a live generation (a cold table's data dir can be
    // arbitrarily old)
    val liveGen = GraftTsvCatalog
      .readGenPointer(dir.getParentFile, ident.name())
      .map(_.getName).getOrElse("")
    val stagingM = GraftTsvCatalog.internalDirMatcher("staging", ident.name())
    val replacedM = GraftTsvCatalog.internalDirMatcher("replaced", ident.name())
    val genM = GraftTsvCatalog.internalDirMatcher("gen", ident.name())
    Option(dir.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory &&
        (stagingM.matcher(f.getName).matches() ||
          replacedM.matcher(f.getName).matches() ||
          (genM.matcher(f.getName).matches() &&
            f.getName != liveGen)) &&
        newestMtime(f) < gcCutoff)
      .foreach(TsvWritePaths.deleteRecursively)
    val staging = new java.io.File(dir.getParentFile,
      s"_staging_${ident.name()}_" + java.util.UUID.randomUUID()
        .toString.replace("-", "").take(8))
    staging.mkdirs()
    new TsvStagedTable(info.schema(), staging, dir, replace, layout)
  }

  /** ADD COLUMN only: append a nullable trailing column to the schema
    * sidecar. No data file moves — pre-evolution rows are SHORTER TSV
    * lines, and the reader's `fieldAt` already answers NULL for a field
    * index past a row's end, so old shards surface explicit NULLs in
    * the very next scan. Everything else (drop / rename / type change /
    * positioned add) is refused loudly: TSV fields are positional, so
    * any in-place re-mapping would silently re-type existing bytes.
    *
    * MID-STREAM contract (decision note, pinned in TsvCatalogSpec): a
    * RUNNING `readStream.table` captured its schema when its scan was
    * built, and an ALTER landing mid-stream does NOT retro-fit it —
    * the running query keeps the OLD projection for every later
    * micro-batch (post-evolution rows' extra trailing field is simply
    * not parsed: positional reads ignore fields past the projection),
    * while a RESTART rebuilds the scan from the sidecar and picks up
    * the new column, with pre-evolution rows reading NULL. No batch is
    * ever torn between the two schemas. This is the only sane choice:
    * widening a live query's output mid-stream would change the shape
    * of its sink/state between micro-batches, which downstream
    * exactly-once consumers cannot absorb — schema changes ride the
    * restart boundary, the same place Spark's own stateful operators
    * require schema stability. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = resolvedExistingRetry(ident)
      .getOrElse(throw new NoSuchTableException(ident))
    val ddl = new String(
      java.nio.file.Files.readAllBytes(schemaFile(dir).toPath), "UTF-8")
    var schema = StructType.fromDDL(ddl)
    changes.foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames().length == 1,
          "graft tsv catalog: ADD COLUMN supports top-level columns " +
            s"only, got ${add.fieldNames().mkString(".")}")
        require(add.position() == null,
          "graft tsv catalog: ADD COLUMN FIRST/AFTER is not supported " +
            "— TSV fields are positional; new columns append at the end")
        require(add.isNullable,
          "graft tsv catalog: added columns must be nullable — rows " +
            "written before the evolution have no value for them")
        val name = add.fieldNames()(0)
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"graft tsv catalog: column $name already exists")
        schema = schema.add(StructField(name, add.dataType(),
          nullable = true))
      case other =>
        throw new UnsupportedOperationException(
          "graft tsv catalog: only ALTER TABLE ADD COLUMN is supported " +
            s"(got ${other.getClass.getSimpleName}) — TSV fields are " +
            "positional; drops/renames/type changes would re-map " +
            "existing bytes. Evolve by recreate.")
    }
    TsvWritePaths.writeAtomically(schemaFile(dir), schema.toDDL.getBytes("UTF-8"))
    new TsvTable(schema, dir.getPath,
      GraftTsvCatalog.readLayoutSidecar(dir, schema), requireDir = true)
  }

  override def dropTable(ident: Identifier): Boolean =
    resolvedExistingRetry(ident) match {
      case Some(dir) =>
        // pointer FIRST: the name stops resolving in one atomic step;
        // a crash after it leaves only an invisible `_gen_` orphan for
        // the next staged publish's GC sweep. A stale plain dir from a
        // crashed earlier REPLACE goes too, or the dropped table would
        // REAPPEAR through the plain-dir fallback.
        val ns = dir.getParentFile
        GraftTsvCatalog.genPtrFile(ns, ident.name()).delete()
        // every generation goes (the grace-retained previous one, and
        // `dir` itself — it is either a generation or the plain dir),
        // plus the plain dir — or the dropped table would reappear
        // through the plain-dir fallback
        GraftTsvCatalog.generationDirs(ns, ident.name())
          .foreach(TsvWritePaths.deleteRecursively)
        val plain = tableDir(ident)
        if (plain.isDirectory) TsvWritePaths.deleteRecursively(plain)
        true
      case _ => false
    }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // the RETRY variant, like every other read path (loadTable/
    // tableExists/alterTable): a rename racing a REPLACE's pointer-
    // flip/probe window must not spuriously report a live table absent
    val from = resolvedExistingRetry(oldIdent)
      .getOrElse(throw new NoSuchTableException(oldIdent))
    val to = tableDir(newIdent)
    if (resolvedExisting(newIdent).nonEmpty)
      throw new TableAlreadyExistsException(newIdent)
    if (!to.getParentFile.isDirectory)
      throw new NoSuchNamespaceException(newIdent.namespace())
    // the target name must not keep a dangling pointer that would
    // shadow the renamed-in plain directory
    GraftTsvCatalog.genPtrFile(to.getParentFile, newIdent.name()).delete()
    // a generation-pointer table MATERIALIZES on rename: the gen dir
    // renames to the plain target name (atomic), then the old pointer
    // drops — a crash between the two leaves the old name dangling
    // (resolves to nothing: target gone) and the new name live
    if (!from.renameTo(to))
      throw new java.io.IOException(
        s"graft tsv catalog: rename failed: $from -> $to")
    GraftTsvCatalog.genPtrFile(from.getParentFile, oldIdent.name()).delete()
    // a gen-based source leaves the grace-retained previous generation
    // and possibly a stale plain dir behind at the OLD name: sweep
    // both, or the old name would resurrect pre-replace data through
    // the plain-dir fallback once the pointer is gone (dropTable's
    // hazard, same cure)
    GraftTsvCatalog.generationDirs(from.getParentFile, oldIdent.name())
      .foreach(TsvWritePaths.deleteRecursively)
    val stalePlain = tableDir(oldIdent)
    if (from != stalePlain && stalePlain.isDirectory)
      TsvWritePaths.deleteRecursively(stalePlain)
    ()
  }

  // ---- namespaces ----

  override def listNamespaces(): Array[Array[String]] =
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).map(d => Array(d.getName)).sortBy(_.head)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) listNamespaces()
    else if (nsDirOpt(namespace).exists(_.isDirectory))
      Array.empty // one level only
    else throw new NoSuchNamespaceException(namespace)
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    nsDirOpt(namespace).exists(_.isDirectory)

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    java.util.Collections.singletonMap(
      SupportsNamespaces.PROP_LOCATION, nsDir(namespace).getPath)
  }

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val d = nsDir(namespace)
    if (d.isDirectory) throw new NamespaceAlreadyExistsException(namespace)
    d.mkdirs()
  }

  override def alterNamespace(namespace: Array[String],
      changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft tsv catalog: namespaces carry no alterable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val d = nsDirOpt(namespace).getOrElse(return false)
    if (!d.isDirectory) false
    else {
      val tables = listTables(namespace)
      if (tables.nonEmpty && !cascade)
        throw new org.apache.spark.sql.catalyst.analysis
          .NonEmptyNamespaceException(namespace)
      TsvWritePaths.deleteRecursively(d)
      true
    }
  }
}

object GraftTsvCatalog {
  /** The `_graft_schema` sidecar: the table's schema as DDL text, the
    * file whose presence makes a directory a table. Written through
    * [[TsvWritePaths.writeAtomically]] by create, ALTER and the staged
    * commit: a plain truncate-then-write that crashes mid-flush would
    * leave a partial DDL string and brick the table (loadTable throws
    * from fromDDL forever). */
  private[sources] def schemaFile(dir: java.io.File): java.io.File =
    new java.io.File(dir, "_graft_schema")

  /** The `_graft_partition` sidecar: the table's LAYOUT — a bare
    * column name for identity partitioning (the legacy format, still
    * written for back-compat), `bucket\t<n>\t<col>` for the hash
    * layout, absent for a flat table. Same atomic-flip discipline as
    * the schema sidecar. */
  private[sources] def writeLayoutSidecar(dir: java.io.File,
      layout: TsvLayout): Unit = {
    val f = new java.io.File(dir, "_graft_partition")
    val content: Option[String] = layout match {
      case TsvLayout.Keyed(c, _) => Some(c)
      case TsvLayout.Bucketed(c, n) => Some(s"bucket\t$n\t$c")
      case TsvLayout.Flat => None
    }
    content match {
      case Some(text) => TsvWritePaths.writeAtomically(f, text.getBytes("UTF-8"))
      case None =>
        // a FLAT create must not inherit a crashed earlier create's
        // layout sidecar (accidentally-keyed writes)
        f.delete(); ()
    }
  }

  /** The table's layout from its sidecar; a keyed layout takes its key
    * type from `schema`. */
  private[sources] def readLayoutSidecar(dir: java.io.File,
      schema: StructType): TsvLayout = {
    val f = new java.io.File(dir, "_graft_partition")
    if (!f.isFile) TsvLayout.Flat
    else new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim match {
      case s if s.startsWith("bucket\t") =>
        val parts = s.split("\t")
        require(parts.length == 3,
          s"graft tsv catalog: malformed bucket layout sidecar: $s")
        TsvLayout.Bucketed(parts(2), parts(1).toInt)
      case c => TsvLayout.of(schema, Some(c))
    }
  }

  /** Exact catalog-internal name matchers. PREFIX matching is not
    * enough: table names may contain interior underscores, so
    * `_gen_snap_` is a prefix of `_gen_snap_daily_<uuid>` — a prefix
    * sweep for table `snap` would delete table `snap_daily`'s
    * generations (cross-table data loss). Every sweep matches the
    * FULL `<kind>_<table>_<8-hex/uuid8>` shape instead. */
  private[sources] def internalDirMatcher(kind: String, table: String)
      : java.util.regex.Pattern =
    java.util.regex.Pattern.compile(
      "_" + kind + "_" + java.util.regex.Pattern.quote(table) +
        "_[0-9a-f]{8}")
  /** All of `table`'s generation dirs in `ns` (exact-name match). */
  private[sources] def generationDirs(ns: java.io.File,
      table: String): Seq[java.io.File] = {
    val m = internalDirMatcher("gen", table)
    Option(ns.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && m.matcher(f.getName).matches())
      .toSeq
  }

  /** Current-generation pointer files: `_graft_gen_<table>` in the
    * namespace dir, holding the name of the table's live generation
    * directory. Written with the sidecar atomic-flip discipline. */
  private[sources] val GenPtrPrefix = "_graft_gen_"
  private[sources] def genPtrFile(ns: java.io.File,
      table: String): java.io.File =
    new java.io.File(ns, GenPtrPrefix + table)
  private[sources] def readGenPointer(ns: java.io.File,
      table: String): Option[java.io.File] = {
    val f = genPtrFile(ns, table)
    // the pointer can vanish between isFile and read (a racing DROP) —
    // treat exactly like absent
    try {
      if (!f.isFile) None
      else Some(new java.io.File(ns, new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").trim))
    } catch {
      case _: java.nio.file.NoSuchFileException |
           _: java.io.FileNotFoundException => None
    }
  }
}

/** The staged table behind atomic CTAS/RTAS: a normal [[TsvTable]] over
  * the invisible `_staging_…` directory (so the SELECT's write lands
  * there through the ordinary task-commit sink), whose commit makes the
  * table exist in one visibility flip:
  *
  *   - CREATE (no live table): sidecars land in the staging dir, then
  *     ONE rename onto the plain table name — the table exists whole
  *     or not at all.
  *   - REPLACE (live table): the staging dir renames to an invisible
  *     `_gen_<table>_<uuid>` generation dir, then the current-generation
  *     POINTER file flips to it in one atomic write — the name resolves
  *     to the OLD generation before that instant and the NEW one after,
  *     NEVER to nothing (no two-rename NoSuchTable window; loadTable's
  *     bounded re-resolve covers a reader that grabbed the old
  *     generation just as it is reclaimed). The superseded generation
  *     (plain dir on the first REPLACE, previous `_gen_` dir after) is
  *     deleted last — a crash before that leaves an invisible orphan
  *     for the next staged publish's GC, not a torn table.
  *
  * abortStagedChanges deletes the staging dir; the target name is
  * untouched in every failure mode. */
final class TsvStagedTable(tableSchema: StructType,
    stagingDir: java.io.File, finalDir: java.io.File, replace: Boolean,
    layout: TsvLayout = TsvLayout.Flat)
    extends StagedTable
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  // the staged inner table carries the layout, so a partitioned or
  // bucketed CTAS's SELECT lands correctly-shaped data in the staging
  // dir — the layout is complete before the visibility flip
  private val inner = new TsvTable(tableSchema, stagingDir.getPath, layout)

  override def name(): String = s"graft_tsv(${finalDir.getPath}) [staged]"
  override def schema(): StructType = tableSchema
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    inner.capabilities()
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    inner.newWriteBuilder(info)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    inner.newScanBuilder(options)

  override def commitStagedChanges(): Unit = {
    GraftTsvCatalog.writeLayoutSidecar(stagingDir, layout)
    TsvWritePaths.writeAtomically(schemaFile(stagingDir),
      tableSchema.toDDL.getBytes("UTF-8"))
    val ns = finalDir.getParentFile
    val table = finalDir.getName
    def live(d: java.io.File): Boolean = schemaFile(d).isFile
    // the CURRENT generation at commit time: a valid pointer target,
    // else the plain table dir if it holds a schema
    val current: Option[java.io.File] =
      GraftTsvCatalog.readGenPointer(ns, table).filter(live)
        .orElse(Some(finalDir).filter(live))
    current match {
      case Some(old) =>
        require(replace, s"graft tsv catalog: staged CREATE found an " +
          s"existing table at ${finalDir.getPath} — racing CREATE?")
        // promote staging to a generation dir (still invisible), flip
        // the pointer atomically, THEN reclaim the superseded data —
        // the name answers old-or-new at every instant
        val gen = new java.io.File(ns,
          s"_gen_${table}_" + java.util.UUID.randomUUID()
            .toString.replace("-", "").take(8))
        if (!stagingDir.renameTo(gen))
          throw new java.io.IOException(
            s"graft tsv catalog: staged replace could not promote " +
              s"$stagingDir -> $gen")
        TsvWritePaths.writeAtomically(GraftTsvCatalog.genPtrFile(ns, table),
          gen.getName.getBytes("UTF-8"))
        // SNAPSHOT GRACE: the SUPERSEDED generation survives until the
        // NEXT publish. A reader that resolved it just before the flip
        // finishes its scan against a complete directory (a one-behind
        // snapshot — the old-or-new contract); only a reader outliving
        // a FULL rebuild cycle can meet a reclaimed generation, and
        // the scan then fails LOUDLY (missing dir != empty table for
        // catalog-resolved tables), never answers empty. What gets
        // reclaimed here is everything OLDER than the grace window:
        // generations beyond current+previous, and the stale plain dir
        // once a generation holds the grace slot.
        // the keep-set RE-READS the pointer: a concurrent REPLACE may
        // have flipped it past `gen` between our write and this sweep,
        // and deleting the CURRENT pointer target would leave the name
        // dangling forever — under racing commits the last flip wins
        // and every commit's sweep must respect whoever won
        val keep = Set(gen.getName, old.getName) ++
          GraftTsvCatalog.readGenPointer(ns, table).map(_.getName)
        GraftTsvCatalog.generationDirs(ns, table)
          .filterNot(d => keep.contains(d.getName))
          .foreach(TsvWritePaths.deleteRecursively)
        if (old.getName != table && finalDir.isDirectory)
          TsvWritePaths.deleteRecursively(finalDir)
      case None =>
        // CREATE: clean a dangling pointer (crash leftover) that would
        // shadow the plain dir, then one atomic rename publishes it.
        // A SCHEMA-LESS leftover plain directory (crash debris from an
        // earlier half-create) would make the publish rename fail on
        // POSIX (renameTo onto a non-empty dir): set it ASIDE as a
        // `_replaced_` orphan — invisible, reclaimed by the next staged
        // publish's GC sweep — instead of bricking CREATE-CTAS of this
        // name until manual cleanup
        GraftTsvCatalog.genPtrFile(ns, table).delete()
        if (finalDir.isDirectory) {
          val orphan = new java.io.File(ns,
            s"_replaced_${table}_" + java.util.UUID.randomUUID()
              .toString.replace("-", "").take(8))
          if (!finalDir.renameTo(orphan))
            throw new java.io.IOException(
              s"graft tsv catalog: could not set aside schema-less " +
                s"leftover directory $finalDir (crash debris) — clean " +
                "it up manually")
        }
        if (!stagingDir.renameTo(finalDir))
          throw new java.io.IOException(
            s"graft tsv catalog: staged commit rename failed: " +
              s"$stagingDir -> $finalDir")
    }
  }

  override def abortStagedChanges(): Unit =
    TsvWritePaths.deleteRecursively(stagingDir)
}
