package graft.sources

import java.util

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** RECLAIMED-GENERATION failures as a TYPE, not a message substring:
  * a catalog-resolved table whose directory vanished mid-use (its
  * generation reclaimed past the snapshot-grace window, or the table
  * dropped/replaced under churn) is a RETRYABLE condition — the caller
  * re-resolves the name and retries. Callers (q309's reader, any
  * serving loop) match on this class through the cause chain; carrying
  * the contract in the exception type means a rewording of the store's
  * messages can never silently convert a retryable condition into a
  * hard failure. */
class GraftGenerationReclaimedException(msg: String)
    extends IllegalStateException(msg)

object GraftGenerationReclaimedException {
  /** Is `t` (or anything in its cause chain — Spark wraps scan-time
    * failures in SparkException layers) a reclaimed-generation
    * condition? */
  def causedBy(t: Throwable): Boolean = {
    var cur = t
    var depth = 0
    while (cur != null && depth < 16) {
      if (cur.isInstanceOf[GraftGenerationReclaimedException]) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }
}

/** A DataSource V2 TSV reader with COLUMN PRUNING and FILTER PUSHDOWN —
  * the reference's tab-separated front door (`mapreduce.py:91-99`,
  * `basic_mr.py:23-27` split lines on `\t` and pick fields by index)
  * re-expressed as a first-class Spark source instead of an opaque
  * per-line lambda.
  *
  * Why this matters at 100 TB: a text scan that materializes every
  * column of every row before Spark's own Filter/Project runs pays full
  * parse cost for data it immediately drops. This source receives the
  * query's requirements AT PLANNING TIME through the DSv2 contract:
  *
  *   - [[SupportsPushDownRequiredColumns]]: only the projected columns
  *     (plus those the pushed filters read) are ever parsed/converted —
  *     unused fields are skipped at the split-array level, so a
  *     2-column projection over a 40-column TSV does ~5% of the
  *     conversion work.
  *   - [[SupportsPushDownFilters]]: Eq/compare/null-check predicates on
  *     supported columns evaluate inside the reader, BEFORE a row is
  *     assembled — rejected rows allocate nothing downstream. Predicates
  *     the source can't run (e.g. arbitrary expressions) are reported
  *     back as residuals and Spark keeps its own Filter for them, so
  *     semantics never depend on the source's coverage.
  *
  * Parallelism: newline-aligned BYTE-RANGE splits within each file
  * (the Hadoop TextInputFormat contract — see
  * [[TsvScan.planInputPartitions]]), so one large TSV parallelizes
  * across the cluster instead of becoming one task; split size is the
  * `split_bytes` read option.
  *
  * Scope: local/HDFS-style paths through java.io (the repo's scratch
  * layouts are local), BIGINT/DOUBLE/STRING columns, `\t` delimiter,
  * no quoting — exactly the reference's dialect. Empty field → NULL.
  * Line terminators: `\n` and `\r\n` (trailing CR stripped); lone-CR
  * files (classic-Mac) are NOT supported — they parse as one line.
  */
class TsvSourceProvider extends TableProvider {
  // schema is caller-provided (the reference's TSVs are headerless).
  // Reads state it via .schema(...); the WRITE path has no .schema()
  // on DataFrameWriter, so writers state it as a `write_schema` DDL
  // option (Spark validates the query's schema against it).
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Option(options.get("write_schema")).map(StructType.fromDDL).getOrElse(
      throw new IllegalArgumentException(
        "graft tsv source requires an explicit .schema(...) " +
          "(reads) or option(\"write_schema\", <ddl>) (writes)"))
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new TsvTable(schema, properties.get("path"),
      TsvLayout.of(schema, Option(properties.get("partition_col"))))
}

final class TsvTable(tableSchema: StructType, path: String,
    layout: TsvLayout = TsvLayout.Flat,
    requireDir: Boolean = false)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.TruncatableTable
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {
  require(path != null, "graft tsv source requires option(\"path\", ...)")

  private def rootDir = new java.io.File(TsvWritePaths.strip(path))

  /** Mutations against a CATALOG-resolved table whose directory is
    * gone (generation reclaimed past the grace window, or table
    * dropped) must fail loudly — a DELETE/TRUNCATE that "succeeds" by
    * finding nothing to delete, or a write that mkdirs an invisible
    * zombie generation, is the silent-wrong-result class the read
    * path's requireDirAlive already refuses. Path-API tables stay
    * lenient (a path is just a path). */
  private def requireAliveForMutation(op: String): Unit =
    if (requireDir && !rootDir.isDirectory)
      throw new GraftGenerationReclaimedException(
        s"graft tsv: $op on $path refused — the table directory no " +
          "longer exists (generation reclaimed past the snapshot-grace " +
          "window, or table dropped); re-resolve the table name and " +
          "retry")

  /** `TRUNCATE TABLE t` ([[TruncatableTable]]): clear the data, keep
    * the table — the same truncate set as the sink's overwrite
    * ([[TsvLayout.truncateTargets]]); a path surviving its delete
    * fails the statement. */
  override def truncateTable(): Boolean = {
    requireAliveForMutation("TRUNCATE TABLE")
    TsvWritePaths.deleteAllOrThrow(layout.truncateTargets(rootDir),
      s"TRUNCATE TABLE ${name()}")
    true
  }

  // ---- SHOW PARTITIONS / ADD PARTITION / DROP PARTITION ----
  // ([[SupportsPartitionManagement]]) — the DDL face of the keyed
  // layout: partitions ARE directories, so every operation here is
  // O(1) filesystem metadata. ADD creates an empty-but-visible key dir
  // (it lists, and scans plan zero splits for it); DROP is q280's
  // retention primitive as ALTER TABLE syntax. Partition METADATA
  // (per-partition properties) does not exist in this store — loudly
  // refused, not silently dropped. Flat tables refuse partition DDL
  // with a clear message (partitionSchema stays honest: empty).

  private def keyed: Option[TsvLayout.Keyed] = layout match {
    case k: TsvLayout.Keyed => Some(k)
    case _ => None
  }
  private def requireKeyed(): TsvLayout.Keyed = keyed.getOrElse(
    throw new UnsupportedOperationException(
      s"graft tsv: ${name()} is not partitioned — partition DDL needs " +
        "a PARTITIONED BY identity(col) table"))
  /** The directory token of a partition-DDL ident, canonicalized
    * (BIGINT) or validated path-safe (STRING). */
  private def keyToken(ident: InternalRow): String = {
    val k = requireKeyed()
    val v = ident.get(0, k.keyType)
    TsvLayout.validateKeyToken(k.tokenOf(v).getOrElse(
      throw new IllegalArgumentException(
        s"graft tsv: partition value $v is not a ${k.keyType.sql} key")))
  }
  private def partDir(token: String) = requireKeyed().dirOf(rootDir, token)

  override def partitionSchema(): StructType =
    keyed.fold(new StructType())(k =>
      new StructType().add(k.col, k.keyType, nullable = false))

  override def createPartition(ident: InternalRow,
      properties: util.Map[String, String]): Unit = {
    if (properties != null && !properties.isEmpty)
      throw new UnsupportedOperationException(
        "graft tsv: partitions carry no metadata — properties on ADD " +
          "PARTITION would be silently lost, so they are refused")
    val d = partDir(keyToken(ident))
    // judge by the mkdirs() RESULT, not a check-then-act isDirectory
    // probe: two concurrent ADDs must not both report success, and a
    // mkdirs failure (permissions, fs error) must not leave the
    // partition "created" but absent
    if (!d.mkdirs()) {
      if (d.isDirectory)
        throw new org.apache.spark.sql.catalyst.analysis
          .PartitionsAlreadyExistException(name(), ident, partitionSchema())
      throw new java.io.IOException(
        s"graft tsv: ADD PARTITION could not create $d")
    }
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val d = partDir(keyToken(ident))
    val existed = d.isDirectory
    if (existed) TsvWritePaths.deleteRecursively(d)
    existed
  }

  override def partitionExists(ident: InternalRow): Boolean =
    partDir(keyToken(ident)).isDirectory

  override def replacePartitionMetadata(ident: InternalRow,
      properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft tsv: partitions carry no metadata to replace")

  override def loadPartitionMetadata(ident: InternalRow)
      : util.Map[String, String] = java.util.Collections.emptyMap()

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val k = requireKeyed()
    require(names.forall(_ == k.col),
      s"graft tsv: unknown partition column(s) ${names.mkString(", ")}")
    val want: Option[String] =
      if (names.isEmpty) None else Some(keyToken(ident))
    k.keyDirs(rootDir, strict = false)
      .map(_._1)
      .filter(t => want.forall(_ == t))
      .map(t => InternalRow(k.keyValue(t)))
      .toArray
  }

  /** Conjunction of the DELETE predicates as partition keys: outer None
    * = some predicate is not answerable from the layout (refuse); inner
    * None = no key constraint (truncate-all); inner Some(keys) = drop
    * exactly those (an empty set deletes nothing — e.g. IN ()). A
    * literal that is no key token ([[TsvLayout.tokenOf]]) refuses the
    * whole DELETE rather than matching nothing silently. */
  private def deleteKeys(filters: Array[Filter])
      : Option[Option[Set[String]]] = keyed.flatMap { k =>
    val per = filters.toSeq.map {
      case AlwaysTrue() => Some(None)
      case f => k.tokensOf(f).map(Some(_))
    }
    if (per.exists(_.isEmpty)) None
    else Some(per.flatten.foldLeft(Option.empty[Set[String]]) {
      case (None, ks) => ks
      case (acc, None) => acc
      case (Some(a), Some(b)) => Some(a.intersect(b))
    })
  }

  /** PARTITION-LEVEL DELETE ([[SupportsDelete]]) — the retention /
    * right-to-be-forgotten primitive at 100 TB: `DELETE FROM t WHERE
    * <partition-col predicate>` drops whole `<col>=<v>/` directories as
    * a METADATA operation (no data read, no rewrite). Only predicates
    * the layout can answer exactly are accepted — equality/IN on the
    * partition column (and AlwaysTrue = truncate); anything touching a
    * data column would need a row-level rewrite this source does not
    * implement, so [[canDeleteWhere]] says no and Spark FAILS the
    * statement loudly rather than half-applying it. That refusal is
    * the contract's point: a delete either maps to partition drops or
    * it is not runnable here. */
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    deleteKeys(filters).nonEmpty

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireAliveForMutation("DELETE")
    val keys = deleteKeys(filters).getOrElse(
      throw new IllegalArgumentException(
        s"graft tsv source: DELETE supports only ${keyed.fold(
            "<partition_col>")(_.col)} equality/IN predicates, got " +
          filters.mkString(", ")))
    layout.keyDirs(rootDir, strict = false)
      .filter { case (t, _) => keys.forall(_.contains(t)) }
      .foreach { case (_, d) => TsvWritePaths.deleteRecursively(d) }
  }
  override def name(): String = s"graft_tsv($path)"
  override def schema(): StructType = tableSchema
  /** A table-level layout (catalog `PARTITIONED BY identity(col)` or
    * `bucket(n, col)`) is REPORTED partitioning: DESCRIBE shows it, and
    * the scan/write paths below pick it up without any per-query
    * option. */
  override def partitioning(): Array[Transform] = layout.transform.toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE)

  /** HIDDEN METADATA COLUMNS ([[SupportsMetadataColumns]]) — the DSv2
    * analog of the parquet `_metadata` struct (q163/q208): `_file`
    * (the split's file path) and `_pos` (the byte offset of the line's
    * first byte in that file) materialize ONLY when a query references
    * them, at zero cost otherwise — record-level provenance without a
    * lineage table. `_pos` is the reader's already-tracked split
    * offset, so provenance costs nothing even when requested; the pair
    * (_file, _pos) is a stable record locator for audit trails,
    * incremental re-reads, and error reporting (the reference prints
    * raw line context on parse errors — this is that capability as a
    * queryable column). A data column of the same name shadows the
    * metadata column, per the contract. */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] =
    Array(TsvMetaCol("_file", StringType), TsvMetaCol("_pos", LongType))

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    // `compression=gzip`: the WRITE side of the cold-archive tier the
    // scan already reads (q300) — shards land as `.txt.gz` through the
    // same task-commit protocol. The number of write tasks IS the
    // future read parallelism (a gz shard is one split, q131's
    // documented contract), so producers size their shard count like
    // they'd size partitions.
    requireAliveForMutation("write")
    val codec = Option(info.options().get("compression"))
      .map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("none")
    require(codec == "none" || codec == "gzip",
      s"graft tsv sink: compression must be none|gzip, got $codec")
    new TsvWriteBuilder(info.schema(), path, layout, info.queryId(),
      gzip = codec == "gzip")
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val splitBytes = options.getLong("split_bytes", 32L * 1024 * 1024)
    // fail loudly at plan time: 0 would throw an opaque NumericRange
    // error, a negative value would SILENTLY plan zero partitions
    require(splitBytes > 0,
      s"graft tsv source: split_bytes must be positive, got $splitBytes")
    // `partition_col`: the source reads a hive-style layout
    // (<col>=<value>/ subdirectories) and REPORTS the key-grouped
    // partitioning to the planner — see TsvScan.outputPartitioning.
    // A catalog table's own layout is the default; the explicit option
    // keeps the path API's contract. The difference is STRICTNESS: a
    // path told to be keyed must have key dirs (a typo'd path failing
    // loudly beats scanning nothing), but a freshly created partitioned
    // catalog table is legitimately empty.
    val optionCol = Option(options.get("partition_col"))
    val scanLayout =
      if (optionCol.isEmpty) layout else TsvLayout.of(tableSchema, optionCol)
    // streaming admission control (micro-batch read path only):
    // maxFilesPerTrigger / maxBytesPerTrigger bound each micro-batch,
    // FileStreamSource's option names on the DSv2 contract
    val maxFiles = Option(options.get("maxFilesPerTrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"graft tsv source: maxFilesPerTrigger must be " +
        s"positive, got $n")
      n
    }
    val maxBytes = Option(options.get("maxBytesPerTrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"graft tsv source: maxBytesPerTrigger must be " +
        s"positive, got $n")
      n
    }
    val maxFileAge = Option(options.get("maxFileAgeMs")).map { v =>
      val n = v.toLong
      require(n > 0, s"graft tsv source: maxFileAgeMs must be " +
        s"positive, got $n")
      n
    }
    new TsvScanBuilder(tableSchema, path, splitBytes, scanLayout,
      strictLayout = optionCol.nonEmpty,
      streamLimits = TsvStreamLimits(maxFiles, maxBytes, maxFileAge),
      requireDir = requireDir)
  }
}

/** A TSV metadata column (`_file`/`_pos`), hidden unless referenced. */
final case class TsvMetaCol(colName: String, colType: DataType)
    extends org.apache.spark.sql.connector.catalog.MetadataColumn {
  override def name(): String = colName
  override def dataType(): DataType = colType
  override def isNullable: Boolean = false
}

/** One pushed aggregate function: `op` ∈ count_star/count/min/max/sum,
  * `col` the single input column (None for count_star), `resType` the
  * PARTIAL result type Spark's final aggregate merges. */
final case class TsvAggFn(op: String, col: Option[String], resType: DataType)

/** A pushed (partial) aggregation: per-split pre-aggregation the final
  * Spark Aggregate merges. Scan output = groupCols ++ fns, positionally
  * matched by Spark's V2 pushdown rule. */
final case class TsvAggSpec(groupCols: Seq[String], fns: Seq[TsvAggFn])

/** One pushed sort key: `asc`/`nullsFirst` are the RESOLVED order (the
  * connector SortOrder's direction and null placement, already combined
  * by Spark). */
final case class TsvSortKey(name: String, asc: Boolean, nullsFirst: Boolean)

/** A pushed top-N: keep the first `n` rows of each split under `keys`. */
final case class TsvTopNSpec(keys: Seq[TsvSortKey], n: Int)

/** Per-trigger admission bounds for the micro-batch stream (both unset
  * = drain everything new per trigger), plus the optional retention
  * horizon: with `maxFileAgeMs` set, files older than (newest file's
  * mtime - age) are IGNORED — never admitted — and the driver's
  * seen-set prunes entries past the horizon at each compaction, so
  * memory stays bounded on an ever-appending store (FileStreamSource's
  * maxFileAge contract). */
final case class TsvStreamLimits(maxFiles: Option[Int],
    maxBytes: Option[Long], maxFileAgeMs: Option[Long] = None)
object TsvStreamLimits {
  val none: TsvStreamLimits = TsvStreamLimits(None, None, None)
}

final class TsvScanBuilder(fullSchema: StructType, path: String,
    splitBytes: Long, layout: TsvLayout = TsvLayout.Flat,
    strictLayout: Boolean = true,
    streamLimits: TsvStreamLimits = TsvStreamLimits.none,
    requireDir: Boolean = false)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownLimit with SupportsPushDownTopN
    with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var keyFilters: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var aggSpec: Option[TsvAggSpec] = None
  private var topN: Option[TsvTopNSpec] = None

  /** TOP-N pushdown ([[SupportsPushDownTopN]]): for `ORDER BY k LIMIT n`
    * each split keeps a BOUNDED HEAP of its n best rows under the sort
    * keys (after the pushed filters) instead of emitting every parsed
    * row — the source-level analog of TakeOrderedAndProject's
    * per-partition heaps, moved below the parse so a split's output is
    * ≤ n rows no matter how many lines it holds. Inherently PARTIAL
    * (k splits emit up to k·n rows; [[isPartiallyPushed]] is already
    * true), so Spark keeps its global TakeOrdered and semantics never
    * depend on the source. Accepted: every key a plain existing
    * column of orderable type; anything else (expressions, structs)
    * returns false and the scan stays a full scan under Spark's own
    * sort. Mutually exclusive with a pushed aggregation (different
    * plan slots; refuse defensively). */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, NullOrdering, SortDirection}
    if (aggSpec.nonEmpty || n < 0) return false
    val keys = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames.length == 1 &&
            fullSchema.fieldNames.contains(nr.fieldNames()(0)) &&
            Seq(LongType, IntegerType, DoubleType, StringType)
              .contains(fullSchema(nr.fieldNames()(0)).dataType) =>
          Some(TsvSortKey(nr.fieldNames()(0),
            so.direction() == SortDirection.ASCENDING,
            so.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (keys.isEmpty || keys.exists(_.isEmpty)) return false
    topN = Some(TsvTopNSpec(keys.map(_.get), n))
    true
  }


  /** AGGREGATE PUSHDOWN ([[SupportsPushDownAggregates]]), PARTIAL mode:
    * each split pre-aggregates its own lines and emits one row per
    * group; Spark's final Aggregate merges the k·|groups| partial rows
    * (SUM of counts, MIN of mins, …). At 100 TB this turns the scan's
    * output from N parsed rows into |groups| rows per split BEFORE
    * anything reaches the exchange — the source-level analog of
    * map-side combine, and the reason `supportCompletePushDown` stays
    * false: complete pushdown would serialize the cross-split merge
    * into the source, where partial keeps it in Spark's parallel
    * aggregate. Accepted shapes: MIN/MAX/SUM/COUNT/COUNT(*) over plain
    * BIGINT/DOUBLE/STRING columns (SUM numeric only, nothing DISTINCT),
    * GROUP BY plain columns (file or partition). Anything else returns
    * false and Spark plans its own aggregate over the raw scan —
    * semantics never depend on the source's coverage, exactly the
    * pushFilters residual contract. Memory: one (groupKey → state) map
    * entry per DISTINCT group per split, the same bound as any hash
    * aggregate at `|groups| ≪ rows`; a grouping that approaches row
    * cardinality should not be pushed down by the caller's query shape
    * in the first place (Spark's own agg spills, this map does not). */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    // a pushed LIMIT above an aggregate cannot happen in one plan slot;
    // refuse defensively if it somehow does
    if (limit >= 0) return false
    def colName(
        e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames()(0)).filter(n =>
          fullSchema.fieldNames.contains(n))
      case _ => None
    }
    def typeOf(n: String): DataType = fullSchema(n).dataType
    val groups = agg.groupByExpressions.toSeq.map(colName)
    if (groups.exists(_.isEmpty)) return false
    val fns = agg.aggregateExpressions.toSeq.map {
      case _: CountStar =>
        Some(TsvAggFn("count_star", None, LongType))
      case c: Count if !c.isDistinct =>
        colName(c.column).map(n => TsvAggFn("count", Some(n), LongType))
      case m: Min =>
        colName(m.column).collect {
          case n if Seq(LongType, DoubleType, StringType).contains(typeOf(n)) =>
            TsvAggFn("min", Some(n), typeOf(n))
        }
      case m: Max =>
        colName(m.column).collect {
          case n if Seq(LongType, DoubleType, StringType).contains(typeOf(n)) =>
            TsvAggFn("max", Some(n), typeOf(n))
        }
      case s: Sum if !s.isDistinct =>
        colName(s.column).collect {
          case n if typeOf(n) == LongType => TsvAggFn("sum", Some(n), LongType)
          case n if typeOf(n) == DoubleType =>
            TsvAggFn("sum", Some(n), DoubleType)
        }
      case _ => None
    }
    if (fns.exists(_.isEmpty)) return false
    aggSpec = Some(TsvAggSpec(groups.map(_.get), fns.map(_.get)))
    true
  }

  /** Scan output schema for a pushed aggregation: grouping columns
    * first (their source types), then one column per aggregate (its
    * partial-result type) — the positional contract of Spark's
    * V2ScanRelationPushDown rewrite. */
  private def aggSchema(spec: TsvAggSpec): StructType = {
    val g = spec.groupCols.map(n => fullSchema(n))
    val a = spec.fns.zipWithIndex.map { case (f, i) =>
      StructField(s"${f.op}(${f.col.getOrElse("*")})_$i", f.resType)
    }
    StructType((g ++ a).toArray)
  }

  /** LIMIT pushdown: each split stops parsing after `l` surviving rows
    * (the limit applies AFTER the pushed filters, matching Spark's
    * Filter→Limit order at this plan position). Inherently PARTIAL for
    * a multi-split source — k splits can emit up to k·l rows — so
    * [[isPartiallyPushed]] stays true and Spark keeps its global Limit;
    * the win is each task touching at most `l` matching lines instead
    * of its whole byte range (CollectLimitExec already runs splits
    * incrementally, so `LIMIT n` on a 10 GB TSV reads ~one split AND
    * that split now stops after n rows). */
  override def pushLimit(l: Int): Boolean = { limit = l; true }
  override def isPartiallyPushed(): Boolean = true

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands the post-projection schema; keep its column order.
    // With a pushed aggregation the scan's output schema is fixed by
    // aggSchema (Spark re-states it here positionally) — ignore.
    if (aggSpec.isEmpty) required = requiredSchema

  /** Accept the predicate shapes the reader can evaluate EXACTLY on a
    * single parsed field; everything else stays Spark's job (returned
    * as residual). Accepted filters are not echoed back as residuals —
    * the reader's evaluation is exact for these shapes, so Spark's
    * duplicate Filter would be pure overhead. String columns accept
    * only equality/null checks: range comparisons on strings would
    * need Spark's UTF8 binary collation, and Java's UTF-16 compareTo
    * diverges from it outside ASCII — a silent wrong-rows bug, so the
    * source declines and Spark filters those itself. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // the partition column is NOT in the file data (hive-style layout),
    // so its predicates can't run on parsed fields — but the key is
    // CONSTANT per directory, so any single-key comparison evaluates
    // EXACTLY on the directory name at plan time: those are accepted
    // as STATIC PARTITION PRUNING (keyFilters, kept out of the
    // reader-bound `pushed` set — readers can't index the synthesized
    // column). At 100 TB this is the difference between "WHERE
    // shard = 7 lists one directory" and "reads the table to drop
    // 15/16ths of it". Shapes dir-name evaluation can't answer exactly
    // stay Spark's job on the synthesized column.
    def inFile(a: String): Boolean = !layout.synthCol.contains(a)
    def numeric(a: String): Boolean = inFile(a) &&
      fullSchema.fields.find(_.name == a).exists(_.dataType match {
        case LongType | IntegerType | DoubleType | FloatType => true
        case _ => false
      })
    def known(a: String): Boolean =
      inFile(a) && fullSchema.fieldNames.contains(a)
    // null-check shapes on the key are deliberately DECLINED, not
    // pruned: IsNotNull prunes nothing (dir keys are never null) but
    // accepting it erases the join-inferred not-null Filter above the
    // scan and with it the plan shape the storage-partitioned join
    // pins (q287) — zero pruning value is not worth a plan regression.
    // The accepted shapes are the layout's ([[TsvLayout.Keyed.prunes]]).
    val (keyOk, rest) = layout match {
      case k: TsvLayout.Keyed => filters.partition(k.prunes)
      case _ => (Array.empty[Filter], filters)
    }
    keyFilters = keyOk
    val (ok, residual) = rest.partition {
      case EqualTo(a, _) => known(a)
      // In = a disjunction of exact equalities the reader evaluates
      // per-value; NULL elements are declined whole (IN (…, NULL) is
      // three-valued — a row matching no element answers NULL, not
      // false, and the reader's boolean evaluation can't express
      // that). Accepting In is also what makes the scan's STATIC
      // bucket pruning reachable for IN point-lookups on the cluster
      // column (the pruned set derives from `pushed`).
      case In(a, vs) => known(a) && vs.nonEmpty && vs.forall(_ != null)
      case GreaterThan(a, _) => numeric(a)
      case GreaterThanOrEqual(a, _) => numeric(a)
      case LessThan(a, _) => numeric(a)
      case LessThanOrEqual(a, _) => numeric(a)
      case IsNotNull(a) => known(a)
      case IsNull(a) => known(a)
      case _ => false
    }
    pushed = ok
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed ++ keyFilters

  override def build(): Scan = aggSpec match {
    case Some(spec) =>
      new TsvScan(fullSchema, aggSchema(spec), pushed, path, splitBytes,
        limit, layout, Some(spec), strictLayout = strictLayout,
        keyFilters = keyFilters, streamLimits = streamLimits,
        requireDir = requireDir)
    case None =>
      new TsvScan(fullSchema, required, pushed, path, splitBytes, limit,
        layout, None, topN, strictLayout = strictLayout,
        keyFilters = keyFilters, streamLimits = streamLimits,
        requireDir = requireDir)
  }
}

final class TsvScan(fullSchema: StructType, required: StructType,
    pushed: Array[Filter], path: String, splitBytes: Long, limit: Int,
    layout: TsvLayout = TsvLayout.Flat,
    aggSpec: Option[TsvAggSpec] = None,
    topN: Option[TsvTopNSpec] = None,
    strictLayout: Boolean = true,
    keyFilters: Array[Filter] = Array.empty,
    streamLimits: TsvStreamLimits = TsvStreamLimits.none,
    requireDir: Boolean = false)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportPartitioning with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportOrdering {

  /** SORTED-LAYOUT contract ([[SupportsReportOrdering]], the last rung
    * of the scan-report ladder: stats → key partitioning → ORDERING).
    * Every split of a keyed layout holds exactly one `<col>=<value>`
    * shard, so within any scan partition the partition column is
    * CONSTANT — trivially sorted ascending. Reporting that lets
    * EnsureRequirements drop the SortExec a merge join or sorted
    * aggregate would otherwise insert on each side: combined with the
    * key-grouped partitioning (q270) a co-keyed fact-fact join plans
    * with NO exchange AND NO sort — the scan feeds the merge directly,
    * which at 100 TB removes the last per-query O(n log n) pass the
    * layout already paid for at write time. Like the key grouping,
    * only the raw keyed scan reports it (a pushed aggregation emits
    * group rows, not key-constant rows). */
  override def outputOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    layout.synthCol.filter(_ => aggSpec.isEmpty).map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.sort(
        org.apache.spark.sql.connector.expressions.Expressions.column(c),
        org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      .toArray

  /** RUNTIME FILTERING ([[SupportsRuntimeFiltering]]) — the DSv2 analog
    * of dynamic partition pruning (q268): when a keyed or bucketed
    * layout's key column is a join key against a filtered dimension,
    * Spark plants a `dynamicpruning` subquery on this scan; at
    * execution it calls [[filter]] with the dim's surviving key set
    * and THEN [[planInputPartitions]], so pruned `shard=<v>/` (or
    * bucket) dirs are never listed, split, or read. Only the key column
    * is offered ([[filterAttributes]]): its predicate evaluates on the
    * DIRECTORY NAME — zero data bytes per pruned partition. A runtime
    * predicate on a data column would have to parse every line to
    * evaluate (no skip possible in headerless TSV), so the source
    * honestly declines those — Spark keeps its own join-side filter.
    * At 100 TB this is the q268 story without a catalog: the scan
    * reads the joined-to shards, not the table. */
  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    layout.keyCol.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c)).toArray

  // driver-side runtime state: the surviving directory TOKENS (None =
  // no runtime filter delivered). A bucket holds many key values, so
  // for a bucketed layout this is a superset filter — Spark's own join
  // still decides rows.
  private var runtimeKeys: Option[Set[String]] = None

  // a filter with any value that is no token is declined whole
  // (TsvLayout.tokensOf): a partial keep-set would prune dirs the
  // unconvertible value might still need, and Spark keeps its own join
  // filter either way, so declining only costs the pruning
  override def filter(filters: Array[Filter]): Unit =
    filters.flatMap(layout.tokensOf).foreach { keep =>
      runtimeKeys = Some(runtimeKeys.fold(keep)(_ intersect keep))
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"GraftTsvScan path=$path, ReadSchema: ${required.simpleString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]" +
      (if (limit >= 0) s", PushedLimit: $limit" else "") +
      topN.fold("")(t => s", PushedTopN: ORDER BY [${t.keys.map(k =>
        s"${k.name} ${if (k.asc) "ASC" else "DESC"} NULLS ${
          if (k.nullsFirst) "FIRST" else "LAST"}").mkString(", ")}] LIMIT ${t.n}") +
      layout.synthCol.fold("")(c => s", KeyGroupedBy: $c") +
      (if (keyFilters.nonEmpty)
        s", PushedPartitionFilters: [${keyFilters.mkString(", ")}]"
      else "") +
      aggSpec.fold("")(sp =>
        s", PushedAggregates: [${sp.fns.map(f =>
            s"${f.op.toUpperCase}(${f.col.getOrElse("*")})").mkString(", ")}]" +
          s", PushedGroupBy: [${sp.groupCols.mkString(", ")}]")

  /** STORAGE-PARTITIONED JOIN support ([[SupportsReportPartitioning]]).
    *
    * A keyed layout (hive-style `<col>=<value>/` dirs) reports
    * [[KeyGroupedPartitioning]] on the identity transform of the
    * partition column; a BUCKETED layout reports the bucket TRANSFORM,
    * which the planner resolves through the catalog's `bucket`
    * function. Every split carries its key
    * ([[TsvKeyedInputPartition.partitionKey]]), so under
    * `spark.sql.sources.v2.bucketing.enabled` Spark groups the splits
    * by key and an equi-join of two co-keyed (or co-bucketed: same
    * canonicalName, same n) sources plans with NO Exchange on either
    * side — the DSv2-native analog of the repo's bucketed-table joins
    * (q77), and what turns a 100 TB fact-fact join from two full
    * shuffles into a zip of co-located key groups. With a pushed
    * aggregation the split output is group rows, not key rows, so only
    * the raw scan reports the grouping; flat layouts report
    * [[UnknownPartitioning]] (the DSv2 default). */
  override def outputPartitioning():
      org.apache.spark.sql.connector.read.partitioning.Partitioning =
    layout.transform.filter(_ => aggSpec.isEmpty) match {
      case Some(t) =>
        new org.apache.spark.sql.connector.read.partitioning
          .KeyGroupedPartitioning(Array(t), keyDirs.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning
          .UnknownPartitioning(0)
    }

  private def root = new java.io.File(TsvWritePaths.strip(path))

  /** Key directories of a keyed or bucketed layout surviving STATIC
    * pruning, sorted by key for deterministic planning
    * ([[TsvLayout.keyDirs]]). Pruning happens HERE, at listing time: a
    * pruned dir is never split, never counted in the reported key
    * grouping, never sized into the stats estimate. Keyed layouts prune
    * exactly on the accepted key predicates; bucketed layouts map an
    * equality/IN on the cluster column to its buckets — the predicate
    * itself still runs in the reader (a bucket holds many values;
    * pruning is a superset filter, never the answer). Strict (the
    * path-API default) fails loudly on a missing/empty layout; a
    * CATALOG table's own layout passes strict=false — a freshly created
    * partitioned table is legitimately empty and scans as zero rows,
    * not an error. */
  private lazy val keyDirs: Seq[(String, java.io.File)] = {
    val keep = layout.keep(keyFilters ++ pushed)
    layout.keyDirs(root, strict = strictLayout)
      .filter { case (t, _) => keep(t) }
  }

  /** The data files this scan reads, with their directory tokens: the
    * flat view, or the surviving key dirs' files (runtime-filtered
    * when a runtime filter was delivered). */
  private def dataFiles: Seq[(String, java.io.File)] = layout match {
    case TsvLayout.Flat => TsvLayout.flatFiles(root).map("" -> _)
    case _ =>
      keyDirs.filter { case (t, _) => runtimeKeys.forall(_.contains(t)) }
        .flatMap { case (t, d) => TsvLayout.dataFilesIn(d).map(t -> _) }
  }

  /** Size estimate for the planner ([[SupportsReportStatistics]]):
    * without it a DSv2 relation defaults to "unknown = huge", so a
    * 100 KB TSV dimension joins as a full shuffle instead of a
    * broadcast — the planner literally cannot see that the side is
    * small. Reported size = on-disk bytes scaled by the PROJECTED
    * column fraction (TSV bytes are roughly proportional to field
    * count, and what reaches the join is the pruned row), so AQE /
    * autoBroadcastJoinThreshold decisions see the post-pruning
    * payload. File lengths come from the same listing the partition
    * planner uses — metadata only, no data read at plan time; a keyed
    * or bucketed scan sizes only its SURVIVING dirs, or a side pruned
    * to one shard still looks too big to broadcast.
    * numRows stays empty: estimating it would need a byte sample, and
    * sizeInBytes alone drives the broadcast decision. */
  override def estimateStatistics(): Statistics = {
    // gz shards report DECOMPRESSED-ish bytes (compressed length ×
    // a conservative expansion): the estimate exists to protect the
    // broadcast decision, and under-estimating a gz side by the
    // compression ratio is exactly how a "small" table OOMs a broadcast
    def sized(file: java.io.File): Long =
      if (TsvLayout.isGzip(file.getName))
        file.length() * TsvLayout.GzExpansion
      else file.length()
    val totalBytes = dataFiles.map { case (_, f) => sized(f) }.sum
    val fraction =
      math.max(1, required.size).toDouble / math.max(1, fullSchema.size)
    val estimate = math.max(1L, math.ceil(totalBytes * fraction).toLong)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(estimate)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  /** A CATALOG-resolved table's directory exists from CREATE until the
    * table dies — so a MISSING directory at read-planning time means
    * the resolved generation was reclaimed (a reader that outlived the
    * snapshot-grace window) or the table was dropped. Failing loudly
    * here is what keeps the REPLACE contract honest: the alternative
    * is a silently EMPTY scan, wrong data with a green status. Path-API
    * tables keep the lenient view (requireDir=false): a path is just a
    * path, and empty/missing distinguishes nothing there. */
  private def requireDirAlive(): Unit =
    if (requireDir && !root.isDirectory)
      throw new GraftGenerationReclaimedException(
        s"graft tsv: table directory $path no longer exists — the " +
          "resolved generation was reclaimed (reader outlived the " +
          "snapshot-grace window) or the table was dropped; " +
          "re-resolve the table name and retry")

  /** One partition per newline-aligned BYTE RANGE, not per file — the
    * Hadoop TextInputFormat contract: a 10 GB TSV must parallelize
    * across the cluster, not become one task. Each split owns exactly
    * the lines whose FIRST byte falls inside [start, end): a split
    * starting mid-line discards up to the first newline (the previous
    * split owns that line) and the last owned line is read to ITS end
    * even past the split boundary — every line is read exactly once
    * with no coordination. Split size comes from the `split_bytes`
    * read option (default 32 MiB; tests shrink it to force many
    * splits per file). A keyed or bucketed split carries its key so
    * Spark can group them; a delivered runtime filter has already
    * pruned whole dirs before any file is listed for splitting. */
  override def planInputPartitions(): Array[InputPartition] = {
    requireDirAlive()
    dataFiles.flatMap { case (token, file) =>
      TsvLayout.byteSplits(file, splitBytes).map { case (start, end) =>
        layout.split(file.getPath, start, end, token): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(fullSchema, required, pushed, limit, layout,
      aggSpec, topN)

  /** STREAMING front door ([[TableCapability.MICRO_BATCH_READ]]): the
    * TSV store becomes an unbounded source under the same immutability
    * contract as Spark's own FileStreamSource: files are append-only
    * and never mutated once visible (exactly what the TSV sink's
    * commit-time rename guarantees — a half-written task file lives
    * under `_temporary/` where the listing never looks). The OFFSET is
    * a version number into a checkpointed seen-files log (O(1) to
    * serialize — the 100 TB requirement); a micro-batch is the logged
    * file DELTA between two versions, byte-split like the batch scan;
    * pushed columns/filters flow through the same ScanBuilder, and
    * admission control ([[SupportsAdmissionControl]]) bounds each
    * version by maxFilesPerTrigger/maxBytesPerTrigger. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TsvMicroBatchStream(fullSchema, required, pushed, path,
      splitBytes, layout, keyFilters, streamLimits,
      checkpointLocation, requireDir = requireDir)
}

/** Offset = a VERSION NUMBER into the stream's checkpointed seen-files
  * log. Serialization is O(1) regardless of store size — the log, not
  * the offset, carries the file names (FileStreamSource's design at
  * the DSv2 contract). Equality is by JSON (Spark's offset rule). */
final case class TsvVersionOffset(v: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"v":$v}"""
}

/** The TSV store as an unbounded micro-batch source.
  *
  * SEEN-FILES LOG (`<checkpoint>/graft_tsv_seen/`): each trigger that
  * admits new files appends delta file `<v>` (the JSON list of paths
  * admitted into version v — atomic temp+move, like every sidecar in
  * this store); every [[CompactInterval]] versions a `<v>.compact`
  * snapshot of the full seen-set lands beside it and deltas older than
  * the previous window are pruned. Restart recovery replays the log
  * (latest compact + following deltas), so `latestOffset` is O(new
  * files) and the OFFSET is one integer — at 100 TB the alternative
  * (file-list offsets) re-serializes the whole store's listing into
  * Spark's offset log every trigger, which is exactly the scaling wall
  * FileStreamSource's metadata log exists to avoid.
  *
  * ADMISSION CONTROL ([[SupportsAdmissionControl]]): versions are
  * BOUNDED by `maxFilesPerTrigger`/`maxBytesPerTrigger` — a stream
  * (re)started over a grown store drains in bounded batches instead of
  * one table-sized micro-batch (the reference's chunk-size planning,
  * mapreduce.py:148-150, applied to the unbounded path). Under
  * [[SupportsTriggerAvailableNow]] the end of the drain is PINNED at
  * start: files landing mid-drain wait for the next run, and the query
  * self-terminates at the prepared frontier (q176's contract made
  * native — no wrapper needed).
  *
  * The file view is the SAME as the batch scan's ([[TsvLayout]]): a
  * keyed or bucketed store lists only its key dirs (static pruning
  * applies to the stream too — a pruned dir's files never enter an
  * offset), a flat store lists root files plus hive-style subdirs; an
  * EMPTY keyed store is a legitimate pre-first-commit stream state
  * (strict = false). Keyed splits re-derive their key from the logged
  * path's parent directory through the same [[TsvLayout.dirToken]] the
  * listing itself uses, so the two can never disagree. */
final class TsvMicroBatchStream(fullSchema: StructType,
    required: StructType, pushed: Array[Filter], path: String,
    splitBytes: Long, layout: TsvLayout,
    keyFilters: Array[Filter] = Array.empty,
    streamLimits: TsvStreamLimits = TsvStreamLimits.none,
    checkpointLocation: String = "",
    requireDir: Boolean = false)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
  import TsvMicroBatchStream.CompactInterval

  private val keep = layout.keep(keyFilters ++ pushed)

  private def currentFiles: Seq[String] = {
    val root = new java.io.File(TsvWritePaths.strip(path))
    if (requireDir && !root.isDirectory)
      throw new GraftGenerationReclaimedException(
        s"graft tsv stream: table directory $path no longer exists — " +
          "the table was REPLACEd past the snapshot-grace window or " +
          "dropped while this query ran; restart the query to resolve " +
          "the current generation (schema/layout changes ride the " +
          "restart boundary)")
    val files = layout match {
      case TsvLayout.Flat => TsvLayout.flatFiles(root)
      case _ =>
        layout.keyDirs(root, strict = false)
          .filter { case (t, _) => keep(t) }
          .flatMap { case (_, d) => TsvLayout.dataFilesIn(d) }
    }
    files.map(_.getPath)
  }

  // ---- the seen-files log ----

  private val logDir = new java.io.File(
    TsvWritePaths.strip(checkpointLocation), "graft_tsv_seen")
  private def deltaFile(v: Long) = new java.io.File(logDir, v.toString)
  private def compactFile(v: Long) =
    new java.io.File(logDir, s"$v.compact")

  private def writeList(f: java.io.File, files: Seq[String]): Unit = {
    logDir.mkdirs()
    TsvWritePaths.writeAtomically(f,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(
          org.json4s.JsonDSL.seq2jvalue(files.map(
            org.json4s.JsonDSL.string2jvalue)))).getBytes("UTF-8"))
  }
  private def readList(f: java.io.File): Seq[String] = {
    import org.json4s.DefaultFormats
    implicit val fmt: DefaultFormats = DefaultFormats
    org.json4s.jackson.JsonMethods.parse(new String(
      java.nio.file.Files.readAllBytes(f.toPath), "UTF-8"))
      .extract[List[String]]
  }

  // driver-side state, rebuilt from the log on (re)start: the set of
  // files already assigned to some version, and the latest version
  private val seen = scala.collection.mutable.HashSet.empty[String]
  private var latestVersion: Long = 0L
  locally {
    val entries = Option(logDir.listFiles()).getOrElse(Array.empty)
    val compacts = entries.map(_.getName)
      .filter(_.endsWith(".compact"))
      .map(_.stripSuffix(".compact").toLong)
    val base = if (compacts.isEmpty) None else Some(compacts.max)
    base.foreach { b => seen ++= readList(compactFile(b)); latestVersion = b }
    entries.map(_.getName).filter(_.forall(_.isDigit)).map(_.toLong)
      .filter(v => base.forall(_ < v)).sorted
      .foreach { v =>
        seen ++= readList(deltaFile(v))
        latestVersion = math.max(latestVersion, v)
      }
  }

  // Trigger.AvailableNow: the drain frontier, pinned at prepare time
  private var preparedTarget: Option[Set[String]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    preparedTarget = Some(currentFiles.toSet)

  override def getDefaultReadLimit: ReadLimit = {
    val limits: Seq[ReadLimit] =
      streamLimits.maxFiles.map(n => ReadLimit.maxFiles(n)).toSeq ++
        streamLimits.maxBytes.map(n => ReadLimit.maxBytes(n)).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** Admit a PREFIX of the sorted candidates under the limit. MaxBytes
    * admits files until the budget is spent but always at least one —
    * a single over-budget file must still make progress (the
    * FileStreamSource rule). */
  private def admit(files: Seq[String], limit: ReadLimit): Seq[String] = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadAllAvailable, ReadMaxBytes, ReadMaxFiles}
    limit match {
      case _: ReadAllAvailable => files
      case f: ReadMaxFiles => files.take(f.maxFiles())
      case b: ReadMaxBytes =>
        var budget = b.maxBytes()
        val out = Seq.newBuilder[String]
        var first = true
        var full = false
        files.foreach { p =>
          if (!full) {
            // gz shards count at ESTIMATED DECOMPRESSED size (same
            // GzExpansion as the stats path): the byte bound exists to
            // keep per-trigger memory flat, and admitting compressed
            // bytes would under-bound the batch by the compression ratio
            val raw = new java.io.File(p).length()
            val len = if (TsvLayout.isGzip(p)) raw * TsvLayout.GzExpansion
              else raw
            if (first || len <= budget) {
              budget -= len; out += p; first = false
            } else full = true
          }
        }
        out.result()
      case c: CompositeReadLimit =>
        c.getReadLimits.foldLeft(files)((acc, l) => admit(acc, l))
      case _ => files // a limit shape this source doesn't bound by
    }
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    // a crash between the delta-file write and Spark's offset-WAL write
    // leaves an ORPHAN log version ahead of `start`: admitting more
    // files now would make the recovered micro-batch span two versions
    // (up to 2× the admission bound). Drain the orphan as its own
    // bounded batch first; the next call resumes normal admission.
    if (latestVersion > start.asInstanceOf[TsvVersionOffset].v)
      return TsvVersionOffset(latestVersion)
    val allFiles = currentFiles
    // retention horizon (maxFileAgeMs): newest mtime anchors the
    // cutoff, so the horizon advances with the data, never the wall
    // clock — an idle store expires nothing. One stat pass: mtimes are
    // materialized once for both the max and the filter (the listing
    // already dominates this path; doubling its syscalls would not)
    val withMtime: Seq[(String, Long)] =
      if (streamLimits.maxFileAgeMs.isEmpty) allFiles.map(_ -> 0L)
      else allFiles.map(p => p -> new java.io.File(p).lastModified())
    val ageCutoff: Option[Long] = streamLimits.maxFileAgeMs.flatMap { age =>
      val mtimes = withMtime.map(_._2).filter(_ > 0L)
      if (mtimes.isEmpty) None else Some(mtimes.max - age)
    }
    val candidates0 = withMtime
      .filter { case (_, m) => ageCutoff.forall(m >= _) }
      .map(_._1)
      .filterNot(seen).sorted
    // under AvailableNow, files that landed AFTER prepare wait for the
    // next run — the drain frontier is fixed or the query never ends
    val candidates =
      preparedTarget.fold(candidates0)(t => candidates0.filter(t))
    val admitted = admit(candidates, limit)
    if (admitted.nonEmpty) {
      latestVersion += 1
      writeList(deltaFile(latestVersion), admitted)
      seen ++= admitted
      if (latestVersion % CompactInterval == 0) {
        // the compaction is the natural moment to expire seen entries
        // past the retention horizon: the cutoff that stops a file
        // being ADMITTED also makes its seen entry dead weight (mtimes
        // only grow, so an expired file can never re-qualify), and
        // without expiry the seen-set grows without bound on an
        // ever-appending store
        ageCutoff.foreach { c =>
          seen.filterInPlace(p =>
            new java.io.File(p).lastModified() >= c)
        }
        writeList(compactFile(latestVersion), seen.toSeq.sorted)
        // deltas at or below the PREVIOUS compact are unreachable by
        // any replay (Spark replays at most the one uncommitted batch),
        // and only the NEWEST compact is ever read by recovery — prune
        // both, or the log grows O(versions²) in snapshot bytes
        Option(logDir.listFiles()).getOrElse(Array.empty)
          .filter { f =>
            val n = f.getName
            (n.forall(_.isDigit) &&
              n.toLong <= latestVersion - CompactInterval) ||
            (n.endsWith(".compact") &&
              n.stripSuffix(".compact").toLong < latestVersion)
          }
          .foreach(_.delete())
      }
    }
    TsvVersionOffset(latestVersion)
  }

  override def reportLatestOffset(): Offset = TsvVersionOffset(latestVersion)
  override def initialOffset(): Offset = TsvVersionOffset(0L)
  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(start, limit) should be called for admission-" +
        "controlled sources (the Spark contract)")
  override def deserializeOffset(json: String): Offset = {
    org.json4s.jackson.JsonMethods.parse(json) \ "v" match {
      case org.json4s.JInt(v) => TsvVersionOffset(v.toLong)
      case _ => throw new IllegalStateException(
        "graft tsv stream: unrecognized offset payload — this " +
          "checkpoint predates the versioned seen-files log (offsets " +
          "were file lists). Restart the query from a fresh checkpoint " +
          s"location. Got: ${json.take(200)}")
    }
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TsvVersionOffset].v
    val e = end.asInstanceOf[TsvVersionOffset].v
    (s + 1 to e).flatMap { v =>
      val f = deltaFile(v)
      // a replay reaching past the log's retention (or a truncated
      // log) must fail LOUDLY, not silently plan an empty batch
      if (!f.isFile)
        throw new IllegalStateException(
          s"graft tsv stream: seen-files log has no version $v under " +
            s"$logDir — replay cannot be exactly-once")
      readList(f)
    }.flatMap { p =>
      val file = new java.io.File(p)
      // files vanishing out-of-band (compaction, manual rm) between
      // logging and (re)planning is data loss masked as success —
      // FileStreamSource makes the same loud choice
      if (!file.isFile)
        throw new IllegalStateException(
          "graft tsv stream: offset range names a file no longer in " +
            s"the store — replay cannot be exactly-once. Missing: $p")
      val token = layout match {
        case TsvLayout.Flat => ""
        case _ => layout.dirToken(file.getParentFile).getOrElse(
          throw new IllegalArgumentException(
            s"graft tsv stream: logged file $p is not under a key " +
              s"directory of the $layout layout"))
      }
      TsvLayout.byteSplits(file, splitBytes).map {
        case (s0, e0) => layout.split(p, s0, e0, token): InputPartition
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(fullSchema, required, pushed, -1, layout)
}

object TsvMicroBatchStream {
  /** Every this-many versions: full-snapshot compact + delta pruning.
    * Retention of a full window of deltas is far past what a replay
    * can reach (at most the one uncommitted batch). */
  val CompactInterval: Int = 10
}

/** An unkeyed split: the newline-aligned byte range [start, end) of
  * one data file ([[TsvScan.planInputPartitions]]). */
case class TsvInputPartition(file: String, start: Long, end: Long)
    extends InputPartition {
  /** The split's typed key; None for an unkeyed split. */
  def key: Option[Any] = None
}

/** A split of a keyed or bucketed layout: `value` is its directory
  * token, `typedKey` the key it reports through [[HasPartitionKey]] —
  * the BIGINT or STRING key value, or the bucket id
  * ([[TsvLayout.keyValue]]) — so Spark groups splits into
  * key-partitions for storage-partitioned joins. */
final class TsvKeyedInputPartition(file: String, start: Long, end: Long,
    val value: String, typedKey: Any)
    extends TsvInputPartition(file, start, end) with HasPartitionKey {
  override def key: Option[Any] = Some(typedKey)
  override def partitionKey(): InternalRow = InternalRow(typedKey)
  override def toString: String =
    s"TsvKeyedInputPartition($file,$start,$end,$value)"
}

final class TsvReaderFactory(fullSchema: StructType, required: StructType,
    pushed: Array[Filter], limit: Int, layout: TsvLayout = TsvLayout.Flat,
    aggSpec: Option[TsvAggSpec] = None,
    topN: Option[TsvTopNSpec] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // with a pushed aggregation, the raw reader parses only the columns
    // the aggregation touches; the aggregating reader folds its rows
    val rawSchema = aggSpec.fold(required) { sp =>
      val need = (sp.groupCols ++ sp.fns.flatMap(_.col)).distinct
      StructType(need.map(n => fullSchema(n)).toArray)
    }
    val p = partition.asInstanceOf[TsvInputPartition]
    val r = new TsvPartitionReader(fullSchema, rawSchema, pushed, limit,
      p.file, p.start, p.end, layout.synthesized(p.key))
    aggSpec.map(sp => new TsvAggregatingReader(r, rawSchema, sp)
        : PartitionReader[InternalRow])
      .orElse(topN.map(t => new TsvTopNReader(r, required, t)
        : PartitionReader[InternalRow]))
      .getOrElse(r)
  }
}

/** Per-split TOP-N for a pushed [[TsvTopNSpec]]: drains the raw reader
  * through a BOUNDED max-heap (worst-of-the-best at the head) of at
  * most n rows, then emits the survivors (order irrelevant — the
  * partial-push contract keeps Spark's global TakeOrdered, which
  * re-sorts k·n rows). Memory is O(n) rows regardless of split size;
  * null placement and direction follow the RESOLVED connector order
  * verbatim. Retained rows are NOT copied: [[TsvPartitionReader]]
  * builds a fresh InternalRow per line (pinned at its `get`) — if the
  * raw reader ever moves to buffer reuse, this heap must copy. */
final class TsvTopNReader(base: TsvPartitionReader,
    schema: StructType, spec: TsvTopNSpec)
    extends PartitionReader[InternalRow] {

  private val keyOrd: Array[Int] =
    spec.keys.map(k => schema.fieldIndex(k.name)).toArray
  private val keyType: Array[DataType] =
    spec.keys.map(k => schema(k.name).dataType).toArray

  /** Resolved sort comparator: negative = a sorts before b. */
  private def cmpRows(a: InternalRow, b: InternalRow): Int = {
    var i = 0
    while (i < keyOrd.length) {
      val k = spec.keys(i); val o = keyOrd(i)
      val an = a.isNullAt(o); val bn = b.isNullAt(o)
      if (an || bn) {
        if (an != bn) return if (an == k.nullsFirst) -1 else 1
      } else {
        val c = keyType(i) match {
          case LongType => java.lang.Long.compare(a.getLong(o), b.getLong(o))
          case IntegerType => java.lang.Integer.compare(a.getInt(o), b.getInt(o))
          case DoubleType => java.lang.Double.compare(a.getDouble(o), b.getDouble(o))
          case _ => a.getUTF8String(o).compareTo(b.getUTF8String(o))
        }
        if (c != 0) return if (k.asc) c else -c
      }
      i += 1
    }
    0
  }

  private lazy val survivors: java.util.Iterator[InternalRow] = {
    val heap = new java.util.PriorityQueue[InternalRow](
      math.max(spec.n, 1),
      // reversed: head = the WORST retained row, evicted first
      (a: InternalRow, b: InternalRow) => cmpRows(b, a))
    try {
      while (base.next()) {
        val r = base.get()
        if (heap.size < spec.n) heap.add(r)
        else if (spec.n > 0 && cmpRows(r, heap.peek()) < 0) {
          heap.poll(); heap.add(r)
        }
      }
    } finally base.close()
    heap.iterator()
  }

  private var current: InternalRow = _
  override def next(): Boolean = {
    if (!survivors.hasNext) return false
    current = survivors.next(); true
  }
  override def get(): InternalRow = current
  // base already closed after the drain; re-close is idempotent and
  // covers the never-drained path (task killed before first next())
  override def close(): Unit = base.close()
}

/** Per-split PRE-AGGREGATION for a pushed [[TsvAggSpec]]: drains the
  * raw reader into a (group key → state) hash map, then emits one row
  * per group — the source-level map-side combine. Null semantics match
  * Spark's partial aggregates exactly: COUNT(*) counts rows, COUNT(c)
  * counts non-nulls, MIN/MAX/SUM ignore nulls and yield NULL on an
  * all-null (or empty) group; a null GROUP key is a group like any
  * other. Memory is one entry per distinct group per split ([[
  * TsvScanBuilder.pushAggregation]] documents the bound). */
final class TsvAggregatingReader(base: TsvPartitionReader,
    rawSchema: StructType, spec: TsvAggSpec)
    extends PartitionReader[InternalRow] {

  private val rawIdx = rawSchema.fieldNames.zipWithIndex.toMap
  private val groupIdx = spec.groupCols.map(rawIdx).toArray
  private val groupType = spec.groupCols.map(n => rawSchema(n).dataType).toArray
  private val fnIdx = spec.fns.map(f => f.col.map(rawIdx).getOrElse(-1)).toArray
  private val fnInType: Array[DataType] =
    spec.fns.map(f => f.col.map(n => rawSchema(n).dataType)
      .getOrElse(LongType)).toArray

  private def fold(state: Array[Any], r: InternalRow): Unit = {
    var i = 0
    while (i < spec.fns.length) {
      val f = spec.fns(i)
      val v: Any =
        if (fnIdx(i) == -1) null
        else if (r.isNullAt(fnIdx(i))) null
        else r.get(fnIdx(i), fnInType(i))
      f.op match {
        case "count_star" =>
          state(i) = state(i).asInstanceOf[Long] + 1L
        case "count" =>
          if (v != null) state(i) = state(i).asInstanceOf[Long] + 1L
        case "sum" => if (v != null) state(i) match {
          case null => state(i) = v
          case s: java.lang.Long =>
            state(i) = java.lang.Long.valueOf(s + v.asInstanceOf[Long])
          case s: java.lang.Double =>
            state(i) = java.lang.Double.valueOf(s + v.asInstanceOf[Double])
        }
        case "min" | "max" => if (v != null) {
          val keep = state(i) == null || {
            val c = (state(i), v) match {
              case (a: java.lang.Long, b: java.lang.Long) =>
                java.lang.Long.compare(a, b)
              case (a: java.lang.Double, b: java.lang.Double) =>
                java.lang.Double.compare(a, b)
              case (a: UTF8String, b: UTF8String) => a.compareTo(b)
            }
            if (f.op == "min") c > 0 else c < 0
          }
          if (keep) state(i) = v
        }
      }
      i += 1
    }
  }

  private lazy val results: Iterator[InternalRow] = {
    // LinkedHashMap: deterministic per-split emission order (first-seen)
    val groups = new scala.collection.mutable.LinkedHashMap[Seq[Any], Array[Any]]
    try {
      while (base.next()) {
        val r = base.get()
        val key: Seq[Any] = groupIdx.indices.map(g =>
          if (r.isNullAt(groupIdx(g))) null else r.get(groupIdx(g), groupType(g)))
        val state = groups.getOrElseUpdate(key, {
          val s = new Array[Any](spec.fns.length)
          var i = 0
          while (i < s.length) {
            if (spec.fns(i).op.startsWith("count")) s(i) = 0L
            i += 1
          }
          s
        })
        fold(state, r)
      }
    } finally base.close()
    groups.iterator.map { case (k, s) =>
      InternalRow.fromSeq(k ++ s.toSeq)
    }
  }

  private var row: InternalRow = _
  override def next(): Boolean =
    if (results.hasNext) { row = results.next(); true } else false
  override def get(): InternalRow = row
  override def close(): Unit = base.close()
}

/** Per-split reader: parses ONLY the fields the projection + pushed
  * filters touch, evaluates pushed predicates before row assembly.
  * Owns the lines STARTING in [start, end) per the split contract
  * documented on [[TsvScan.planInputPartitions]]. */
final class TsvPartitionReader(fullSchema: StructType, required: StructType,
    pushed: Array[Filter], limit: Int, file: String, start: Long, end: Long,
    partValue: Option[(String, Any)] = None)
    extends PartitionReader[InternalRow] {

  // rows emitted by THIS split; a pushed limit caps it (partial push —
  // Spark's global Limit still runs above)
  private var emitted = 0

  // hive-style layouts carry the partition column in the DIRECTORY
  // name, not the file data: index raw fields against the file's
  // schema (full minus partition col) and synthesize the column
  private val fullIdx = fullSchema.fieldNames
    .filterNot(n => partValue.exists(_._1 == n)).zipWithIndex.toMap
  // field positions the output row needs, in output order; sentinels
  // mark synthesized columns: -1 the partition column, -2 the `_file`
  // metadata column, -3 the `_pos` metadata column (a DATA column of
  // the same name wins — it resolves through fullIdx first, honoring
  // the SupportsMetadataColumns shadowing contract)
  private val outPos: Array[Int] = required.fieldNames.map { n =>
    fullIdx.get(n) match {
      case Some(i) => i
      case None if partValue.exists(_._1 == n) => -1
      case None if n == "_file" => -2
      case None if n == "_pos" => -3
      case None => -1
    }
  }
  private val outType: Array[DataType] = required.fields.map(_.dataType)
  // filter evaluators over the raw split fields
  private val preds: Array[Array[String] => Boolean] = pushed.map(compile)

  private def fieldAt(parts: Array[String], i: Int): String =
    if (i < parts.length && parts(i).nonEmpty) parts(i) else null

  private def cmp(name: String, v: Any, parts: Array[String]): Option[Int] = {
    val raw = fieldAt(parts, fullIdx(name))
    if (raw == null) None
    else Some(fullSchema(name).dataType match {
      case LongType | IntegerType =>
        java.lang.Long.compare(raw.toLong, v.asInstanceOf[Number].longValue())
      case DoubleType | FloatType =>
        java.lang.Double.compare(raw.toDouble, v.asInstanceOf[Number].doubleValue())
      case _ => raw.compareTo(v.toString)
    })
  }

  private def compile(f: Filter): Array[String] => Boolean = f match {
    case EqualTo(a, v) => p => cmp(a, v, p).contains(0)
    case In(a, vs) => p => vs.exists(v => cmp(a, v, p).contains(0))
    case GreaterThan(a, v) => p => cmp(a, v, p).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => p => cmp(a, v, p).exists(_ >= 0)
    case LessThan(a, v) => p => cmp(a, v, p).exists(_ < 0)
    case LessThanOrEqual(a, v) => p => cmp(a, v, p).exists(_ <= 0)
    case IsNotNull(a) => p => fieldAt(p, fullIdx(a)) != null
    case IsNull(a) => p => fieldAt(p, fullIdx(a)) == null
    case _ => _ => true // unreachable: pushFilters only accepted the above
  }

  // Byte-position-tracking CHUNKED line reader. BufferedReader hides
  // offsets (the split-ownership contract needs them), and a per-byte
  // read() loop pays a synchronized call per data byte — this scans a
  // 64 KiB buffer for '\n' and materializes each line in one copy,
  // spilling to a growable buffer only when a line crosses a chunk
  // boundary. `pos` is the absolute offset of the next unread byte —
  // DECOMPRESSED offset for a `.gz` shard (gzip is not splittable, so
  // its one split is (0, MaxValue) and the split-ownership seek never
  // runs; `_pos` provenance stays a stable locator, just in the
  // decompressed coordinate space).
  private val in: java.io.InputStream =
    if (TsvLayout.isGzip(file))
      new java.util.zip.GZIPInputStream(
        new java.io.FileInputStream(file), 1 << 16)
    else new java.io.FileInputStream(file)
  private val buf = new Array[Byte](1 << 16)
  private var bufLen = 0
  private var bufPos = 0
  private var pos: Long = 0L
  private def fill(): Boolean = {
    bufLen = in.read(buf)
    bufPos = 0
    bufLen > 0
  }
  private def skipTo(target: Long): Unit = {
    var remaining = target
    while (remaining > 0) {
      val skipped = in.skip(remaining)
      if (skipped <= 0) return // EOF inside the skip: next read sees -1
      remaining -= skipped
      pos += skipped
    }
  }
  private def toLine(bytes: Array[Byte], off: Int, len: Int): String = {
    // strip one trailing CR: \r\n files parse identically to \n files
    val n = if (len > 0 && bytes(off + len - 1) == '\r') len - 1 else len
    new String(bytes, off, n, java.nio.charset.StandardCharsets.UTF_8)
  }
  /** Read one \n-terminated line (UTF-8, trailing \r stripped),
    * advancing `pos` past the terminator; null at EOF. A final
    * unterminated line is returned. */
  private def readLine(): String = {
    if (bufPos >= bufLen && !fill()) return null
    var spill: java.io.ByteArrayOutputStream = null
    while (true) {
      var i = bufPos
      while (i < bufLen && buf(i) != '\n') i += 1
      if (i < bufLen) { // terminator inside the current chunk
        val line =
          if (spill == null) toLine(buf, bufPos, i - bufPos)
          else {
            spill.write(buf, bufPos, i - bufPos)
            val all = spill.toByteArray
            toLine(all, 0, all.length)
          }
        pos += (i - bufPos) + 1
        bufPos = i + 1
        return line
      }
      // line crosses the chunk boundary: spill and refill
      if (spill == null) spill = new java.io.ByteArrayOutputStream(256)
      spill.write(buf, bufPos, bufLen - bufPos)
      pos += bufLen - bufPos
      bufPos = bufLen
      if (!fill()) { // EOF: the spilled bytes are a final unterminated line
        val all = spill.toByteArray
        return toLine(all, 0, all.length)
      }
    }
    null // unreachable
  }
  // Position to the split. A split starting mid-file discards up to
  // the first newline (that partial line belongs to the previous
  // split) — but seek to start−1, NOT start (the TextInputFormat
  // trick): when byte start−1 is itself the terminator, the discarded
  // "line" is just that newline and a line beginning exactly AT the
  // boundary is correctly kept; seeking to start would throw it away.
  if (start > 0) { skipTo(start - 1); readLine() }

  private var row: InternalRow = _

  override def next(): Boolean = {
    if (limit >= 0 && emitted >= limit) return false
    while (pos < end) { // lines STARTING in [start, end) are ours
      val lineStart = pos // byte offset of the line's first byte (_pos)
      val line = readLine()
      if (line == null) return false
      // -1 keeps trailing empty fields — same contract as the repo's
      // split(_, -1) text paths (MapReduce.scala)
      val parts = line.split("\t", -1)
      if (preds.forall(_(parts))) {
        val values = new Array[Any](outPos.length)
        var i = 0
        while (i < outPos.length) {
          if (outPos(i) < 0) { // synthesized column
            values(i) = outPos(i) match {
              case -1 => partValue.get._2
              case -2 => UTF8String.fromString(file)
              case -3 => lineStart
            }
            i += 1
          } else {
          val raw = fieldAt(parts, outPos(i))
          values(i) =
            if (raw == null) null
            else outType(i) match {
              case LongType => raw.toLong
              case IntegerType => raw.toInt
              case DoubleType => raw.toDouble
              case FloatType => raw.toFloat
              case BooleanType => raw.toBoolean
              case _ => UTF8String.fromString(raw)
            }
          i += 1
          }
        }
        // a FRESH row per line — downstream wrappers (TsvTopNReader's
        // heap) retain rows without copying on this contract
        row = InternalRow.fromSeq(values.toIndexedSeq)
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** TSV WRITE path ([[SupportsWrite]]: BATCH_WRITE, STREAMING_WRITE,
  * TRUNCATE): the reference emits its results as TSV lines
  * (mapreduce.py writes tab-joined fields); this is that sink as a
  * first-class DSv2 write with ONE task-commit protocol and three
  * routings of a row to its directory ([[TsvLayout]]):
  *
  *   - flat: every task writes one file into the table root;
  *   - keyed (`PARTITIONED BY identity(col)`, or the path API's
  *     `partition_col`): each row goes to its `<col>=<v>/` directory,
  *     the key moved out of the line into the directory name;
  *   - bucketed (`PARTITIONED BY bucket(n, col)`): each row goes to its
  *     hash bucket's `_graft_bucket=<id>/` directory, full lines.
  *
  * The protocol is the same for all three:
  *
  *   - every task writes under `_temporary/<job>/` in the target, named
  *     by (partitionId, taskId, job uuid, directory tag) — SPECULATIVE
  *     or retried attempts write distinct files, a fresh job's files
  *     never collide with an earlier job's, and nothing under
  *     `_temporary` is ever visible to readers;
  *   - [[TsvDataWriter.commit]] returns the task's (token, temp file)
  *     pairs as its [[TsvTaskCommit]] — only messages from attempts
  *     Spark COMMITTED reach the driver;
  *   - [[TsvBatchWrite.commit]] first drops the layout's truncate set
  *     iff the write TRUNCATEs (SaveMode.Overwrite), renames exactly
  *     the committed files into their tokens' directories, then deletes
  *     `_temporary/<job>` — losers of speculative races vanish with it;
  *   - [[TsvBatchWrite.abort]] deletes the job's temp dir, leaving the
  *     target untouched.
  *
  * At 100 TB this protocol is why a thousand-task write survives task
  * retries with neither duplicates nor torn output: visibility is a
  * driver-side rename of committed attempts only (the same contract as
  * Hadoop's FileOutputCommitter v1, expressed at the DSv2 surface).
  * Dialect contract (mirrors the reader): `\t` separators, `\n`
  * terminators, empty field = NULL, no quoting — a STRING containing a
  * tab or newline would silently corrupt row framing, so the writer
  * FAILS the task instead (fail-fast beats torn rows). BIGINT/DOUBLE/
  * STRING columns only, like the read side. */
final class TsvWriteBuilder(schema: StructType, path: String,
    layout: TsvLayout, queryId: String, gzip: Boolean = false)
    extends WriteBuilder with SupportsTruncate
    // UPDATE output mode lands as per-epoch APPENDS of the changed rows
    // (the Kafka/console sink contract): the table is then a CHANGELOG —
    // a key updated in three epochs appears three times, and consumers
    // reconstruct current state with a latest-per-key pass (the q118
    // upsert-compaction shape). The alternative — refusing update mode —
    // would force every aggregating pipeline through foreachBatch;
    // changelog-append is the honest file-sink semantics and is pinned
    // (reconstruction ≡ batch aggregate) in TsvStreamingSinkSpec.
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }
  override def build(): Write = new Write with RequiresDistributionAndOrdering {
    override def requiredDistribution(): Distribution = layout.distribution
    override def requiredOrdering(): Array[SortOrder] = layout.ordering
    override def toBatch: BatchWrite =
      new TsvBatchWrite(schema, path, layout, truncateFirst, gzip)
    // the epoch ledger and replay sweep are built around flat root-level
    // names; a silent flat fallback would write a key INTO the lines and
    // corrupt the layout contract, so routed layouts refuse loudly
    override def toStreaming: StreamingWrite = layout match {
      case TsvLayout.Flat =>
        new TsvStreamingWrite(schema, path, queryId, truncateFirst, gzip)
      case _: TsvLayout.Keyed => refuseStreaming("PARTITIONED")
      case _: TsvLayout.Bucketed => refuseStreaming("CLUSTERED")
    }
  }
  private def refuseStreaming(kind: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft tsv sink: streaming writes to a $kind table are not " +
        "supported — stream into a plain table and rewrite it into this " +
        "layout with a periodic batch job (q118/q304 shape)")
}

/** A committed task's temp files as (directory token, temp path) — one
  * per token the task saw; exactly one (token `""`) for a flat task. */
final case class TsvTaskCommit(files: Seq[(String, String)],
    partitionId: Int) extends WriterCommitMessage

final class TsvBatchWrite(schema: StructType, path: String,
    layout: TsvLayout, truncateFirst: Boolean, gzip: Boolean = false)
    extends BatchWrite {
  private val jobUuid = java.util.UUID.randomUUID().toString

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    new TsvWriterFactory(schema, path, layout, jobUuid, gzip)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new java.io.File(TsvWritePaths.strip(path))
    if (truncateFirst)
      TsvWritePaths.deleteAllOrThrow(layout.truncateTargets(root),
        "overwrite-truncate")
    root.mkdirs()
    messages.foreach { case TsvTaskCommit(files, _) =>
      files.foreach { case (token, tmp) =>
        val src = new java.io.File(tmp)
        val dir = layout.dirOf(root, token)
        dir.mkdirs()
        TsvWritePaths.publish(src, new java.io.File(dir, src.getName))
      }
    }
    TsvWritePaths.dropTemp(root, jobUuid)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    TsvWritePaths.dropTemp(new java.io.File(TsvWritePaths.strip(path)),
      jobUuid)
}

/** STREAMING_WRITE: `writeStream.toTable`/`.format("graft_tsv")` lands
  * micro-batches in a flat TSV store with EXACTLY-ONCE visibility — the
  * batch sink's task-commit protocol (temp files → driver-side rename
  * of committed attempts only) plus two epoch-level guards that make a
  * REPLAYED batch (Spark's at-least-once epoch redelivery after a
  * restart that committed the sink but not the offset log) a no-op:
  *
  *   - an EPOCH LEDGER (`_streaming_commits/<queryId>/<epochId>`
  *     marker files, `_`-prefixed so scans never see them): a replayed
  *     epoch finds its marker, drops its temp files, renames nothing;
  *   - DETERMINISTIC final names `part-<partition>-<qid8>-e<epoch>`
  *     (no taskId): even in the crash window AFTER the renames but
  *     BEFORE the marker, a replay renames onto the SAME target paths
  *     — replacing, not duplicating (same offsets → same rows).
  *
  * Append mode adds each epoch's files; complete mode (truncate) clears
  * the flat layout's truncate set then lands the epoch, same replay
  * guards. At 100 TB this is the ingestion edge: a restart may re-run
  * work, but the TABLE never shows a row twice — readers (batch or
  * q289's tailing stream) only ever see whole committed epochs. */
final class TsvStreamingWrite(schema: StructType, path: String,
    queryId: String, truncateEachEpoch: Boolean, gzip: Boolean = false)
    extends StreamingWrite {
  private val qid = queryId.replace("-", "").take(8)
  private val suffix = if (gzip) ".txt.gz" else ".txt"

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory =
    new TsvWriterFactory(schema, path, TsvLayout.Flat, qid, gzip)

  private def root = new java.io.File(TsvWritePaths.strip(path))
  private def ledgerDir = new java.io.File(root, s"_streaming_commits/$qid")

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val marker = new java.io.File(ledgerDir, epochId.toString)
    if (marker.isFile) { dropTemp(epochId); return } // replayed epoch
    root.mkdirs()
    if (truncateEachEpoch)
      TsvWritePaths.deleteAllOrThrow(
        TsvLayout.Flat.truncateTargets(root), "complete-mode truncate")
    // crash-window replay sweep: remove EVERY file this epoch landed in
    // the crashed attempt, not just the names the replay re-uses — a
    // replay planned with FEWER partitions (changed shuffle conf, AQE
    // coalescing) would otherwise leave the old higher-numbered part
    // files behind as duplicates. Both suffixes are swept: a restart
    // that toggles the compression option must not leave the crashed
    // attempt's other-codec files behind as duplicates.
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.startsWith("part-") &&
        (f.getName.endsWith(s"-$qid-e$epochId.txt") ||
          f.getName.endsWith(s"-$qid-e$epochId.txt.gz")))
      .foreach(_.delete())
    messages.foreach { case TsvTaskCommit(files, partitionId) =>
      files.foreach { case (_, tmp) =>
        TsvWritePaths.publish(new java.io.File(tmp), new java.io.File(root,
          f"part-$partitionId%05d-$qid-e$epochId$suffix"))
      }
    }
    ledgerDir.mkdirs()
    java.nio.file.Files.write(marker.toPath,
      Array.emptyByteArray) // marker LAST: its absence means "re-land"
    // prune the ledger: only the LATEST epoch can ever be replayed
    // (Spark re-delivers at most the one batch whose offset commit is
    // missing), so markers older than the previous epoch are dead
    // weight — without pruning a 1s-trigger pipeline accretes ~86k
    // empty files a day in the table directory
    Option(ledgerDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.forall(_.isDigit) &&
        f.getName.toLong < epochId - 1)
      .foreach(_.delete())
    dropTemp(epochId)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    dropTemp(epochId)

  private def dropTemp(epochId: Long): Unit =
    TsvWritePaths.dropTemp(root, s"$qid-e$epochId")
}

/** One writer factory for batch jobs and streaming epochs: a batch job's
  * tag is its uuid, an epoch's is `<qid8>-e<epoch>`. */
final class TsvWriterFactory(schema: StructType, path: String,
    layout: TsvLayout, jobTag: String, gzip: Boolean)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] =
    new TsvDataWriter(schema, path, layout, jobTag, partitionId, taskId, gzip)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long)
      : DataWriter[InternalRow] =
    new TsvDataWriter(schema, path, layout, s"$jobTag-e$epochId",
      partitionId, taskId, gzip)
}

/** One task's writer for every layout: ONE open stream at a time. A
  * flat task opens its single file up front and never routes; a routed
  * task opens a token's file when the token changes. Rows arrive sorted
  * by token (the write's requiredOrdering), so each token streams
  * contiguously; a revisit of an earlier token (a direct DSv2 caller
  * bypassing the ordering) stays CORRECT via append-reopen — for gzip
  * that writes a second member, which GZIPInputStream reads
  * transparently — it just costs an extra open/close. */
final class TsvDataWriter(schema: StructType, path: String,
    layout: TsvLayout, jobTag: String, partitionId: Int, taskId: Long,
    gzip: Boolean) extends DataWriter[InternalRow] {
  private val tempDir =
    new java.io.File(TsvWritePaths.strip(path), s"_temporary/$jobTag")
  tempDir.mkdirs()
  private val suffix = if (gzip) ".txt.gz" else ".txt"
  private val fields = layout.fileFields(schema)
  private val route: InternalRow => String = layout.router(schema).orNull
  private val files =
    scala.collection.mutable.LinkedHashMap.empty[String, java.io.File]
  private var token: String = null
  private var out: java.io.OutputStream = null
  if (route == null) open("")

  private def open(t: String): Unit = {
    if (out != null) out.close()
    val reopen = files.contains(t)
    // taskId in the name: a retried/speculative attempt of the same
    // partition writes a DIFFERENT file; only the committed one is
    // renamed. The job tag is in the FINAL name too: taskIds restart at
    // 0 in a new SparkContext, so an APPEND from a fresh session would
    // otherwise collide with an earlier job's part-00000-0 and renameTo
    // would silently replace it — losing the earlier write. The codec
    // is in the SUFFIX: readers detect gzip by extension
    // (TsvLayout.isGzip), so the temp name must already carry it.
    val f = files.getOrElseUpdate(t, new java.io.File(tempDir,
      f"part-$partitionId%05d-$taskId-${jobTag.take(8)}${layout.tag(t)}$suffix"))
    val buffered = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(f, reopen), 1 << 16)
    out =
      if (gzip) new java.util.zip.GZIPOutputStream(buffered, 1 << 16)
      else buffered
    token = t
  }

  override def write(r: InternalRow): Unit = {
    if (route != null) {
      val t = route(r)
      if (t != token) open(t)
    }
    out.write(TsvLineFormat.line(r, fields)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  override def commit(): WriterCommitMessage = {
    close()
    TsvTaskCommit(files.toSeq.map { case (t, f) => (t, f.getPath) },
      partitionId)
  }

  override def abort(): Unit = {
    close()
    files.values.foreach(_.delete())
  }

  override def close(): Unit =
    if (out != null) { out.close(); out = null }
}

/** The on-disk LAYOUT of a TSV table — the ONE place that knows it, for
  * reads and writes alike:
  *
  *   - [[TsvLayout.Flat]]: data files in the table root (a read also
  *     takes one level of hive-style `name=value/` subdirectories);
  *   - [[TsvLayout.Keyed]] (`PARTITIONED BY identity(col)`, or the path
  *     API's `partition_col`): `<col>=<v>/` directories, the key moved
  *     out of the lines into the directory name;
  *   - [[TsvLayout.Bucketed]] (`PARTITIONED BY bucket(n, col)`):
  *     `_graft_bucket=<id>/` directories of full lines, routed by a
  *     hash of a BIGINT column.
  *
  * Key directories are named by TOKENS: the canonical key value
  * (keyed) or the bucket id (bucketed); a flat file's token is `""`.
  * On the read side the layout lists its directories ([[keyDirs]]),
  * turns literals into tokens for static pruning, runtime filtering and
  * DELETE ([[tokenOf]]), reports the partitioning ([[transform]]),
  * makes each split with its key ([[split]]) and names the column a
  * reader synthesizes ([[synthCol]]). On the write side it routes a row
  * to its token, picks the fields a line carries, names a token's
  * directory and file tag, declares the distribution and ordering the
  * write requires, and says what a truncate drops. */
sealed trait TsvLayout extends Product with Serializable {
  /** The key column: the identity partition column or the bucket
    * column; None for flat. */
  def keyCol: Option[String] = None
  /** The column that lives in directory names, not in lines: a keyed
    * read synthesizes it from the split's key. */
  def synthCol: Option[String] = None
  /** The partitioning a table of this layout, and a raw scan of it,
    * reports: `identity(col)` or `bucket(n, col)`. */
  def transform: Option[Transform] = None

  // ---- read side ----

  /** The name prefix of a key directory: `<col>=` or `_graft_bucket=`. */
  protected def dirPrefix: String = ""
  /** A key directory's value as its canonical token (a BIGINT
    * `shard=007` reads as `7`, so it agrees with a literal 7); throws
    * NumberFormatException when the value does not parse. */
  protected def canonical(value: String): String = value

  /** The token of `d` when it is one of this layout's key directories;
    * a key directory whose value does not parse fails loudly, naming
    * the directory, the column and the path. */
  final def dirToken(d: java.io.File): Option[String] = {
    val name = d.getName
    if (keyCol.isEmpty || !name.startsWith(dirPrefix)) None
    else try Some(canonical(name.stripPrefix(dirPrefix)))
    catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"graft tsv: key directory '$name' under ${d.getParent} does " +
            s"not parse as a key of partition column ${keyCol.get} " +
            s"($this) — move it out of the table directory or rename it")
    }
  }
  /** A literal as a token; None when it does not convert. */
  def tokenOf(v: Any): Option[String] = None
  /** The typed key of a token: what its splits report to Spark and what
    * a keyed read synthesizes. */
  def keyValue(token: String): Any = token
  protected def tokenOrdering: Ordering[String] = Ordering.String

  /** Key directories under `root` as (token, dir), sorted by key for
    * deterministic planning — the one listing of a keyed or bucketed
    * store, for scans, streams, partition DDL, DELETE and truncate.
    * `strict` (the path API's `partition_col` contract) fails loudly on
    * a missing layout or zero key dirs; everything else passes false —
    * a freshly created partitioned table, or a store before its first
    * sink commit, is legitimately empty. */
  final def keyDirs(root: java.io.File,
      strict: Boolean): Seq[(String, java.io.File)] = {
    if (strict) require(root.isDirectory,
      s"graft tsv source: partition_col layout needs a directory: $root")
    val dirs = Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory).flatMap(d => dirToken(d).map(_ -> d))
    if (strict) require(dirs.nonEmpty,
      s"graft tsv source: no $dirPrefix<value> subdirectories under $root")
    dirs.sortBy(_._1)(tokenOrdering)
  }

  /** The tokens an equality/IN on the key column admits; None for any
    * other shape or column, or when some value is no token — the
    * filter is then declined whole, never narrowed to the values that
    * convert. */
  final def tokensOf(f: Filter): Option[Set[String]] = f match {
    case EqualTo(a, v) if keyCol.contains(a) => tokenOf(v).map(Set(_))
    case In(a, vs) if keyCol.contains(a) =>
      val ts = vs.toSeq.map(tokenOf)
      if (ts.forall(_.nonEmpty)) Some(ts.flatten.toSet) else None
    case _ => None
  }

  /** STATIC pruning: the token predicate of a scan's pushed filters.
    * Exact for a keyed layout (the key is constant per directory); a
    * superset filter for a bucketed one (a bucket holds many values —
    * the reader still evaluates the predicate). */
  def keep(filters: Array[Filter]): String => Boolean = {
    val sets = filters.flatMap(tokensOf)
    t => sets.forall(_.contains(t))
  }

  /** A split of `file` (in the directory of `token`), carrying its key. */
  def split(file: String, start: Long, end: Long,
      token: String): TsvInputPartition =
    new TsvKeyedInputPartition(file, start, end, token, keyValue(token))

  /** The (column, value) a reader synthesizes from a split's key. */
  final def synthesized(key: Option[Any]): Option[(String, Any)] =
    synthCol.flatMap(c => key.map(c -> _))

  // ---- write side ----

  /** The per-task row → token router; None for the flat layout, whose
    * one route is constant (no per-row dispatch). Checks the routing
    * column's type when the task starts. */
  def router(schema: StructType): Option[InternalRow => String]
  /** (ordinal, type) of the fields a line carries, in schema order. */
  def fileFields(schema: StructType): Array[(Int, DataType)] =
    schema.fields.map(_.dataType).zipWithIndex.map { case (t, i) => (i, t) }
  def dirOf(root: java.io.File, token: String): java.io.File =
    new java.io.File(root, dirPrefix + token)
  /** The token's tag in a file name, before the suffix. */
  def tag(token: String): String
  def distribution: Distribution
  def ordering: Array[SortOrder]
  /** What an overwrite or TRUNCATE drops: exactly what a read of the
    * layout would see, sidecars (`_`/`.` names) kept. Whole key
    * directories: an empty key dir would still list as a live
    * partition. */
  def truncateTargets(root: java.io.File): Seq[java.io.File] =
    keyDirs(root, strict = false).map(_._2)
}

object TsvLayout {
  /** A table's layout from its `partition_col` (the path API's option,
    * or a catalog table's identity partition column). The key TYPE,
    * BIGINT or STRING, is read from the schema here and nowhere else;
    * it decides how tokens parse, compare and synthesize back into
    * rows. */
  def of(schema: StructType, partitionCol: Option[String]): TsvLayout =
    partitionCol.fold(Flat: TsvLayout) { c =>
      val field = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"graft tsv source: partition_col '$c' not in schema"))
      require(field.dataType == LongType || field.dataType == StringType,
        s"graft tsv source: partition_col must be BIGINT or STRING, " +
          s"got ${field.dataType}")
      Keyed(c, field.dataType)
    }

  /** One file per task in the table root — written even when the task
    * has no rows. */
  case object Flat extends TsvLayout {
    override def split(file: String, start: Long, end: Long,
        token: String): TsvInputPartition =
      TsvInputPartition(file, start, end)
    override def router(schema: StructType): Option[InternalRow => String] =
      None
    override def dirOf(root: java.io.File, token: String): java.io.File = root
    override def tag(token: String): String = ""
    override def distribution: Distribution = Distributions.unspecified()
    override def ordering: Array[SortOrder] = Array.empty
    // the unkeyed read view: root files plus one level of `name=value/`
    // dirs — deleting only root files would leave rows an overwrite
    // still reads back
    override def truncateTargets(root: java.io.File): Seq[java.io.File] =
      listDataFiles(root)
  }

  /** `<col>=<v>/` directories of a BIGINT or STRING key; lines carry the
    * schema MINUS the key, exactly how the keyed read indexes raw
    * fields (TsvPartitionReader.fullIdx), and the read synthesizes the
    * key back from the directory name. BIGINT tokens are canonical
    * decimal and sort numerically; STRING tokens are verbatim and sort
    * lexicographically. The write is clustered by key (every key lands
    * in one task → one file per key per job, no producer REPARTITION
    * hint; Spark plans the exchange only when the child isn't already
    * clustered) and sorted by key within the task (the writer streams
    * one key at a time → one open fd per task regardless of key
    * cardinality). */
  final case class Keyed(col: String, keyType: DataType) extends TsvLayout {
    private def numeric: Boolean = keyType == LongType
    override def keyCol: Option[String] = Some(col)
    override def synthCol: Option[String] = Some(col)
    override def transform: Option[Transform] =
      Some(Expressions.identity(col))

    override protected def dirPrefix: String = col + "="
    override protected def canonical(value: String): String =
      if (numeric) value.toLong.toString else value
    override def tokenOf(v: Any): Option[String] = v match {
      case s: String if !numeric => Some(s)
      case u: UTF8String if !numeric => Some(u.toString)
      case _ if numeric => integral(v).map(_.toString)
      case _ => None
    }
    override def keyValue(token: String): Any =
      if (numeric) token.toLong else UTF8String.fromString(token)
    override protected def tokenOrdering: Ordering[String] =
      if (numeric) Ordering.by[String, Long](_.toLong) else Ordering.String

    private def range(f: Filter): Option[Long => Boolean] = {
      def bound(v: Any) = if (numeric) tokenOf(v).map(_.toLong) else None
      f match {
        case GreaterThan(a, v) if a == col => bound(v).map(b => _ > b)
        case GreaterThanOrEqual(a, v) if a == col => bound(v).map(b => _ >= b)
        case LessThan(a, v) if a == col => bound(v).map(b => _ < b)
        case LessThanOrEqual(a, v) if a == col => bound(v).map(b => _ <= b)
        case _ => None
      }
    }
    /** Does `f` prune exactly at listing time? Equality/IN whose values
      * all convert, and — BIGINT keys only — range comparisons. STRING
      * ranges stay Spark's job on the synthesized column: dir-name
      * comparison would need Spark's UTF8 binary collation, which
      * Java's UTF-16 compareTo diverges from outside ASCII. */
    def prunes(f: Filter): Boolean = tokensOf(f).nonEmpty || range(f).nonEmpty
    override def keep(filters: Array[Filter]): String => Boolean = {
      val byTokens = super.keep(filters)
      val ranges = filters.flatMap(range)
      if (ranges.isEmpty) byTokens
      else t => byTokens(t) && { val k = t.toLong; ranges.forall(_(k)) }
    }

    override def router(schema: StructType): Option[InternalRow => String] = {
      val i = schema.fieldIndex(col)
      require(schema.fields(i).dataType == keyType,
        s"graft tsv sink: partition column $col must be ${keyType.sql}, " +
          s"got ${schema.fields(i).dataType.sql}")
      val token: InternalRow => String =
        if (numeric) r => r.getLong(i).toString
        else r => r.getUTF8String(i).toString
      Some { r =>
        if (r.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft tsv sink: partition column $col is NULL — the keyed " +
              "layout has no null-key directory; filter or default the " +
              "key before writing")
        token(r)
      }
    }
    override def fileFields(schema: StructType): Array[(Int, DataType)] = {
      val k = schema.fieldIndex(col)
      super.fileFields(schema).filter(_._1 != k)
    }
    // a token becomes a directory name: checked path-safe once per key,
    // when the writer opens the key's file (BIGINT tokens are canonical
    // decimal and always pass)
    override def tag(token: String): String = "-k" + validateKeyToken(token)
    override def distribution: Distribution =
      Distributions.clustered(Array(Expressions.column(col)))
    override def ordering: Array[SortOrder] =
      Array(Expressions.sort(Expressions.column(col), SortDirection.ASCENDING))
  }

  /** `_graft_bucket=<id>/` directories holding FULL lines (a bucket
    * holds many key values, so nothing could synthesize the column).
    * One hash ([[bucketOf]]) is shared by the writer, the scan's
    * static/runtime bucket pruning, and the catalog-exposed V2 `bucket`
    * function, so the reported KeyGroupedPartitioning can never
    * disagree with the bytes on disk. The write is clustered and sorted
    * on the `bucket(n, col)` transform itself: Spark resolves it
    * through the catalog's function, so every bucket lands as ONE file
    * per job and the writer streams one bucket at a time. */
  final case class Bucketed(col: String, n: Int) extends TsvLayout {
    override def keyCol: Option[String] = Some(col)
    override def transform: Option[Transform] =
      Some(Expressions.bucket(n, col))

    override protected def dirPrefix: String = "_graft_bucket="
    override protected def canonical(value: String): String =
      value.toInt.toString
    override def tokenOf(v: Any): Option[String] =
      integral(v).map(bucketOf(_, n).toString)
    override def keyValue(token: String): Any = token.toInt
    override protected def tokenOrdering: Ordering[String] =
      Ordering.by[String, Int](_.toInt)

    override def router(schema: StructType): Option[InternalRow => String] = {
      val i = schema.fieldIndex(col)
      require(schema.fields(i).dataType == LongType,
        s"graft tsv sink: bucket column $col must be BIGINT, got " +
          schema.fields(i).dataType)
      val tokens = Array.tabulate(n)(_.toString)
      Some { r =>
        if (r.isNullAt(i))
          throw new IllegalArgumentException(
            s"graft tsv sink: cluster column $col is NULL — the bucket " +
              "hash has no null lane; filter or default the key before " +
              "writing")
        tokens(bucketOf(r.getLong(i), n))
      }
    }
    override def tag(token: String): String = "-b" + token
    private def bucketExpr = Expressions.bucket(n, col)
    override def distribution: Distribution =
      Distributions.clustered(Array(bucketExpr))
    override def ordering: Array[SortOrder] =
      Array(Expressions.sort(bucketExpr, SortDirection.ASCENDING))
  }

  /** An INTEGRAL literal's value: a BIGINT key or bucket column takes
    * no other (truncating 7.5 through longValue would select shard=7
    * although no row has key 7.5). */
  private def integral(v: Any): Option[Long] = v match {
    case n @ (_: java.lang.Long | _: java.lang.Integer |
        _: java.lang.Short | _: java.lang.Byte) =>
      Some(n.asInstanceOf[java.lang.Number].longValue)
    case _ => None
  }

  /** fmix64 avalanche (the MurmurHash3 finalizer) then floorMod:
    * bucket ids must not correlate with monotone keys, or range-ish
    * workloads hammer one bucket. */
  private[sources] def bucketOf(v: Long, n: Int): Int = {
    var h = v
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL
    h ^= h >>> 33; h *= 0xc4ceb9fe1a85ec53L
    h ^= h >>> 33
    java.lang.Math.floorMod(h, n.toLong).toInt
  }

  /** ONE definition of "is this shard gzipped" — splittability
    * (byteSplits), codec choice (TsvPartitionReader), and the size
    * estimate (estimateStatistics) must agree or a gz file could get
    * byte-range splits whose compressed offsets the decompressed-space
    * reader would silently misinterpret. */
  private[sources] def isGzip(path: String): Boolean =
    path.toLowerCase(java.util.Locale.ROOT).endsWith(".gz")

  /** Conservative decompressed-size multiplier for gz TSV shards in
    * the stats estimate: TSV text compresses ~5–15×; UNDER-estimating
    * is the dangerous direction (a "small" side gets broadcast and
    * materializes 10× larger than planned), so the estimate errs
    * high. */
  private[sources] val GzExpansion = 8L

  /** Data files directly in `d`: `_`/`.`-prefixed names are sidecars
    * and temp markers, invisible to every reader. */
  private[sources] def dataFilesIn(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).getOrElse(Array.empty)
      .filter(x => x.isFile && !x.getName.startsWith("_")
        && !x.getName.startsWith(".")).sortBy(_.getPath).toSeq

  /** Data files directly under `f`, plus those one level down inside
    * hive-style `name=value` subdirectories (the UNKEYED read view). */
  private[sources] def listDataFiles(f: java.io.File): Seq[java.io.File] =
    dataFilesIn(f) ++ Option(f.listFiles()).getOrElse(Array.empty)
      .filter(d => d.isDirectory && d.getName.contains("=")).sortBy(_.getPath)
      .flatMap(dataFilesIn)

  /** What a flat read of `root` sees: [[listDataFiles]] of a directory;
    * a file path reads as itself. */
  private[sources] def flatFiles(root: java.io.File): Seq[java.io.File] =
    if (root.isDirectory) listDataFiles(root) else Seq(root).filter(_.isFile)

  /** Path-safety gate for STRING partition values: the identity layout
    * encodes the key in a DIRECTORY NAME, so separators, traversal
    * names, and control bytes are refused loudly at write/DDL time
    * (reads never need it — tokens on disk are path-safe by
    * construction). Everything else (spaces, '=', unicode) passes
    * verbatim: refusal beats silent escaping, which would make the
    * dir name disagree with the value it answers for. */
  private[sources] def validateKeyToken(t: String): String = {
    require(t.nonEmpty && t != "." && t != ".." &&
      !t.exists(ch => ch == '/' || ch == '\\' || ch == '\u0000' ||
        ch == '\n' || ch == '\r' || ch == '\t'),
      s"graft tsv: partition value '$t' cannot encode as a directory " +
        "name (empty, '.', '..', or contains /, \\, tab, newline, NUL) " +
        "— sanitize the key before writing")
    t
  }

  /** Newline-aligned byte ranges (empty files yield no splits). A
    * `.gz` shard is NOT splittable: it gets exactly one split covering
    * the whole decompressed stream (end = MaxValue → the reader runs
    * to EOF) — the honest cold-archive contract: parallelism is
    * per-FILE for gzipped data, and pushed filters save parse/emit
    * work but never decompression bytes. (The reference reads
    * `.tsv.gz` transparently via smart_open; this is that front door
    * at the DSv2 contract, mixed freely with plain shards in one
    * store.) */
  private[sources] def byteSplits(file: java.io.File,
      splitBytes: Long): Seq[(Long, Long)] = {
    val len = file.length()
    if (len == 0) Nil
    else if (isGzip(file.getName)) Seq((0L, Long.MaxValue))
    else (0L until len by splitBytes)
      .map(start => (start, math.min(start + splitBytes, len)))
  }
}

/** The `bucket` function the catalog exposes ([[org.apache.spark.sql
  * .connector.catalog.FunctionCatalog]]): Spark resolves the scan's
  * reported `bucket(n, col)` transform through it, which is what lets
  * two co-bucketed catalog tables plan a storage-partitioned join —
  * compatibility is judged by the bound function's canonicalName and
  * the bucket count, so every graft table shares one identity here. */
private[sources] object TsvBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets INT, col BIGINT): graft TSV bucket id"
  override def bind(inputType: StructType)
      : org.apache.spark.sql.connector.catalog.functions.BoundFunction = {
    require(inputType.size == 2 &&
      inputType.fields(0).dataType == IntegerType &&
      inputType.fields(1).dataType == LongType,
      s"graft bucket(numBuckets INT, col BIGINT) cannot bind to " +
        inputType.simpleString)
    Bound
  }
  object Bound extends org.apache.spark.sql.connector.catalog
      .functions.ScalarFunction[Integer] {
    override def inputTypes(): Array[DataType] =
      Array(IntegerType, LongType)
    override def resultType(): DataType = IntegerType
    override def name(): String = "bucket"
    override def canonicalName(): String = "graft.bucket"
    override def isResultNullable: Boolean = false
    override def produceResult(input: InternalRow): Integer =
      TsvLayout.bucketOf(input.getLong(1), input.getInt(0))
  }
}

/** Path helpers shared by the scan and the sink — ONE copy of the
  * file:-scheme normalization so read and write always resolve the
  * same `path` option to the same directory, and one copy of the
  * sink's rename, temp-dir and delete steps. */
private[sources] object TsvWritePaths {
  /** Write `bytes` to `<target>.tmp`, then move it over `target` with
    * `ATOMIC_MOVE` + `REPLACE_EXISTING`: a reader sees the old file or
    * the new one, never a partial write. Every small metadata file of
    * the store (catalog sidecars, the generation pointer, the stream's
    * seen-files log) is written this way. */
  def writeAtomically(target: java.io.File, bytes: Array[Byte]): Unit = {
    val tmp = new java.io.File(target.getPath + ".tmp")
    java.nio.file.Files.write(tmp.toPath, bytes)
    java.nio.file.Files.move(tmp.toPath, target.toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }
  /** Remote filesystem schemes refused even WITHOUT the `//` (an
    * `hdfs:/x` single-slash URI is legal and would silently go local
    * otherwise). Kept to schemes that are unambiguously remote so a
    * legal POSIX filename with a colon in its first segment
    * (`out:v2/data`) keeps resolving locally. */
  private val RemoteSchemes = Set("hdfs", "webhdfs", "viewfs", "s3",
    "s3a", "s3n", "gs", "abfs", "abfss", "wasb", "wasbs", "oss", "cos",
    "ftp", "sftp", "http", "https")
  /** Resolve a store/checkpoint path to a LOCAL filesystem path —
    * loudly. The TSV store and its seen-files checkpoint log do
    * java.io/java.nio I/O, so a remote-scheme path (`s3a://bucket/tbl`
    * as a table path, or — the realistic deployment case — an
    * `hdfs://`/`s3a://` checkpointLocation, from which the seen-files
    * log dir is derived) would previously degrade to a BOGUS local
    * relative directory: a stream that "works" against the wrong
    * state, the silent-no-op failure class. Every path the store
    * touches funnels through here, so the refusal covers tables,
    * sinks, catalogs, and the stream log in one place. */
  def strip(p: String): String =
    if (p.startsWith("file:")) p.stripPrefix("file:")
    else {
      val i = p.indexOf(':')
      val scheme =
        if (i > 1 && p.take(i).forall(c =>
            c.isLetterOrDigit || c == '+' || c == '-' || c == '.'))
          Some(p.take(i).toLowerCase(java.util.Locale.ROOT))
        else None
      // `<scheme>://…` is always a URI; a single-colon form counts
      // only when the scheme is a known remote filesystem
      val remote = scheme.exists(sch =>
        p.drop(i + 1).startsWith("//") || RemoteSchemes.contains(sch))
      if (remote)
        throw new IllegalArgumentException(
          s"graft tsv store: only local paths (plain or file:) are " +
            s"supported, got scheme '${p.take(i)}' in $p — the store " +
            "and its streaming seen-files log use local filesystem " +
            "I/O; a remote path would silently resolve to a bogus " +
            "local directory. Stage remote data locally (or mount it) " +
            "before pointing the TSV store at it.")
      p
    }
  def deleteRecursively(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRecursively)
    f.delete()
    ()
  }
  /** Truncation that cannot lie: paths surviving their delete FAIL the
    * statement (an undeletable file silently surviving a truncate that
    * reported success is resurrected data on the next scan). Every
    * truncate — sink overwrite, streaming complete mode, `TRUNCATE
    * TABLE` — goes through here. */
  def deleteAllOrThrow(paths: Seq[java.io.File], what: String): Unit = {
    paths.foreach(deleteRecursively)
    val survivors = paths.filter(_.exists())
    if (survivors.nonEmpty)
      throw new java.io.IOException(
        s"graft tsv: $what could not delete ${survivors.size} " +
          s"path(s), e.g. ${survivors.head}")
  }
  /** Make one committed temp file visible. */
  def publish(src: java.io.File, dst: java.io.File): Unit =
    if (!src.renameTo(dst))
      throw new java.io.IOException(
        s"graft tsv sink: rename failed: $src -> $dst")
  /** Delete a job's temp dir; drop the shared `_temporary` parent too
    * once empty (a concurrent job's subdir keeps it alive). */
  def dropTemp(root: java.io.File, jobTag: String): Unit = {
    val tempRoot = new java.io.File(root, "_temporary")
    deleteRecursively(new java.io.File(tempRoot, jobTag))
    tempRoot.delete()
    ()
  }
}

/** ONE definition of "a row as a TSV line" for every write layout (a
  * keyed line serializes schema-minus-key — the read side's file-field
  * contract — and agrees with the others on everything else
  * byte-for-byte). NULL → empty field; framing bytes
  * in strings refuse the row (fail-fast beats a torn line). */
private[sources] object TsvLineFormat {
  def line(r: InternalRow, fields: Array[(Int, DataType)]): String = {
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < fields.length) {
      if (i > 0) sb.append('\t')
      val (ord, t) = fields(i)
      if (!r.isNullAt(ord)) t match {
        case LongType => sb.append(r.getLong(ord))
        case IntegerType => sb.append(r.getInt(ord))
        case DoubleType => sb.append(r.getDouble(ord))
        case StringType =>
          val s = r.getUTF8String(ord).toString
          if (s.indexOf('\t') >= 0 || s.indexOf('\n') >= 0 ||
            s.indexOf('\r') >= 0)
            throw new IllegalArgumentException(
              "graft tsv sink: string field contains a TSV framing byte " +
                s"(tab/newline) — refusing to write a torn row: $s")
          sb.append(s)
        case other => throw new IllegalArgumentException(
          s"graft tsv sink: unsupported column type $other")
      }
      i += 1
    }
    sb.append('\n')
    sb.toString
  }
}
