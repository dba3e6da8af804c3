package graft.core

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag
import scala.util.Using

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{Dataset, Encoder, Encoders, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{IterableEncoder, ProductEncoder}
import org.apache.spark.sql.functions.{col, input_file_block_start, input_file_name}
import org.apache.spark.util.SizeEstimator

import graft.plans.Plans

/** The generic user-function-driven MapReduce surface of the reference
  * engine (`/root/reference/mapreduce.py:139-187`), re-expressed on Spark.
  *
  * Reference semantics honored:
  *   - `mapFcn` is a generator: 0..n `(k, v)` outputs per input record
  *     (mapreduce.py:16) → `Dataset.flatMap`.
  *   - `reduceFcn` is *holistic*: it sees every value of a key in one call
  *     (mapreduce.py:17-18, 132-133) — so the default path is
  *     `groupByKey(...).mapGroups(...)`, never a partial-aggregating
  *     `Aggregator`, unless the caller opts in via [[runAssociative]].
  *   - Keys are generic `K : Encoder` — the documented contract
  *     (mapreduce.py:18), not the snapshot's str-only sharder
  *     (mapreduce.py:70, a latent bug; see SURVEY.md §1.1).
  *   - Output order is unspecified, as in the reference
  *     (mapreduce.py:161-163); callers sort when determinism matters.
  *
  * Scale notes (100 TB): the default path bundles values map-side, then
  * runs one sort-based `groupByKey(...).mapGroups` shuffle on the key.
  * Each map task collects its values per key until their estimated size
  * reaches a fixed byte budget ([[BundleBytes]]), then emits one
  * `(k, values)` chunk per key, so the shuffle carries chunks, not one
  * row per value, and a task's buffer stays bounded whatever the value
  * sizes. The reduce side still groups by the encoded key and streams
  * each key's chunks to `reduceFcn` as one lazy `Iterator`, holding one
  * chunk at a time (the reference materializes a list per key in reducer
  * memory, mapreduce.py:118 — callers that need random access can
  * `.toSeq`, accepting the same memory profile). Bundling only decides
  * which values travel together; `reduceFcn` is still called once per
  * key with all of its values. When the reduce function is
  * associative+commutative, use [[runAssociative]]: the same budgeted
  * map-side fold merges each key's values into one partial before the
  * shuffle (the reference has no combiner — SURVEY.md §2.1 O8).
  */
object MapReduce {

  /** Bulk API — analog of `MapReduceBulk` (mapreduce.py:139-164).
    *
    * @param numPartitions explicit reducer-parallelism knob (the
    *   reference's `num_reducers`). `None` (recommended) lets
    *   `spark.sql.shuffle.partitions` + AQE choose; `Some(n)` forces an
    *   exact hash-partitioning into n shards, reproducing the reference
    *   topology: one shuffle, hash(key) mod n (mapreduce.py:64-73).
    */
  def run[D, K, V, R](
      ds: Dataset[D],
      mapFcn: D => IterableOnce[(K, V)],
      reduceFcn: (K, Iterator[V]) => R,
      numPartitions: Option[Int] = None)(implicit
      kvEnc: Encoder[(K, V)],
      kEnc: Encoder[K],
      rEnc: Encoder[R]): Dataset[R] = {
    // every front door ends here or in runAssociative: a caller's sort of
    // the (small) result then plans in one task
    Plans.install(ds.sparkSession)
    numPartitions match {
      case None =>
        val chunkEnc = chunkEncoder(kvEnc)
        ds.mapPartitions(it => bundle(it.flatMap(mapFcn), BundleBytes))(chunkEnc)
          .groupByKey(_._1)
          .mapGroups((k, chunks) => reduceFcn(k, chunks.flatMap(_._2.iterator)))
      case Some(n) =>
        // Exact reference topology: hash-partition by key into n shards
        // (one shuffle — every value of a key co-locates because
        // repartition(n, key) hashes the full key), then sort within the
        // shard and stream each key's run to reduceFcn. Spark's sort
        // spills, so a shard larger than executor memory still works —
        // nothing is buffered per key unless reduceFcn itself does.
        // Requires an orderable key type (all atomics and case classes).
        ds.flatMap(mapFcn)
          .repartition(n, col("_1"))
          .sortWithinPartitions("_1")
          .mapPartitions { it =>
            val buf = it.buffered
            new Iterator[R] {
              override def hasNext: Boolean = buf.hasNext
              override def next(): R = {
                val k = buf.head._1
                val run = new Iterator[V] {
                  override def hasNext: Boolean = buf.hasNext && buf.head._1 == k
                  override def next(): V = buf.next()._2
                }
                val r = reduceFcn(k, run)
                while (run.hasNext) run.next() // drain if fn under-consumed
                r
              }
            }
          }
    }
  }

  /** Byte budget of one map task's per-key fold: [[run]]'s bundling
    * buffer and [[runAssociative]]'s combiner. Spark's own in-memory
    * shuffle collections first check for a spill at 5 MB
    * (`spark.shuffle.spill.initialMemoryThreshold`); this stays under it.
    */
  private[core] final val BundleBytes: Long = 4L << 20

  /** Estimated bytes a buffered value adds beyond the value itself (its
    * slot in the key's buffer), and a new key beyond the key itself (the
    * hash-map entry and an empty buffer). */
  private[core] val ValueSlotBytes = 8L
  private val KeyEntryBytes = 96L

  /** Groups one map task's `(k, v)` pairs into `(k, values)` chunks:
    * [[foldByKey]] appending to a per-key buffer. */
  private[core] def bundle[K, V](kvs: Iterator[(K, V)],
      budget: Long): Iterator[(K, Seq[V])] =
    foldByKey(kvs, budget)(ArraySeq.untagged.newBuilder[V] += _,
      (buf: mutable.Builder[V, ArraySeq[V]], v: V) => buf += v)
      .map { case (k, buf) => (k, buf.result()) }

  /** Merges one map task's `(k, v)` pairs into `(k, partial)` pairs:
    * [[foldByKey]] with `merge`, which must be associative and
    * commutative. */
  private[core] def combine[K, V](kvs: Iterator[(K, V)], budget: Long,
      merge: (V, V) => V): Iterator[(K, V)] =
    foldByKey(kvs, budget)(identity[V], merge)

  /** Folds one map task's `(k, v)` pairs per key: a key's first value
    * starts its partial through `first`, each later one is folded in by
    * `add`. The partials fill a hash map until the estimated size of the
    * pairs taken in reaches `budget`; then every partial is emitted and
    * the map starts over. So a task emits at most one partial per key per
    * flush. Every pair counts against the budget, not only a new key, so
    * a partial that grows with its values (a buffer, a set union) keeps
    * the task at about `budget` bytes. */
  private def foldByKey[K, V, A](kvs: Iterator[(K, V)], budget: Long)(
      first: V => A, add: (A, V) => A): Iterator[(K, A)] = {
    val keySize, valueSize = new SampledSize
    def flush(): Iterator[(K, A)] = {
      val partials = new java.util.HashMap[K, Partial[A]]()
      var bytes = 0L
      while (bytes < budget && kvs.hasNext) {
        val (k, v) = kvs.next()
        val p = partials.get(k)
        if (p == null) {
          partials.put(k, new Partial(first(v)))
          bytes += keySize.of(k) + KeyEntryBytes
        } else p.acc = add(p.acc, v)
        bytes += valueSize.of(v) + ValueSlotBytes
      }
      partials.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.acc))
    }
    Iterator.continually(flush()).takeWhile(_.hasNext).flatten
  }

  /** One key's partial in [[foldByKey]], boxed so that a null partial is
    * not taken for a missing key. */
  private final class Partial[A](var acc: A)

  /** Size of each object of a stream, estimated the way Spark's
    * `SizeTracker` does: `SizeEstimator` on a sample (the first 16
    * objects, then every 16th), each sample standing for the objects
    * after it until the next. */
  private final class SampledSize {
    private var seen = 0L
    private var last = 0L
    def of(x: Any): Long = {
      if (seen < 16 || seen % 16 == 0)
        last = if (x == null) 0L else SizeEstimator.estimate(x.asInstanceOf[AnyRef])
      seen += 1
      last
    }
  }

  /** The encoder of [[bundle]]'s `(K, Seq[V])` chunks, built from the
    * caller's two-field product encoder of `(K, V)`. */
  private def chunkEncoder[K, V](kvEnc: Encoder[(K, V)]): Encoder[(K, Seq[V])] = {
    val agnostic: Any = kvEnc match {
      case e: ExpressionEncoder[_] => e.encoder
      case a => a
    }
    agnostic match {
      case p: ProductEncoder[_] if p.fields.size == 2 =>
        val k = p.fields(0).enc.asInstanceOf[AgnosticEncoder[K]]
        val v = p.fields(1).enc.asInstanceOf[AgnosticEncoder[V]]
        val vs = IterableEncoder[Seq[V], V](
          ClassTag(classOf[Seq[_]]), v, v.nullable, lenientSerialization = false)
        Encoders.tuple(k, vs)
      case _ => throw new IllegalArgumentException(
        s"MapReduce.run needs a two-field product encoder for its (K, V) pairs, got $kvEnc")
    }
  }

  /** Placement-controlled variant — analog of the reference's pluggable
    * `distribute_work_fcn` (mapreduce.py:139,145-146,176-181): the caller
    * decides which mapper shard processes each input record, instead of
    * the engine's default distribution. The reference's hook assigns work
    * CHUNKS to mapper actors; on Spark, placement of records into map
    * tasks is a partitioning, so the hook is `(record, numMappers) =>
    * shard` and the engine realizes it with an IDENTITY `Partitioner` on
    * the computed shard id before the map phase: shard s IS partition s.
    * (A hash-repartition on the shard id would re-hash it — murmur3 can
    * map distinct shards to the same partition, leaving some mappers
    * empty and doubling others, which defeats an even-packing placement.)
    *
    * Placement is result-transparent by construction (same records, same
    * mapFcn/reduceFcn — only task locality changes), which
    * MapReducePropertySpec pins by golden-comparing against [[run]].
    * Legitimate uses at scale: co-locating records that share expensive
    * map-side state (a dictionary shard, a model partition), or packing
    * skewed inputs evenly when record cost is known to the caller —
    * knowledge Spark's size-based splitting doesn't have.
    */
  def runWithPlacement[D, K, V, R](
      ds: Dataset[D],
      mapFcn: D => IterableOnce[(K, V)],
      reduceFcn: (K, Iterator[V]) => R,
      placeFcn: (D, Int) => Int,
      numMappers: Int,
      numPartitions: Option[Int] = None)(implicit
      dEnc: Encoder[D],
      kvEnc: Encoder[(K, V)],
      kEnc: Encoder[K],
      rEnc: Encoder[R]): Dataset[R] = {
    require(numMappers > 0, "numMappers must be positive")
    val identityPart = new org.apache.spark.Partitioner {
      override def numPartitions: Int = numMappers
      override def getPartition(key: Any): Int = {
        val m = key.asInstanceOf[Int] % numMappers
        if (m < 0) m + numMappers else m
      }
    }
    implicit val dTag: scala.reflect.ClassTag[D] = dEnc.clsTag
    val placedRdd = ds.rdd
      .map(d => (placeFcn(d, numMappers), d))
      .partitionBy(identityPart)
      .values
    val placed = ds.sparkSession.createDataset(placedRdd)(dEnc)
    run(placed, mapFcn, reduceFcn, numPartitions)
  }

  /** Associative fast path: when `reduceFcn` is a commutative monoid fold,
    * each map task combines before the shuffle — the optimization the
    * reference lacks entirely (SURVEY.md §4.1). One `mapPartitions` runs
    * `mapFcn` and merges each key's values into a partial (the fold
    * [[run]] bundles with, under the same [[BundleBytes]] budget), so the
    * pairs are encoded once, as partials; the partials shuffle straight
    * to one `mapGroups` per key that merges them, the reduce shape [[run]]
    * uses, with no second partial aggregation before the exchange.
    * Semantics equal `run` with `reduceFcn = (k, vs) => out(vs.reduce(merge))`.
    */
  def runAssociative[D, K, V](
      ds: Dataset[D],
      mapFcn: D => IterableOnce[(K, V)],
      merge: (V, V) => V)(implicit
      kvEnc: Encoder[(K, V)],
      kEnc: Encoder[K]): Dataset[(K, V)] = {
    Plans.install(ds.sparkSession)
    ds.mapPartitions(it => combine(it.flatMap(mapFcn), BundleBytes, merge))
      .groupByKey(_._1)
      .mapGroups((k, ps) => (k, ps.map(_._2).reduce(merge)))
  }

  /** Single-text-file API — analog of `MapReduceWithOneFileInput`
    * (mapreduce.py:167-173). Unlike the reference, the file does NOT
    * stream through the driver (its acknowledged bottleneck,
    * mapreduce.py:25-26): Spark splits it across executors.
    *
    * Reference line semantics: lines keep their trailing `\n` there;
    * Spark strips terminators — documented delta (SURVEY.md §1.1), no
    * observable difference for the reference's own workloads.
    *
    * `ignoreFirstLine` drops the first line of every file `path` names
    * (a directory or glob of headered files loses each header), without
    * a pass of its own: see [[dropFileHeaders]].
    */
  def runOnTextFile[K, V, R](
      spark: SparkSession,
      path: String,
      mapFcn: String => IterableOnce[(K, V)],
      reduceFcn: (K, Iterator[V]) => R,
      ignoreFirstLine: Boolean = false,
      numPartitions: Option[Int] = None)(implicit
      kvEnc: Encoder[(K, V)],
      kEnc: Encoder[K],
      rEnc: Encoder[R]): Dataset[R] = {
    val lines = spark.read.textFile(path)
    run(if (ignoreFirstLine) dropFileHeaders(lines) else lines,
      mapFcn, reduceFcn, numPartitions)
  }

  /** `lines` of a text scan without each file's first line. That line is
    * the first row of the file's split at byte offset 0, and a task reads
    * a split's rows in order, so a row is dropped when it starts the
    * offset-0 split of its file within its partition. A narrow filter in
    * the scan's own tasks: nothing runs before the caller's action. */
  private def dropFileHeaders(lines: Dataset[String]): Dataset[String] =
    lines.select(col("value"), input_file_name(), input_file_block_start())
      .as(Encoders.tuple(Encoders.STRING, Encoders.STRING, Encoders.scalaLong))
      .mapPartitions { rows =>
        var inFirstSplitOf: String = null // file of the previous row, if at offset 0
        rows.filter { case (_, file, start) =>
          val header = start == 0L && file != inFirstSplitOf
          inFirstSplitOf = if (start == 0L) file else null
          !header
        }.map(_._1)
      }(Encoders.STRING)

  /** Multi-file API — analog of `MapReduceWithMultipleFiles`
    * (mapreduce.py:176-187): an index file lists one data-file URI (or
    * glob) per line. As in the reference, the driver reads the index
    * itself, one file, with no Spark job (see [[readIndex]]). The
    * reference round-robins whole files to mappers; Spark goes further
    * and splits every file into byte-range tasks.
    */
  def runOnFileIndex[K, V, R](
      spark: SparkSession,
      indexPath: String,
      mapFcn: String => IterableOnce[(K, V)],
      reduceFcn: (K, Iterator[V]) => R,
      numPartitions: Option[Int] = None)(implicit
      kvEnc: Encoder[(K, V)],
      kEnc: Encoder[K],
      rEnc: Encoder[R]): Dataset[R] = {
    val files = readIndex(spark, indexPath)
    run(spark.read.textFile(files: _*), mapFcn, reduceFcn, numPartitions)
  }

  /** The trimmed non-empty lines of the index file at `indexPath`, read
    * on the driver through the session's Hadoop conf — the one Spark's
    * own file reads use, so Hadoop keys set on the session and scheme
    * routing apply — and decompressed by extension (`.gz`, ...). The
    * index is one file: a directory fails with an
    * `IllegalArgumentException`, a missing path or a glob with a
    * `FileNotFoundException`, each naming the path. */
  private def readIndex(spark: SparkSession, indexPath: String): Seq[String] = {
    val conf = GraftPlanBridge.newHadoopConf(spark)
    val path = new Path(indexPath)
    val fs = path.getFileSystem(conf)
    require(!fs.getFileStatus(path).isDirectory,
      s"MapReduce index $indexPath is a directory; it must be one file " +
        "listing one data-file path per line")
    val codec = new CompressionCodecFactory(conf).getCodec(path)
    Using.Manager { use =>
      val raw = use(fs.open(path))
      val in = if (codec == null) raw else use(codec.createInputStream(raw))
      use(new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8)))
        .lines.iterator.asScala.map(_.trim).filter(_.nonEmpty).toVector
    }.get
  }
}
