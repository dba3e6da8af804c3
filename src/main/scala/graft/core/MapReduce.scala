package graft.core

import scala.collection.immutable.ArraySeq
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{IterableEncoder, ProductEncoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.util.SizeEstimator

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
  * associative+commutative, use [[runAssociative]] to get map-side
  * partial aggregation (the reference has none — SURVEY.md §2.1 O8).
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

  /** Byte budget of one map task's bundling buffer in [[run]]. Spark's
    * own in-memory shuffle collections first check for a spill at 5 MB
    * (`spark.shuffle.spill.initialMemoryThreshold`); this stays under it.
    */
  private[core] final val BundleBytes: Long = 4L << 20

  /** Estimated bytes a buffered value adds beyond the value itself (its
    * slot in the key's buffer), and a new key beyond the key itself (the
    * hash-map entry and an empty buffer). */
  private val ValueSlotBytes = 8L
  private val KeyEntryBytes = 96L

  /** Groups one map task's `(k, v)` pairs into `(k, values)` chunks. The
    * pairs fill a hash map of per-key buffers until their estimated size
    * reaches `budget`; then every buffer is emitted as one chunk and the
    * map starts over. So a task emits at most one chunk per key per
    * flush, and holds at most about `budget` bytes of pairs. */
  private[core] def bundle[K, V](kvs: Iterator[(K, V)],
      budget: Long): Iterator[(K, Seq[V])] = {
    val keySize, valueSize = new SampledSize
    def flush(): Iterator[(K, Seq[V])] = {
      val groups = new java.util.HashMap[K, mutable.Builder[V, ArraySeq[V]]]()
      var bytes = 0L
      while (bytes < budget && kvs.hasNext) {
        val (k, v) = kvs.next()
        var buf = groups.get(k)
        if (buf == null) {
          buf = ArraySeq.untagged.newBuilder[V]
          groups.put(k, buf)
          bytes += keySize.of(k) + KeyEntryBytes
        }
        buf += v
        bytes += valueSize.of(v) + ValueSlotBytes
      }
      groups.entrySet.iterator.asScala.map(e => (e.getKey, e.getValue.result()))
    }
    Iterator.continually(flush()).takeWhile(_.hasNext).flatten
  }

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
    * Spark can partially aggregate map-side before the shuffle — the
    * optimization the reference lacks entirely (SURVEY.md §4.1). Semantics
    * equal `run` with `reduceFcn = (k, vs) => out(vs.reduce(merge))`.
    */
  def runAssociative[D, K, V](
      ds: Dataset[D],
      mapFcn: D => IterableOnce[(K, V)],
      merge: (V, V) => V)(implicit
      kvEnc: Encoder[(K, V)],
      kEnc: Encoder[K],
      vEnc: Encoder[V]): Dataset[(K, V)] =
    ds.flatMap(mapFcn).groupByKey(_._1).mapValues(_._2).reduceGroups(merge)

  /** Single-text-file API — analog of `MapReduceWithOneFileInput`
    * (mapreduce.py:167-173). Unlike the reference, the file does NOT
    * stream through the driver (its acknowledged bottleneck,
    * mapreduce.py:25-26): Spark splits it across executors.
    *
    * Reference line semantics: lines keep their trailing `\n` there;
    * Spark strips terminators — documented delta (SURVEY.md §1.1), no
    * observable difference for the reference's own workloads.
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
    import spark.implicits._
    val lines0 = spark.read.textFile(path)
    val lines =
      if (!ignoreFirstLine) lines0
      else {
        // Drop the first line of the (single) file without collecting it:
        // zipWithIndex is a narrow pass over already-ordered text splits.
        lines0.rdd.zipWithIndex().filter(_._2 > 0L).map(_._1).toDS()
      }
    run(lines, mapFcn, reduceFcn, numPartitions)
  }

  /** Multi-file API — analog of `MapReduceWithMultipleFiles`
    * (mapreduce.py:176-187): an index file lists one data-file URI per
    * line. The reference round-robins whole files to mappers; Spark goes
    * further and splits every file into byte-range tasks.
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
    val files = spark.read.textFile(indexPath)
      .collect().map(_.trim).filter(_.nonEmpty) // index file is small: file list only
    run(spark.read.textFile(files.toIndexedSeq: _*), mapFcn, reduceFcn, numPartitions)
  }
}
