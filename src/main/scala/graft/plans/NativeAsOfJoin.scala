package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlanBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, AttributeSet, BoundReference, GenericInternalRow, JoinedRow, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, BinaryNode, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Native Catalyst AS-OF JOIN — the whole-operator rung (preference (c))
  * of the custom-operator ladder: a [[LogicalPlan]] node, a planner
  * [[SparkStrategy]], and a physical [[AsOfJoinExec]] that declares its
  * distribution/ordering REQUIREMENTS to Catalyst instead of encoding
  * them as query shape.
  *
  * Semantics (identical to the compositional
  * [[graft.operators.AsOfJoin.leftAsOf]], q35's union-window shape): for
  * every left row, attach the payload of the LATEST right row with the
  * same key and `rightTime <= leftTime`, nulls when none. Rows with a
  * null key or null time never match (SQL comparison semantics). Right
  * should be unique per (key, time) — among equal-time right rows the
  * sort-tiebreak winner is carried, so pre-reduce ties upstream for
  * determinism, exactly as the compositional contract states.
  *
  * Why a native operator when (a) already works — what the physical
  * node buys over the union-window shape, all pinned in
  * AsOfJoinNativeSpec:
  *
  *   - **No row widening.** The union shape pads BOTH sides to the
  *     unioned schema (left columns nulled onto right rows and vice
  *     versa) and shuffles the padded union; the native exec shuffles
  *     each side at its own width, exactly like a join.
  *   - **No window buffering.** `last(_, ignoreNulls).over(...)` runs a
  *     WindowExec whose frame machinery buffers rows per partition; the
  *     merge here is a single forward pass holding ONE candidate right
  *     row — O(1) state per key group, never a spillable row buffer.
  *   - **Partitioning survives.** The exec reports the left child's
  *     hash partitioning as its own output partitioning, so a downstream
  *     aggregate on the join key plans WITHOUT another exchange. The
  *     union shape keys its window on an internal `_k` column that is
  *     dropped afterwards, so the partitioning info dies with it and the
  *     downstream aggregate re-shuffles — at 100 TB that is an entire
  *     extra pass over the fact table.
  *
  * Scale shape: one hash exchange + sort per side (EnsureRequirements
  * satisfies the declared [[ClusteredDistribution]]/[[SortOrder]]
  * requirements; AQE coalesces/splits the exchanges as usual), then an
  * O(left + right) streaming merge per partition with O(1) held state.
  * Skew on the as-of key behaves exactly like join skew (same exchange),
  * and the merge never materializes a key group.
  *
  * The reference has no temporal joins at all (its only notion of time
  * is a string prefix — ray_mapreduce/examples, SURVEY.md §1.1); this
  * operator exists for the events workload the blueprint adds.
  */
case class AsOfJoinNode(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    forward: Boolean = false,
    tolerance: Option[Long] = None) extends BinaryNode {

  // the one check of the node's contract: a public case class, so a
  // hand-built node is refused here with the API's messages rather than
  // failing mid-merge
  require(leftKey.dataType == rightKey.dataType,
    s"key types differ: ${leftKey.dataType} vs ${rightKey.dataType}")
  require(leftTime.dataType == rightTime.dataType,
    s"time types differ: ${leftTime.dataType} vs ${rightTime.dataType}")
  tolerance.foreach { t =>
    require(t >= 0, s"tolerance must be non-negative, got $t")
    require(AsOfMerger.physLong(leftTime.dataType),
      s"tolerance needs a physically-long time column, got ${leftTime.dataType}")
  }

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def maxRows: Option[Long] = left.maxRows

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinNode]] → [[AsOfJoinExec]]; injected per session via
  * [[Plans.install]] (runtime) or [[graft.GraftExtensions]]
  * (builder time). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsOfJoinNode =>
      AsOfJoinExec(n.leftKey, n.rightKey, n.leftTime, n.rightTime,
        n.forward, n.tolerance, planLater(n.left), planLater(n.right)) :: Nil
    case _ => Nil
  }
}

/** Physical as-of join: requires both children hash-clustered on their
  * key and sorted by (key, time); executes a per-partition streaming merge
  * ([[AsOfMerger]]) that holds at most one candidate right row (backward)
  * or none at all (forward — the lookahead row IS the candidate). The
  * merge runs inside whole-stage codegen for every key and time type;
  * `doExecute` (codegen off, or a codegen fallback) drives the same
  * merger from an iterator. The children's sorts and exchanges are
  * ordinary codegen'd operators inserted by EnsureRequirements.
  *
  * `forward=false`: latest right with `rt <= lt`; `forward=true`:
  * earliest right with `rt >= lt`. `tolerance` (in the time column's
  * own units, physically-long times only) additionally bounds
  * `|rt - lt|`; both direction/bound checks are O(1) at emit, the merge
  * stays one pass.
  */
case class AsOfJoinExec(
    leftKey: Attribute,
    rightKey: Attribute,
    leftTime: Attribute,
    rightTime: Attribute,
    forward: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  /** Left rows pass through in input order on left's partitions — both
    * properties survive for downstream planning (the point of the node). */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)

  /** The merge's column ordinals and types, resolved on the driver for
    * both execution modes. */
  private def mergeSpec: AsOfMergeSpec = {
    def ordinal(child: SparkPlan, a: Attribute): Int = {
      val i = child.output.indexWhere(_.exprId == a.exprId)
      require(i >= 0, "as-of key/time must be output attributes of their child")
      i
    }
    AsOfMergeSpec(ordinal(left, leftKey), ordinal(left, leftTime),
      ordinal(right, rightKey), ordinal(right, rightTime),
      leftKey.dataType, leftTime.dataType, forward, tolerance)
  }

  // ---- whole-stage codegen (the r13 A/B's named cost: the interpreted
  // merge paid ~0.3 µs/row over the codegen'd window it replaces —
  // per-row lambda dispatch, JoinedRow indirection, and an
  // UnsafeProjection materialization per output row). The PRODUCE
  // implementation streams the LEFT side through generated code (the
  // BroadcastHashJoin pattern: one output per probe row), keeps the
  // right-side merge in the compiled [[AsOfMerger]] (monomorphic,
  // JIT-inlined — state machines gain nothing from Janino), and hands
  // the joined columns to the consumer AS VARIABLES, so a downstream
  // aggregate/projection fuses into the same generated loop with no
  // intermediate row at all. ----

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // one output row per left row, but the forward path hands the
  // consumer columns read from the right iterator's LIVE row — a
  // downstream buffering consumer must copy before the next advance()
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val leftInput = ctx.addMutableState("scala.collection.Iterator",
      "asofLeftInput", v => s"$v = inputs[0];")
    val spec = ctx.addReferenceObj("asofSpec", mergeSpec)
    val mergerCls = classOf[AsOfMerger].getName
    val merger = ctx.addMutableState(mergerCls, "asofMerger",
      v => s"$v = new $mergerCls($spec, inputs[1]);")
    val numOutput = metricTerm(ctx, "numOutputRows")
    val leftRow = ctx.freshName("asofLeftRow")
    val matched = ctx.freshName("asofMatched")
    ctx.INPUT_ROW = leftRow
    ctx.currentVars = null
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    // right columns read from the matched row, null-extended when no
    // match — generated inline so the null check is a plain branch
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      val isNull = ctx.freshName("asofRNull")
      val value = ctx.freshName("asofRVal")
      val jt = CodeGenerator.javaType(a.dataType)
      val cd =
        code"""
              |boolean $isNull = true;
              |$jt $value = ${CodeGenerator.defaultValue(a.dataType)};
              |if ($matched != null && !$matched.isNullAt($i)) {
              |  $isNull = false;
              |  $value = ${CodeGenerator.getValue(matched, a.dataType, i.toString)};
              |}
         """.stripMargin
      ExprCode(cd, JavaCode.isNullVariable(isNull),
        JavaCode.variable(value, a.dataType))
    }
    s"""
       |while ($leftInput.hasNext()) {
       |  InternalRow $leftRow = (InternalRow) $leftInput.next();
       |  InternalRow $matched = $merger.advance($leftRow);
       |  $numOutput.add(1);
       |  ${consume(ctx, leftVars ++ rightVars)}
       |  if (shouldStop()) return;
       |}
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val spec = mergeSpec
    val rWidth = right.output.size
    val outSchema = schema
    val numOutputRows = longMetric("numOutputRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val merger = new AsOfMerger(spec, rIter)
      val nullRight = new GenericInternalRow(rWidth)
      val joined = new JoinedRow
      // bound to the exec's own schema, where right columns are nullable:
      // a miss reads null even from a right column its child declares
      // non-nullable
      val proj = UnsafeProjection.create(outSchema)
      lIter.map { l =>
        val m = merger.advance(l)
        numOutputRows += 1
        proj(joined(l, if (m == null) nullRight else m))
      }
    }
  }
}

/** What [[AsOfMerger]] needs to know about the two sides: the key and
  * time ordinals in each child's output, their (shared) types, the
  * direction and the tolerance. Built once on the driver; serializable,
  * so whole-stage codegen ships it as a reference object. */
final case class AsOfMergeSpec(lkOrd: Int, ltOrd: Int, rkOrd: Int, rtOrd: Int,
    keyType: DataType, timeType: DataType, forward: Boolean,
    tolerance: Option[Long])

/** The per-partition right-side state machine behind [[AsOfJoinExec]]:
  * the one as-of merge, called once per left row by both the generated
  * loop and `doExecute`. O(1) held state, one forward pass,
  * overflow-safe tolerance.
  *
  * Physically-long key and time columns (bigint, timestamp,
  * timestamp_ntz) compare with primitive `getLong` — no boxing, and the
  * branch on the final `longKey`/`longTime` flags is constant per
  * instance, so the long shapes keep a monomorphic, JIT-inlined merge.
  * Every other orderable type compares through Spark's interpreted
  * ordering.
  *
  * Caller contract (guaranteed by the exec's required orderings): left
  * rows arrive in ascending (key, time), right rows in ascending (key,
  * time) with nulls first. The returned row is valid only until the
  * next `advance` call — forward matches are the iterator's live row
  * (the generated consumer reads its columns immediately; buffering
  * consumers copy via `needCopyResult`). */
final class AsOfMerger(spec: AsOfMergeSpec, rIter: Iterator[InternalRow]) {
  import spec._
  private[this] val longKey = AsOfMerger.physLong(keyType)
  private[this] val longTime = AsOfMerger.physLong(timeType)
  private[this] val keyOrd =
    if (longKey) null else TypeUtils.getInterpretedOrdering(keyType)
  private[this] val timeOrd =
    if (longTime) null else TypeUtils.getInterpretedOrdering(timeType)
  // tolerance as a plain long; `bounded` gates the check entirely when
  // unset. Qualifying diffs are mathematically >= 0 (the merge only
  // tests candidates on the right side of the inequality), so a
  // NEGATIVE computed diff can only mean Long overflow — the true diff
  // exceeds Long.MaxValue >= tol — and must REJECT, not falsely match
  private[this] val bounded = tolerance.isDefined
  private[this] val tol = tolerance.getOrElse(Long.MaxValue)
  private[this] var rHead: InternalRow = next()
  private[this] var held: InternalRow = null // copied — buffers get reused
  // the current left row's key and time, read once per advance: as a
  // primitive long on the long path, as a value for the ordering
  // otherwise (valid while `advance` runs, the only place it is read)
  private[this] var lk = 0L
  private[this] var lt = 0L
  private[this] var lkV: Any = null
  private[this] var ltV: Any = null

  private def next(): InternalRow = if (rIter.hasNext) rIter.next() else null

  /** Right row `r`'s key against the left row's (both non-null). */
  private def keyCmp(r: InternalRow): Int =
    if (longKey) java.lang.Long.compare(r.getLong(rkOrd), lk)
    else keyOrd.compare(r.get(rkOrd, keyType), lkV)

  /** Right row `r`'s time against the left row's (both non-null). */
  private def timeCmp(r: InternalRow): Int =
    if (longTime) java.lang.Long.compare(r.getLong(rtOrd), lt)
    else timeOrd.compare(r.get(rtOrd, timeType), ltV)

  /** `r` is within tolerance of the left row (a tolerance implies long
    * times). */
  private def inBand(r: InternalRow): Boolean = !bounded || {
    val d = if (forward) r.getLong(rtOrd) - lt else lt - r.getLong(rtOrd)
    d >= 0 && d <= tol
  }

  /** Latest same-key right row with rt <= lt (backward) / earliest with
    * rt >= lt (forward) within tolerance, or null — also when the left
    * key or time is null. */
  def advance(l: InternalRow): InternalRow =
    if (l.isNullAt(lkOrd) || l.isNullAt(ltOrd)) null
    else {
      if (longKey) lk = l.getLong(lkOrd) else lkV = l.get(lkOrd, keyType)
      if (longTime) lt = l.getLong(ltOrd) else ltV = l.get(ltOrd, timeType)
      // null keys sort first and never match; smaller keys never match
      // again, since left keys ascend
      while (rHead != null && (rHead.isNullAt(rkOrd) || keyCmp(rHead) < 0))
        rHead = next()
      if (forward) {
        // no held state: rows before lt can never match a later left row
        // (left times ascend), and the first same-key row at rt >= lt —
        // the lookahead itself — is the unique earliest candidate, left
        // unconsumed for the next left row
        while (rHead != null && keyCmp(rHead) == 0 &&
            (rHead.isNullAt(rtOrd) || timeCmp(rHead) < 0)) rHead = next()
        if (rHead != null && keyCmp(rHead) == 0 && inBand(rHead)) rHead
        else null
      } else {
        while (rHead != null && keyCmp(rHead) == 0 &&
            (rHead.isNullAt(rtOrd) || timeCmp(rHead) <= 0)) {
          if (!rHead.isNullAt(rtOrd)) held = rHead.copy() // null times never match
          rHead = next()
        }
        if (held != null && keyCmp(held) == 0 && inBand(held)) held
        else null
      }
    }
}

object AsOfMerger {
  /** Physically-long types (stored as a primitive long in InternalRow):
    * the common as-of shapes — bigint keys, epoch-micros / timestamp
    * times — and the only time types a tolerance applies to. */
  private[plans] def physLong(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Optimizer hygiene for the custom node. A LogicalPlan Catalyst does
  * not know is an OPAQUE WALL: PushDownPredicates and ColumnPruning
  * both stop at it, so a filter written after the join runs after the
  * exchanges, and the scans read every column both inputs carry — at
  * 100 TB those are exactly the two plan properties that matter most.
  * A custom operator therefore ships WITH its optimizer rules (the
  * other half of ladder rung (c)); this one restores both:
  *
  *   - **Predicate pushdown**: deterministic conjuncts referencing only
  *     LEFT-side attributes move below the node (sound because the
  *     as-of emits exactly one row per left row, with left columns
  *     unchanged — filtering left inputs ≡ filtering outputs on left
  *     columns). Right-referencing conjuncts stay above: the right
  *     payload is null-extended and match-dependent, so pre-filtering
  *     the right child would CHANGE which row matches.
  *   - **Column pruning**: when a Project/Aggregate sits on the node,
  *     children are narrowed to referenced attributes + the join's
  *     key/time columns; Catalyst's own ColumnPruning then carries the
  *     inserted Project down to the scan's ReadSchema.
  *
  * Both rewrites run in one apply (push first, then prune) so a single
  * pass suffices even under a run-Once batch.
  */
object AsOfJoinRules extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = prune(push(plan))

  private def push(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoinNode) =>
      val (pushable, keep) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(pushable.reduce(And), j.left))
        if (keep.isEmpty) pushed else Filter(keep.reduce(And), pushed)
      }
  }

  private def prune(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, j: AsOfJoinNode) =>
      narrowed(j, p.references).map(n => p.copy(child = n)).getOrElse(p)
    case a @ Aggregate(_, _, j: AsOfJoinNode, _) =>
      narrowed(j, a.references).map(n => a.copy(child = n)).getOrElse(a)
  }

  /** Children narrowed to `parentRefs` + join columns; None if already
    * minimal (fixed point). */
  private def narrowed(j: AsOfJoinNode, parentRefs: AttributeSet): Option[AsOfJoinNode] = {
    val needed = parentRefs ++
      AttributeSet(Seq(j.leftKey, j.rightKey, j.leftTime, j.rightTime))
    def slim(c: LogicalPlan): LogicalPlan = {
      val kept = c.output.filter(needed.contains)
      if (kept.length == c.output.length) c else Project(kept, c)
    }
    val (nl, nr) = (slim(j.left), slim(j.right))
    if ((nl eq j.left) && (nr eq j.right)) None
    else Some(j.copy(left = nl, right = nr))
  }
}

/** User-facing API for the native as-of join. */
object NativeAsOfJoin {

  /** Left as-of join via the native operator. Same contract as the
    * compositional [[graft.operators.AsOfJoin.leftAsOf]]: right unique
    * per (key, time) for determinism; output = left.* ++ right.* (right
    * columns nullable — drop the right key/time if unwanted). Key and
    * time columns are referenced BY NAME on their own side, so the two
    * frames' column names may overlap freely except that callers should
    * rename collisions before selecting from the result.
    *
    * `forward = false` (default) matches the LATEST right row with
    * `rightTime <= leftTime`; `forward = true` matches the EARLIEST with
    * `rightTime >= leftTime` — pandas merge_asof's `direction`.
    * `tolerance` (merge_asof's `tolerance`) additionally requires
    * `|rightTime - leftTime| <= tolerance`, expressed in the time
    * column's own units; it needs a physically-long time column
    * (bigint / timestamp — epoch micros). */
  def leftAsOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTime: String,
      rightTime: String,
      forward: Boolean = false,
      tolerance: Option[Long] = None): DataFrame = {
    val s = left.sparkSession
    Plans.install(s)
    val lPlan = GraftPlanBridge.analyzed(left)
    val rPlan = GraftPlanBridge.analyzed(right)
    require(
      lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "left and right must not share attributes (self-as-of needs an " +
        "explicit right.toDF() re-alias to get fresh expression ids)")
    def attr(p: LogicalPlan, n: String, side: String): Attribute =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"$side column '$n' not found among ${p.output.map(_.name).mkString(", ")}"))
    val lk = attr(lPlan, leftKey, "left")
    val rk = attr(rPlan, rightKey, "right")
    val lt = attr(lPlan, leftTime, "left")
    val rt = attr(rPlan, rightTime, "right")
    GraftPlanBridge.ofRows(s,
      AsOfJoinNode(lPlan, rPlan, lk, rk, lt, rt, forward, tolerance))
  }
}
