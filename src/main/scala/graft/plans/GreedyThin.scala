package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** Logical node for GREEDY TEMPORAL THINNING: per key, scan rows in
  * (ts, tiebreak) order and KEEP a row only if its timestamp is at
  * least `gapMicros` after the last KEPT row of that key (the first
  * row of every key is always kept).
  *
  * This is the re-crawl/snapshot debounce step of a web-scale corpus
  * pipeline — "keep at most one snapshot of a page per N hours,
  * measured from the last snapshot we kept" — and it is the engine's
  * one operator whose semantics no built-in can express: the decision
  * for row i depends on which earlier rows were KEPT (the operator's
  * own output), not on any function of the input alone, so no window
  * frame computes it. `flatMapGroups` could, but it hands the group
  * iterator over UNORDERED and forces a per-group in-memory sort +
  * object codec round-trip. This node instead declares what it needs
  * — `ClusteredDistribution(keys)` + child ordering (keys, ts,
  * tiebreak) — and Catalyst's EnsureRequirements plans the one
  * hash-partition exchange and per-partition sort; the operator
  * itself is then a single streaming pass with O(1) state per
  * partition (current key + last kept timestamp), no group
  * materialization, no codec. At 100 TB that is the difference
  * between "one shuffle and a scan" and "one shuffle plus buffering
  * every group on heap".
  *
  * Determinism: callers pass `tiebreak` columns that make (keys, ts,
  * tiebreak) a total order, so the kept set is unique; ties on ts
  * within the gap window are dropped (a second row at the kept
  * timestamp is `< lastKept + gap` for any gap > 0). Rows where ts,
  * a key, or the gap is null must be filtered upstream (nulls sort
  * first and would seed a key's scan with a garbage timestamp).
  *
  * `gap` is an EXPRESSION in epoch micros, evaluated on each
  * candidate row — a literal for the uniform debounce, a column for
  * per-key budgets ("news domains every 6 h, archives every 30 d":
  * join the policy dim, thin on the joined gap). The kept set is
  * well-defined for any gap expression (the scan is still a single
  * deterministic pass), but the per-KEY-constant case is the one the
  * pushdown rule's commutation law and the oracle replays assume.
  */
case class GreedyThin(
    keys: Seq[Expression],
    ts: Expression,
    tiebreak: Seq[Expression],
    gap: Expression,
    child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): GreedyThin =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node 1:1 onto the physical
  * operator — installed by `GraftFunctions.register`
  * (experimental.extraStrategies), next to the optimizer rules. */
object GreedyThinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GreedyThin(keys, ts, tie, gap, child) =>
      GreedyThinExec(keys, ts, tie, gap, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Physical greedy-thinning operator. Declares required distribution
  * and ordering instead of shuffling/sorting itself — EnsureRequirements
  * inserts (and AQE sizes) the exchange, and an already-bucketed or
  * already-sorted child satisfies the requirement with NO new
  * exchange, exactly like SortMergeJoin does. The pass itself is a
  * stateful filter: O(1) state, streaming, preserves partitioning and
  * ordering, so downstream per-key operators reuse both. */
case class GreedyThinExec(
    keys: Seq[Expression],
    ts: Expression,
    tiebreak: Seq[Expression],
    gap: Expression,
    child: SparkPlan) extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(((keys :+ ts) ++ tiebreak).map(e => SortOrder(e, Ascending)))

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyExprs = keys
    val tsExpr = ts
    val gapExpr = gap
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val tsProj = UnsafeProjection.create(Seq(tsExpr, gapExpr), childOutput)
      var curKey: UnsafeRow = null
      var lastKept = 0L
      iter.filter { row =>
        // projections reuse their buffers; the key is copied only on
        // group change (one tiny copy per key, not per row)
        val tg = tsProj(row)
        val t = tg.getLong(0)
        val k = keyProj(row)
        val keep =
          if (curKey == null || k != curKey) { curKey = k.copy(); true }
          else t >= lastKept + tg.getLong(1)
        if (keep) lastKept = t
        keep
      }
    }, preservesPartitioning = true)
  }

  // ---- whole-stage codegen --------------------------------------------
  //
  // The operator is a stateful filter between two codegen'd stages
  // (the EnsureRequirements sort below, the user's projections/aggs
  // above); without CodegenSupport it breaks the pipeline at BOTH
  // edges and pays an iterator + UnsafeProjection per row. The
  // generated form is the same two-variable state machine as
  // doExecute — (current key fields, last kept timestamp) held in
  // class-level mutable state — inlined into the produce loop like
  // FilterExec's predicate, with a `continue` on drop.

  /** Key fields are compared/stored field-by-field in generated code,
    * so only types with value-level equality and a safe copy are
    * eligible; anything else (complex types) falls back to the
    * interpreted path. DecimalType qualifies: `Decimal.equals` is
    * value-based (compareTo == 0) and `clone()` detaches the stored
    * key from any buffer the producing stage might reuse — the same
    * copy-on-group-change treatment as StringType. */
  private def codegenKeyType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType |
         TimestampNTZType | StringType => true
    case _: DecimalType => true
    case _ => false
  }

  private def longBacked(dt: DataType): Boolean = dt match {
    case LongType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  override def supportCodegen: Boolean =
    keys.forall(k => codegenKeyType(k.dataType)) &&
      longBacked(ts.dataType) && gap.dataType == LongType

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs()

  protected override def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
                         row: ExprCode): String = {
    val seen = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "thinSeen")
    val lastKept = ctx.addMutableState(CodeGenerator.JAVA_LONG, "thinLastKept")
    ctx.currentVars = input
    val tsEv = BindReferences.bindReference(ts, child.output).genCode(ctx)
    val gapEv = BindReferences.bindReference(gap, child.output).genCode(ctx)
    val keyEvs = keys.map(k =>
      BindReferences.bindReference(k, child.output).genCode(ctx))
    val states = keys.map { k =>
      val v = ctx.addMutableState(CodeGenerator.javaType(k.dataType), "thinKey")
      val n = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "thinKeyNull")
      (v, n)
    }
    val sameKey = keys.lazyZip(keyEvs).lazyZip(states).map {
      case (k, ev, (sv, sn)) =>
        val eq = ctx.genEqual(k.dataType, sv, ev.value.toString)
        s"($sn == ${ev.isNull} && ($sn || ($eq)))"
    }.mkString(" &&\n          ")
    val storeKey = keys.lazyZip(keyEvs).lazyZip(states).map {
      case (k, ev, (sv, sn)) =>
        val copied = k.dataType match {
          // string/decimal values may point into (or be) reused
          // buffers/objects of the producing stage — copy on group
          // change (one copy per KEY, not per row)
          case StringType | _: DecimalType =>
            s"${ev.isNull} ? null : ${ev.value}.clone()"
          case _ => ev.value.toString
        }
        s"$sn = ${ev.isNull};\n          $sv = $copied;"
    }.mkString("\n          ")
    val keep = ctx.freshName("thinKeep")
    // no `continue` here: the framework may extract this block into a
    // split consume function where no loop encloses it — a guarded
    // if-block drops the row just as well in every placement
    s"""
       |${tsEv.code}
       |${gapEv.code}
       |${keyEvs.map(_.code).mkString("\n")}
       |boolean $keep;
       |if (!$seen ||
       |    !($sameKey)) {
       |  $seen = true;
       |  $storeKey
       |  $keep = true;
       |} else {
       |  $keep = ${tsEv.value} >= $lastKept + ${gapEv.value};
       |}
       |if ($keep) {
       |  $lastKept = ${tsEv.value};
       |  ${consume(ctx, input)}
       |}
     """.stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GreedyThinExec =
    copy(child = newChild)
}
