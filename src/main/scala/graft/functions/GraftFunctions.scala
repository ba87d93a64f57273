package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions.call_function

/** Registration for graft's native expressions and optimizer rules.
  *
  * `register(spark)` is the one install. `graft.Harness.session` calls
  * it on every session it builds, and `graft.SparkEntry` calls it on
  * whatever session the driver hands in, before each query.
  */
object GraftFunctions {

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))),
    (FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHashShingles].getName, "graft_rolling_hash"),
      (args: Seq[Expression]) => RollingHashShingles(args(0),
        args(1).eval().asInstanceOf[Number].intValue())),
    (FunctionIdentifier("graft_fold_accents"),
      new ExpressionInfo(classOf[UnicodeStripAccents].getName, "graft_fold_accents"),
      (args: Seq[Expression]) => UnicodeStripAccents(args.head)),
    (FunctionIdentifier("graft_lcs"),
      new ExpressionInfo(classOf[LcsLength].getName, "graft_lcs"),
      (args: Seq[Expression]) => LcsLength(args(0), args(1))),
    (FunctionIdentifier("graft_multi_contains"),
      new ExpressionInfo(classOf[MultiPatternMatches].getName, "graft_multi_contains"),
      (args: Seq[Expression]) => {
        // Fail analysis with a clear message, not an opaque
        // ClassCastException/NPE: the pattern array must be a foldable
        // array<string> with no null elements (the automaton is built
        // once at planning time).
        def bad(detail: String): Nothing =
          throw new org.apache.spark.sql.AnalysisException(
            errorClass = "INTERNAL_ERROR",
            messageParameters = Map("message" ->
              ("graft_multi_contains(text, patterns): patterns must be " +
                s"a foldable array<string> of non-null literals; $detail")))
        if (args.length != 2) bad(s"got ${args.length} arguments")
        if (!args(1).foldable) bad("second argument is not foldable")
        args(1).dataType match {
          case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType, _) => ()
          case other => bad(s"second argument has type ${other.sql}")
        }
        val arr = args(1).eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        if (arr == null) bad("second argument evaluates to null")
        MultiPatternMatches(args(0),
          (0 until arr.numElements()).map { i =>
            val p = arr.getUTF8String(i)
            if (p == null) bad(s"pattern element $i is null")
            p.toString
          })
      }),
    (FunctionIdentifier("graft_kmv_distinct"),
      new ExpressionInfo(classOf[KmvDistinct].getName, "graft_kmv_distinct"),
      (args: Seq[Expression]) => KmvDistinct(args.head,
        if (args.length > 1) args(1).eval().asInstanceOf[Number].intValue() else 256,
        if (args.length > 2) args(2).eval().asInstanceOf[Number].intValue() else 0)
        .toAggregateExpression()),
    (FunctionIdentifier("graft_hll_distinct"),
      new ExpressionInfo(classOf[HllDistinct].getName, "graft_hll_distinct"),
      (args: Seq[Expression]) =>
        HllDistinct(args.head).toAggregateExpression()),
    (FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKPairs].getName, "graft_topk"),
      (args: Seq[Expression]) => TopKPairs(args(0), args(1),
        args(2).eval().asInstanceOf[Number].intValue())
        .toAggregateExpression()))

  /** The optimizer rules, in the order they join
    * `experimental.extraOptimizations`: the blocklist fusion
    * (plans/FuseMultiContains), the two greedy-thinning pushdowns, and
    * stats-fed broadcast planning (plans/StatsBroadcast; a no-op until
    * Relational.analyzeForCbo fills the ledger). */
  val rules: Seq[Rule[LogicalPlan]] = Seq(
    graft.plans.FuseMultiContains,
    graft.plans.PushFilterThroughGreedyThin,
    graft.plans.PruneColumnsThroughGreedyThin,
    graft.plans.StatsBroadcastJoin)

  /** Install the functions, the rules and the greedy-thinning planner
    * strategy (plans/GreedyThin) on `spark`. Idempotent: anything
    * already present is left as it is. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (ident, info, builder) =>
      if (!registry.functionExists(ident)) {
        registry.registerFunction(ident, info, builder)
      }
    }
    val exp = spark.experimental
    exp.extraOptimizations = rules.foldLeft(exp.extraOptimizations) {
      (acc, r) => if (acc.contains(r)) acc else acc :+ r
    }
    if (!exp.extraStrategies.contains(graft.plans.GreedyThinStrategy)) {
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.GreedyThinStrategy
    }
  }

  /** HLL distinct-count aggregate over a pre-hashed 32-bit column
    * (Sampling.hashLong); register the functions first. */
  def hllDistinct(c: Column): Column = call_function("graft_hll_distinct", c)

  /** Exact bounded top-k aggregate: the k largest (key, id) pairs per
    * group under (key DESC, id ASC) as array<struct<key, id>> — O(k)
    * state, map-side combining (the rank-window replacement); `id`
    * must be unique. Register the functions first. */
  def topK(key: Column, id: Column, k: Int): Column =
    call_function("graft_topk", key, id,
      org.apache.spark.sql.functions.lit(k))

  /** Column-level dot product backed by the codegen'd expression.
    * Register the functions first. */
  def dotNative(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  /** Column-level accent fold (NFD + strip combining marks) backed by
    * the codegen'd expression; register the functions first. */
  def foldAccents(c: Column): Column = call_function("graft_fold_accents", c)

  /** Column-level LCS length over two token arrays backed by the
    * codegen'd expression; register the functions first. */
  def lcsNative(a: Column, b: Column): Column = call_function("graft_lcs", a, b)

  /** Sorted 1-based ids of the fixed patterns occurring in `text`,
    * via the one-pass Aho–Corasick expression; register first. */
  def multiContains(text: Column, patterns: Seq[String]): Column =
    call_function("graft_multi_contains", text,
      org.apache.spark.sql.functions.array(
        patterns.map(org.apache.spark.sql.functions.lit): _*))
}
