package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeSet, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: push KEY-only predicates through [[GreedyThin]].
  *
  * Thinning is per-key independent — the kept set of key k is a
  * function of key-k rows alone — so a deterministic predicate that
  * references only the thinning keys commutes with the operator:
  * filter-then-thin ≡ thin-then-filter. Pushing it below means
  * "debounce ONE domain" prunes at the source (partition pruning /
  * parquet PushedFilters via PhysicalOperation) and shrinks the
  * operator's exchange, instead of thinning 100 TB and throwing away
  * all but one key's output. Predicates referencing any non-key
  * column (including the timestamp) must NOT move: dropping a row
  * before thinning changes which later rows are kept.
  *
  * Mixed conjunctions split: key-only conjuncts move below, the rest
  * stay above. Idempotent — a second application finds nothing
  * key-only left above. Installed by `GraftFunctions.register`
  * (extraOptimizations; runs late, but FileSourceStrategy's
  * PhysicalOperation still collects the pushed filter at physical
  * planning).
  */
object PushFilterThroughGreedyThin extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, gt: GreedyThin) =>
      // Only ATTRIBUTE keys are sound push targets: a predicate over
      // the references of a computed key (keys=[a % 10], pred a=5) is
      // key-referencing but NOT constant per thin group, so pushing it
      // would change which rows are kept. GreedyThinOp only builds
      // attribute keys today, but the logical node accepts arbitrary
      // expressions.
      val keyRefs = AttributeSet(gt.keys.collect { case a: Attribute => a })
      val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
        p.deterministic && p.references.nonEmpty &&
          p.references.subsetOf(keyRefs))
      if (push.isEmpty) f
      else {
        val below = gt.copy(child = Filter(push.reduce(And), gt.child))
        keep.reduceOption(And).map(Filter(_, below)).getOrElse(below)
      }
  }
}
