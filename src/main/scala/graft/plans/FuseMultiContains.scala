package graft.plans

import graft.functions.MultiPatternMatches
import org.apache.spark.sql.catalyst.expressions.{Contains, Expression, GreaterThan, Literal, Or, Size}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** Optimizer rule: fuse a disjunction of `contains(text, 'lit')`
  * predicates over the SAME text expression into one Aho–Corasick
  * scan — `size(graft_multi_contains(text, pats)) > 0`.
  *
  * This is the blocklist gate users actually write (`text LIKE '%a%'
  * OR contains(text, 'b') OR …`, often machine-generated with
  * hundreds of terms); evaluated literally it costs one pass over the
  * text PER TERM. The fused form costs one pass total (functions/
  * MultiPattern.scala), which is the difference between O(bytes) and
  * O(bytes × blocklist) over 100 TB of text. Catalyst's own
  * LikeSimplification does the inverse-scale trick (LIKE → Contains);
  * this rule picks up where it stops.
  *
  * Semantics are identical including nulls: every branch references
  * the same text child, so a null text makes every `contains` null and
  * the OR null; fused, `graft_multi_contains` is null-intolerant and
  * `size` (non-legacy) propagates the null into the same null
  * predicate. Mixed disjunctions (different columns, non-literal
  * patterns, non-contains branches) are left untouched — the rule only
  * rewrites maximal pure sub-trees, and only at ≥3 terms, below which
  * the automaton buys nothing.
  *
  * Appended to `spark.experimental.extraOptimizations` by
  * `GraftFunctions.register`, the one install (see graft.Harness).
  */
object FuseMultiContains extends Rule[LogicalPlan] {

  private val MinTerms = 3

  /** The (text, patterns) of a PURE contains-disjunction sub-tree over
    * one shared text expression; None if anything else appears. */
  private def collect(e: Expression): Option[(Expression, Seq[String])] =
    e match {
      case Or(l, r) =>
        for {
          (tl, pl) <- collect(l)
          (tr, pr) <- collect(r)
          if tl.semanticEquals(tr)
        } yield (tl, pl ++ pr)
      // Empty patterns are excluded: contains(text, '') is true for any
      // non-null text (even ''), but the Aho–Corasick scan only reports
      // after consuming a byte, so fusing '' would flip true -> false
      // on empty text.
      case Contains(t, Literal(p: UTF8String, StringType))
          if p != null && p.numBytes > 0 =>
        Some((t, Seq(p.toString)))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case e @ Or(_, _) =>
        collect(e) match {
          case Some((t, pats)) if pats.length >= MinTerms =>
            GreaterThan(
              Size(MultiPatternMatches(t, pats), legacySizeOfNull = false),
              Literal(0))
          case _ => e
        }
    }
}
