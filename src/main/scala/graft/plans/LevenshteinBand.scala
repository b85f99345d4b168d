package graft.plans

import org.apache.spark.sql.catalyst.expressions.{
  Abs, Cast, Expression, Length, LessThan, LessThanOrEqual, Levenshtein,
  Literal, PredicateHelper, Subtract}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst optimizer rule: conjoin a SOUND length-band pre-filter to
  * bounded edit-distance predicates.
  *
  * `levenshtein(a, b) ≤ k` implies `|length(a) − length(b)| ≤ k`
  * (each edit changes the length by at most 1), so the band can be
  * added as an extra conjunct without changing results — and it is
  * worth adding because the band is O(1) per row while the DP is
  * O(|a|·|b|): rows outside the band skip the quadratic work, and on
  * a parquet scan the band's length arithmetic is codegen'd straight
  * into the scan stage. This encodes, as an optimizer rule, the same
  * bound the fuzzy join applies by hand
  * (RelationalQueries.fuzzyNameMatches) — a query author who forgets
  * it now gets it from the planner.
  *
  * Soundness/termination:
  *  - only `lev ≤ k` / `lev < k` conjuncts with deterministic string
  *    arguments and the UN-thresholded 2-arg form are banded — the
  *    thresholded `levenshtein(a, b, t)` returns −1 above t, so
  *    `≤ k` there also selects far-apart pairs and a length band
  *    would change results; that form is left alone;
  *  - the band is cast to the comparison's own literal type, so the
  *    rewritten tree stays resolved;
  *  - idempotent by construction: a semantically-equal band already
  *    present (from a prior pass of this rule or the query author's
  *    hand) suppresses the rewrite, so the optimizer's fixed-point
  *    loop terminates.
  *
  * Wired both ways a Spark user can reach it: `GraftExtensions`
  * injects it for `--conf spark.sql.extensions=graft.GraftExtensions`
  * sessions, and `spark.experimental.extraOptimizations` can add it
  * to a live session (ExtensionsSpec exercises that path).
  */
object LevenshteinBandRule extends Rule[LogicalPlan] with PredicateHelper {

  private def band(a: Expression, b: Expression, k: Literal): Expression =
    LessThanOrEqual(
      Cast(Abs(Subtract(Length(a), Length(b))), k.dataType), k)

  private def bandable(a: Expression, b: Expression): Boolean =
    a.deterministic && b.deterministic

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val bands = conjuncts.flatMap {
        case LessThanOrEqual(Levenshtein(a, b, None), k: Literal)
          if bandable(a, b) => Some(band(a, b, k))
        case LessThan(Levenshtein(a, b, None), k: Literal)
          if bandable(a, b) => Some(band(a, b, k))
        case _ => None
      }
      val fresh = bands.filterNot(bd => conjuncts.exists(_.semanticEquals(bd)))
      if (fresh.isEmpty) f
      else Filter((conjuncts ++ fresh).reduce(org.apache.spark.sql.catalyst.expressions.And), child)
  }
}
