package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, LongType}

/** Catalyst optimizer rule: band bounded edit-distance comparisons.
  *
  * `levenshtein(a, b) <= k` forces the full O(|a|·|b|) dynamic program per
  * row even though only distances up to k matter. Spark ships a banded
  * O(k·min(|a|,|b|)) kernel behind the 3-arg `levenshtein(a, b, k)` (it
  * returns -1 past the threshold) but the optimizer never rewrites the
  * 2-arg comparison into it — users must know the trick. This rule does
  * the rewrite mechanically:
  *
  *   levenshtein(a, b) <= k   →   0 <= levenshtein(a, b, k)
  *   levenshtein(a, b) <  k   →   0 <= levenshtein(a, b, k-1)
  *
  * (the banded form returns the true distance when ≤ threshold and -1
  * otherwise, so "≥ 0" is exactly "within threshold"). Semantics are
  * unchanged — `GraftOptimizationsSpec` A/Bs result equality — and a
  * fuzzy-join stage gets the ~k/n DP cut without hand-tuning. The rewrite
  * fires only for non-negative integer literals on the right.
  *
  * Installed per session by `graft.Graft.install` (idempotent), which
  * `graft.Graft.localSession` calls.
  */
object BandLevenshteinRule extends Rule[LogicalPlan] {

  private def banded(lev: Levenshtein, k: Int): Expression =
    GreaterThanOrEqual(
      Levenshtein(lev.left, lev.right, Some(Literal(k))), Literal(0))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case LessThanOrEqual(lev: Levenshtein, Literal(k: Int, IntegerType))
        if lev.threshold.isEmpty && k >= 0 =>
      banded(lev, k)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), lev: Levenshtein)
        if lev.threshold.isEmpty && k >= 0 =>
      banded(lev, k)
    case LessThan(lev: Levenshtein, Literal(k: Int, IntegerType))
        if lev.threshold.isEmpty && k >= 1 =>
      banded(lev, k - 1)
    case GreaterThan(Literal(k: Int, IntegerType), lev: Levenshtein)
        if lev.threshold.isEmpty && k >= 1 =>
      banded(lev, k - 1)
  }
}

/** Catalyst optimizer rule: `size(array_intersect(a, b))` → native
  * two-pointer merge count when both inputs are SYNTACTICALLY in the
  * sorted-distinct normal form `sort_array(array_distinct(…))` over
  * non-null long elements. `array_intersect` builds a per-row hash set and
  * materializes the matched elements as an array nobody reads when only
  * the SIZE survives; the merge count (SortedIntersectCount) is
  * allocation-free and fuses into whole-stage codegen — the verify kernel
  * of every set-similarity join, made available to plain SQL/DataFrame
  * users mechanically.
  *
  * Soundness gates: the rewrite fires only when (a) both children are the
  * literal sort_array(array_distinct(…), asc) shape — sortedness proven by
  * construction, not assumed; (b) elements are LongType with
  * containsNull = false — a null element makes the builtin count it as a
  * value while the merge kernel degrades to null.
  */
object MergeIntersectCountRule extends Rule[LogicalPlan] {

  private def sortedDistinctNonNullLongs(e: Expression): Boolean = e match {
    case SortArray(inner @ ArrayDistinct(_), Literal(true, BooleanType)) =>
      inner.dataType match {
        case ArrayType(LongType, false) => true
        case _ => false
      }
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    case Size(ArrayIntersect(a, b), _)
        if sortedDistinctNonNullLongs(a) && sortedDistinctNonNullLongs(b) =>
      SortedIntersectCount(a, b)
  }
}

/** Catalyst optimizer rule: the hand-written bigram idiom
  *
  *   transform(sequence(1, size(w) - 1),
  *             i -> struct(element_at(w, i) [AS x], element_at(w, i+1) [AS y]))
  *
  * over any array<string> `w` → the fused adjacent-pairs kernel
  * (`ArrayAdjacentPairs`, preserving the user's struct field names): the
  * builtin chain allocates the index sequence and evaluates an
  * interpreted lambda with two element_at calls plus a struct per pair;
  * the kernel is one pass over the array the plan already has. (The
  * string-level byte scan `WordPairs` is stronger still, but the
  * optimizer cannot reach the pre-split string through a Project
  * boundary — the split array is what is in scope here.)
  *
  * Soundness: for arrays of ≥2 elements the kernel is value-identical to
  * the chain (pair i = (w[i], w[i+1]), nulls surfaced as element_at
  * would). For a ONE-element array the builtin chain ERRORS
  * (sequence(1, 0) counts DOWN to 0 and element_at(w, 0) is an invalid
  * index) — an optimizer must not turn that error into a value, so the
  * rewrite guards with `size(w) >= 2` (O(1) on an array) and keeps the
  * ORIGINAL expression as the else branch: error behavior — and the
  * null-input result — is preserved exactly. `GraftOptimizationsSpec`
  * A/Bs both the values and the one-element error.
  */
object AdjacentWordPairsRule extends Rule[LogicalPlan] {

  private def isOne(e: Expression): Boolean = e match {
    case Literal(1, IntegerType) => true
    case Literal(1L, LongType) => true
    case _ => false
  }

  private def isVar(e: Expression, lv: NamedLambdaVariable): Boolean = e match {
    case v: NamedLambdaVariable => v.exprId == lv.exprId
    case _ => false
  }

  private def isVarPlusOne(e: Expression, lv: NamedLambdaVariable): Boolean = e match {
    case Add(a, b, _) => (isVar(a, lv) && isOne(b)) || (isOne(a) && isVar(b, lv))
    case _ => false
  }

  private def isStringArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) => true
    case _ => false
  }

  /** The rewrite keeps the ORIGINAL chain as the If's else branch (error
    * preservation), which a blind fixed-point descent would match again
    * and wrap forever. Idempotence is STRUCTURAL, not stateful: the
    * recursion recognizes the guard shape this rule itself emits —
    * `If(size(w) - 1 >= 1, ArrayAdjacentPairs, ArrayTransform)` — and
    * leaves it (and its kept else branch) untouched. No TreeNodeTag: a
    * tag lives on one expression INSTANCE, which the analyzed plan shares
    * with the optimized copy — re-optimizing a cached/reused Dataset saw
    * the tag already set and silently skipped the rewrite, and
    * termination depended on every later rule's node copies preserving
    * tags. A structural check survives any number of plan copies.
    */
  private def alreadyRewritten(e: Expression): Boolean = e match {
    case If(GreaterThanOrEqual(Subtract(Size(_, _), one, _), Literal(1, IntegerType)),
            _: ArrayAdjacentPairs, _: ArrayTransform) => isOne(one)
    case _ => false
  }

  private def rewrite(e: Expression): Expression = e match {
    case _ if alreadyRewritten(e) => e
    case at @ ArrayTransform(
        Sequence(start, stop @ Subtract(Size(w1, _), one, _), step, _),
        LambdaFunction(cns: CreateNamedStruct, Seq(lv: NamedLambdaVariable), _))
        if isOne(start) && isOne(one) && step.forall(isOne) && isStringArray(w1) =>
      val names = cns.children match {
        case Seq(Literal(n1: org.apache.spark.unsafe.types.UTF8String, _),
                 ea1: ElementAt,
                 Literal(n2: org.apache.spark.unsafe.types.UTF8String, _),
                 ea2: ElementAt)
            if ea1.left.semanticEquals(w1) && ea2.left.semanticEquals(w1) &&
               isVar(ea1.right, lv) && isVarPlusOne(ea2.right, lv) =>
          Some((n1.toString, n2.toString))
        case _ => None
      }
      names.fold(at.mapChildren(rewrite)) { case (n1, n2) =>
        If(GreaterThanOrEqual(stop, Literal(1)),
          ArrayAdjacentPairs(w1, n1, n2), at)
      }
    case _ => e.mapChildren(rewrite)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp { case p => p.mapExpressions(rewrite) }
}

object GraftOptimizations {
  val rules: Seq[Rule[LogicalPlan]] =
    Seq(BandLevenshteinRule, MergeIntersectCountRule, AdjacentWordPairsRule)

  /** Register on a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val current = spark.experimental.extraOptimizations
    val missing = rules.filterNot(current.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = current ++ missing
  }
}
