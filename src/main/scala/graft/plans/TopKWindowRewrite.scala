package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IntegerLiteral, LessThan, LessThanOrEqual, PredicateHelper, RowNumber, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rewrite: `row_number() OVER (PARTITION BY k ORDER BY o)
  * <= K` under a Filter — the top-k idiom every SQL user writes —
  * becomes the native [[TopKPerKey]] operator, so the pattern gets
  * K-bounded heaps and a K·|keys|-row shuffle instead of a full-width
  * shuffle + full per-partition sort. Installed alongside
  * [[TopKStrategy]] (GraftExtensions / GraftPlans.install), which
  * plans the node this rule introduces.
  *
  * Fires only on the exact conservative shape:
  *   - the Window computes EXACTLY one expression, a row_number()
  *     (any other window expression keeps the stock path — their
  *     values need the full partition);
  *   - the partition spec is non-empty (global top-k already plans as
  *     TakeOrderedAndProject) and the order spec non-empty;
  *   - the filter's rank conjunct is `rn <= K`, `rn < K`, `rn = 1`
  *     (or the literal-first mirror) with a positive literal K;
  *     remaining conjuncts stay in a Filter above the rewrite.
  * Spark's own InferWindowGroupLimit may have inserted a
  * WindowGroupLimit below the Window first; the rewrite recognizes it
  * and drops it (the heap subsumes the group limit).
  *
  * row_number's tie order among equal keys is arbitrary in Spark
  * (hash-shuffled input, no stable-sort guarantee), and the heap's
  * tie-break is arbitrary the same way — the rewrite preserves
  * semantics exactly when the order is total per key, the contract
  * every deterministic consumer already meets. Output schema and
  * attribute ids are preserved: the operator's long rank is cast back
  * to the original int row_number attribute under its exprId. */
object TopKWindowRewrite extends Rule[LogicalPlan] with PredicateHelper {

  /** Runtime conf, DEFAULT ON since r12. The rewrite was opt-in for two
    * rounds on an r10 measurement: low-rows-per-key shapes (top-3
    * orders/customer, ~10 rows/key) ran 4-7× SLOWER through the heap
    * operator than Spark's sort + WindowGroupLimit. r12 root-caused
    * that loss to a defect, not the design: `TopKHeaps.drain` created
    * an (unused!) RowOrdering PER KEY, a codegen-cache lookup +
    * instantiation for every distinct key in the final phase. With the
    * per-key allocation removed, a median-of-5 measurement at sf0.1
    * has the heap operator FASTER on every shape including the
    * one that motivated opt-in: ~10 rows/key 0.159 s vs 0.230 stock
    * (1.4×), ~60 rows/key 0.201 vs 0.707 (3.5×), ~100 rows/key 0.129
    * vs 0.157 (1.2×). The remaining pathological inputs are guarded
    * structurally: huge K refuses the rewrite ([[MaxRewriteK]]), hot
    * key-spaces fall back to spillable sort-based selection inside the
    * operator (spark.graft.topk.heapBudgetBytes), and the adaptive
    * partial bypass keeps the map side near-free when the shuffle
    * wouldn't shrink. Set "false" to pin the stock window plan. */
  val EnabledKey = "spark.graft.topkRewrite"

  /** Rank bounds above this keep the stock window plan (see rewrite()). */
  val MaxRewriteK = 1 << 20

  def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.getConfString(EnabledKey, "true") != "true") plan
    else plan.transformUp {
      case f @ Filter(cond, w: Window) =>
        rewrite(cond, w).getOrElse(f)
    }

  private def rewrite(cond: Expression, w: Window): Option[LogicalPlan] = {
    // exactly one window expression, and it is a plain ROW frame
    // row_number over a non-empty partition + order spec
    val rn = w.windowExpressions match {
      case Seq(a @ Alias(WindowExpression(RowNumber(), _: WindowSpecDefinition), _)) =>
        a
      case _ => return None
    }
    if (w.partitionSpec.isEmpty || w.orderSpec.isEmpty) return None
    // partition keys must be attributes of the child (no computed keys
    // at this altitude — give those the stock path)
    val keys = w.partitionSpec.map {
      case a: Attribute => a
      case _ => return None
    }
    val rnAttr = rn.toAttribute
    val (bounds, rest) = splitConjunctivePredicates(cond)
      .partition(_.references.contains(rnAttr))
    // Long arithmetic: `rn < Int.MinValue` must stay an always-false
    // filter, not wrap to keep-Int.MaxValue-per-key
    val kL: Long = bounds match {
      case Seq(LessThanOrEqual(a: Attribute, IntegerLiteral(v)))
        if a.semanticEquals(rnAttr) => v.toLong
      case Seq(GreaterThanOrEqual(IntegerLiteral(v), a: Attribute))
        if a.semanticEquals(rnAttr) => v.toLong
      case Seq(LessThan(a: Attribute, IntegerLiteral(v)))
        if a.semanticEquals(rnAttr) => v.toLong - 1
      case Seq(GreaterThan(IntegerLiteral(v), a: Attribute))
        if a.semanticEquals(rnAttr) => v.toLong - 1
      case Seq(EqualTo(a: Attribute, IntegerLiteral(1)))
        if a.semanticEquals(rnAttr) => 1L
      case Seq(EqualTo(IntegerLiteral(1), a: Attribute))
        if a.semanticEquals(rnAttr) => 1L
      case _ => return None
    }
    if (kL <= 0) return None // vacuous filter: let Spark fold it
    // a huge rank bound is "keep effectively everything": the heap's
    // K x keys-per-task memory bound stops being a bound, while the
    // stock window plan handles it with a spill-safe sort — refuse
    if (kL > MaxRewriteK) return None
    val k = kL.toInt
    // Spark 3.5+'s InferWindowGroupLimit may already have planted its
    // row-pruning node; the heap operator subsumes it
    val child = w.child match {
      case WindowGroupLimit(_, _, _, _, grandChild) => grandChild
      case c => c
    }
    val topk = TopKPerKey(keys, w.orderSpec, k, child)
    // restore the original output: same columns, and the window's int
    // row_number attribute rebuilt (same exprId) from the long rank
    val restored = Project(
      child.output :+ Alias(Cast(topk.rankAttr, IntegerType), rn.name)(
        exprId = rnAttr.exprId),
      topk)
    Some(if (rest.isEmpty) restored
    else Filter(rest.reduce(And), restored))
  }
}
