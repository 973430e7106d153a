package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, Cast, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal, PredicateHelper, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftshim
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** Optimizer rule (SURVEY §4.2 stretch): top-k pushdown. Rewrites the
  * declared rank-limit idiom
  *
  * {{{ Filter(row_number().over(part, order) <= k, Window(...)) }}}
  *
  * into the engine's two-phase [[TopKPerGroupNode]], so the window only
  * ranks the ≤ k survivors per group instead of every row:
  *
  * {{{ Window(row_number, part, order, TopKPerGroupNode(k, part, order, child)) }}}
  *
  * The Window node is kept (callers may project the rank), but it now runs
  * over ≤ k rows per group — and because TopKPerGroupExec's final stage
  * passes through its child's hash partitioning AND (part, order) sort,
  * the re-window adds no exchange and no sort. Conjuncts that the top-k
  * bound makes vacuously true (`rn <= c` with c ≥ k) are dropped;
  * anything else (e.g. `rn = 2`) stays as a residual Filter over the
  * (tiny) rewindowed output.
  *
  * vs Spark's own `InferWindowGroupLimit`: the native rewrite inserts a
  * WindowGroupLimit that still locally SORTS every input row before its
  * partial limit and re-runs the full Window after the shuffle. This
  * rewrite replaces the pre-shuffle sort with a bounded heap (O(n) vs
  * O(n log n)) and shrinks both the shuffle and the final window input
  * to ~k rows per (group × partition). A WindowGroupLimit the native
  * batch already inserted below the matched Window is stripped (this
  * rule fires after the default batches when installed via
  * `experimental.extraOptimizations`).
  *
  * Semantics note: `row_number` over a non-total ordering is
  * tie-nondeterministic in Spark with or without this rewrite; the rule
  * preserves the same contract (some valid top-k, ranks 1..k). The
  * engine's determinism rules (SURVEY §1.3) require fully tie-broken
  * orderings anyway.
  *
  * Kill switch: `spark.graft.topk.pushdown.enabled` (default true) —
  * read per-query at optimization time, so tests can compute genuine
  * window-form baselines in a session that has the rule installed.
  */
object TopKPushdownRule extends Rule[LogicalPlan] with PredicateHelper {

  private val EnabledKey = "spark.graft.topk.pushdown.enabled"

  /** Strip integral-widening casts (`cast(rn as bigint) <= 2L`):
    * UnwrapCastInBinaryComparison usually beats us to it, but this rule
    * must not depend on batch order. Widening casts on an int attribute
    * are injective + monotone, so comparisons see through them. */
  private def integralWidth(t: DataType): Int = t match {
    case ByteType => 1
    case ShortType => 2
    case IntegerType => 3
    case LongType => 4
    case _ => 0
  }

  /** Only WIDENING integral casts are injective + monotone; a narrowing
    * cast (`cast(rn as byte)`) wraps (or throws under ANSI) and must not
    * be seen through. */
  @scala.annotation.tailrec
  private def stripIntegralCast(e: Expression): Expression = e match {
    case c: Cast if integralWidth(c.child.dataType) > 0 &&
        integralWidth(c.dataType) >= integralWidth(c.child.dataType) =>
      stripIntegralCast(c.child)
    case other => other
  }

  private def isRn(e: Expression, rn: Attribute): Boolean =
    stripIntegralCast(e) match {
      case a: Attribute => a.semanticEquals(rn)
      case _ => false
    }

  private def litLong(e: Expression): Option[Long] = e match {
    case Literal(v: Byte, _) => Some(v.toLong)
    case Literal(v: Short, _) => Some(v.toLong)
    case Literal(v: Int, _) => Some(v.toLong)
    case Literal(v: Long, _) => Some(v)
    case _ => None
  }

  /** `rn < Long.MinValue` is always false; plain `k - 1` would wrap to
    * Long.MaxValue and turn it into a droppable no-op bound instead of
    * the correct empty result. */
  private def minus1(k: Long): Long = if (k == Long.MinValue) k else k - 1

  /** (upper bound on rn, conjunct is implied by keeping top `bound`). */
  private def bound(c: Expression, rn: Attribute): Option[(Long, Boolean)] =
    c match {
      case LessThanOrEqual(a, l) if isRn(a, rn) => litLong(l).map(k => (k, true))
      case LessThan(a, l) if isRn(a, rn) => litLong(l).map(k => (minus1(k), true))
      case GreaterThanOrEqual(l, a) if isRn(a, rn) => litLong(l).map(k => (k, true))
      case GreaterThan(l, a) if isRn(a, rn) => litLong(l).map(k => (minus1(k), true))
      // rn = k bounds the scan to top-k but still needs the equality
      // re-checked — except k = 1, where every survivor has rn = 1.
      case EqualTo(a, l) if isRn(a, rn) => litLong(l).map(k => (k, k == 1L))
      case EqualTo(l, a) if isRn(a, rn) => litLong(l).map(k => (k, k == 1L))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val conf = org.apache.spark.sql.internal.SQLConf.get
    if (conf.getConfString(EnabledKey, "true") != "true") return plan
    plan.transform {
      case f @ Filter(cond,
          w @ Window(Seq(alias @ Alias(WindowExpression(_: RowNumber, _), _)),
            part, order, wchild, _))
          if part.nonEmpty && order.nonEmpty =>
        val rn = alias.toAttribute
        val conjuncts = splitConjunctivePredicates(cond)
        val analyzed = conjuncts.map(c => c -> bound(c, rn))
        val ks = analyzed.collect { case (_, Some((k, _))) => k }
        // The native InferWindowGroupLimit batch may already have planted
        // a WindowGroupLimit below this window; our operator subsumes it.
        val base = wchild match {
          case WindowGroupLimit(p2, o2, _, _, c)
              if p2 == part && o2 == order => c
          case c => c
        }
        val alreadyPushed = base match {
          case TopKPerGroupNode(_, p2, o2, _) => p2 == part && o2 == order
          case _ => false
        }
        if (ks.isEmpty || alreadyPushed || ks.min > Int.MaxValue.toLong) f
        else if (ks.min <= 0L) LocalRelation(f.output)
        else {
          val k = ks.min
          val rewritten = w.copy(child =
            TopKPerGroupNode(k.toInt, part, order, base))
          val residual = analyzed.collect {
            case (c, None) => c
            case (c, Some((_, droppable))) if !droppable => c
          }
          if (residual.isEmpty) rewritten
          else Filter(residual.reduce(And), rewritten)
        }
    }
  }
}

object TopKPushdown {
  /** Install the engine's planner additions on a live session
    * (idempotent): this rewrite, its planner strategy and
    * [[OneTaskSortStrategy]]. `GraftExtensions` injects the same three
    * at session creation; this is the post-hoc path for plain sessions
    * (`GraftSession.harness` and perfbench's `Harness` call it once at
    * startup). */
  def install(spark: SparkSession): Unit = {
    graftshim.addStrategy(spark, TopKStrategy)
    graftshim.addStrategy(spark, OneTaskSortStrategy)
    graftshim.addOptimizerRule(spark, TopKPushdownRule)
  }
}
