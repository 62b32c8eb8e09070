package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Conf-gated OPTIMIZER rule that rewrites skewed grouped aggregates
  * into the two-stage salted form — [[graft.ops.Skew.saltedAgg]] moved
  * from "call this helper" to "the optimizer does it": with
  * `spark.graft.autosalt.enabled=true`, any eligible
  * `groupBy(k).agg(...)` is planned as
  *
  *   Aggregate(k)( merge-partials )            ← tiny, per (k, salt)
  *     Aggregate(k, hash(row) % n)( partials ) ← hot keys spread n ways
  *
  * Eligibility is conservative — rewrite only when provably
  * result-identical: non-empty grouping (a GLOBAL two-stage aggregate
  * would turn empty input's single row into zero rows), all grouping
  * expressions are plain attributes, and every aggregate is an
  * undistinct, unfiltered Sum/Min/Max/Count or integral-input Average
  * (algebraic partials that merge exactly; decimal sums merge
  * bit-exactly — the Skew.scala argument). Count merges as Sum over
  * partial counts; Average decomposes into exact Sum+Count partials
  * with one stage-2 division (ANSI-safe zero-count guard); a merged
  * decimal Sum widens (p+10) and is cast back to the original type so
  * the rewritten plan's schema is unchanged. Anything else (float/
  * double/decimal avg, first/last, distinct, filter clauses) leaves
  * the Aggregate untouched — see [[supported]] for each exclusion's
  * reason.
  *
  * Registered post-hoc via `spark.experimental.extraOptimizations`
  * (the optimizer-rule analogue of TopKPerKey's extraStrategies
  * registration); the batch runs to fixpoint, so rewritten nodes carry
  * a [[TreeNodeTag]] and stage-1 nodes are additionally shaped to fail
  * eligibility (their grouping contains the non-attribute salt
  * expression) — both stages are stable under re-application.
  *
  * At 100 TB this is the difference between hand-auditing every
  * pipeline for Zipfian keys and flipping one conf for a job known to
  * aggregate hot-keyed data: map-side partial aggregation already
  * absorbs most skew, but post-join / post-explode hot keys that
  * arrive pre-partitioned by something else land on one reducer
  * without the salt (the Skew.scala scenario, measured there). */
object AutoSalt extends Rule[LogicalPlan] {

  val SaltCol = "__autosalt"
  /** `n`: the ways stage 1 spreads each hot key. */
  private val SaltN = 16
  private val Salted = TreeNodeTag[Boolean]("graft.autosalt.done")

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.autosalt.enabled", "false") != "true")
      plan
    else {
      plan.transformUp {
        case agg: Aggregate if eligible(agg) => rewrite(agg)
      }
    }
  }

  private def supported(f: AggregateFunction): Boolean = f match {
    // float/double Sum is excluded: the extra merge stage re-associates
    // FP addition, so the salted plan could differ in the last ulp from
    // the plain plan — outside the "provably result-identical" contract.
    // Integer, long and decimal partials merge exactly.
    case s: Sum => s.child.dataType match {
      case org.apache.spark.sql.types.FloatType |
           org.apache.spark.sql.types.DoubleType => false
      case _ => true
    }
    case _: Min | _: Max | _: Count => true
    // Average over INTEGRAL input decomposes into two exact partials
    // (DECIMAL(38,0) Sum + Count) with ONE final double division — identical to
    // the plain plan wherever that plan is itself deterministic (its
    // running double sum is exact up to 2^53; beyond that the plain
    // Average is already partition-order-dependent, so "identical" has
    // no referent). Float/double input re-associates like Sum (excluded);
    // DECIMAL input is excluded too: Average's decimal result rides an
    // engine-internal precision-promotion chain (p+4/s+4 result via a
    // widened divide) that a hand-built merge expression would have to
    // replicate bit-for-bit — out of the conservative contract for now.
    // First/Last stay excluded ON PRINCIPLE: their value depends on
    // partition order even in the PLAIN plan, so a rewrite can only
    // promise "an equally valid answer", never "the identical answer",
    // and the driver gate hashes identity.
    case a: Average => a.child.dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    case _ => false
  }

  private def eligible(agg: Aggregate): Boolean = {
    val aes = agg.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
    agg.resolved &&
      agg.getTagValue(Salted).isEmpty &&
      agg.groupingExpressions.nonEmpty &&
      agg.groupingExpressions.forall(_.isInstanceOf[AttributeReference]) &&
      aes.nonEmpty &&
      aes.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
        supported(ae.aggregateFunction)) &&
      // a node we built (or one structurally like it) is never re-salted:
      // the alias guard catches stage 1 (its outputs are named __p_*);
      // the structural guard catches stage 2 even if a later rule
      // rebuilds the node without copying the TreeNodeTag — a genuine
      // stage-2 merge aggregates ONLY __p_* partial attributes (bare
      // Count() never appears there: Count merges as Sum over partials),
      // so "every aggregate input is a __p_* attribute" identifies it.
      !agg.aggregateExpressions.exists(_.name.startsWith("__p_")) &&
      !aes.forall(ae => ae.aggregateFunction.children.nonEmpty &&
        ae.aggregateFunction.children.forall {
          case a: AttributeReference => a.name.startsWith("__p_")
          case _ => false
        })
  }

  private def rewrite(agg: Aggregate): LogicalPlan = {
    val groupAttrs =
      agg.groupingExpressions.map(_.asInstanceOf[AttributeReference])
    // distinct aggregate calls (by canonical form) → one partial each
    val aes = agg.aggregateExpressions
      .flatMap(_.collect { case ae: AggregateExpression => ae })
    val distinctAes = aes.foldLeft(Vector.empty[AggregateExpression]) {
      (acc, ae) =>
        if (acc.exists(_.canonicalized == ae.canonicalized)) acc
        else acc :+ ae
    }
    // one partial per distinct call — except Average, which decomposes
    // into TWO exact partials (long Sum + Count; the division happens
    // once, in stage 2)
    val partialAliases: Map[Expression, Seq[Alias]] =
      distinctAes.zipWithIndex.map { case (ae, i) =>
        val parts: Seq[AggregateFunction] = ae.aggregateFunction match {
          // the Sum partial is widened to DECIMAL(38,0): a long Sum
          // would throw ARITHMETIC_OVERFLOW under ANSI mode (the
          // Spark 4 default) on a group summing past Long.MaxValue,
          // where the plain Average (internal double running sum)
          // returns a finite value — the salted plan must never error
          // where the plain plan succeeds. Decimal partials still
          // merge exactly, and the one final cast-to-double division
          // is identical to the long path for every sum <= 2^53 (the
          // same bound beyond which the plain Average is already
          // partition-order-dependent).
          case a: Average => Seq(
            Sum(Cast(a.child,
              org.apache.spark.sql.types.DecimalType(38, 0))),
            Count(a.child))
          case f => Seq(f)
        }
        (ae.canonicalized: Expression, parts.zipWithIndex.map {
          case (f, j) =>
            // FRESH AggregateExpression per partial: ae.copy would keep
            // ae's resultId, and the two partials of one Average would
            // then alias to a single physical aggregate (planning dedups
            // by result attribute) — sum and count came back identical
            Alias(AggregateExpression(f, Complete, isDistinct = false),
              s"__p_${i}_$j")()
        })
      }.toMap
    val saltExpr = Pmod(new Murmur3Hash(agg.child.output), Literal(SaltN))
    val stage1 = Aggregate(
      (groupAttrs: Seq[Expression]) :+ saltExpr,
      groupAttrs ++ partialAliases.values.flatten.toSeq.sortBy(_.name),
      agg.child)
    stage1.setTagValue(Salted, true)
    val mergedOut = agg.aggregateExpressions.map { ne =>
      ne.transformUp {
        case ae: AggregateExpression =>
          val pAttrs = partialAliases(ae.canonicalized).map(_.toAttribute)
          def mergedOf(fn: AggregateFunction) =
            AggregateExpression(fn, Complete, isDistinct = false)
          val merged: Expression = ae.aggregateFunction match {
            case _: Sum => mergedOf(Sum(pAttrs.head))
            case _: Count => mergedOf(Sum(pAttrs.head))
            case _: Min => mergedOf(Min(pAttrs.head))
            case _: Max => mergedOf(Max(pAttrs.head))
            case _: Average =>
              // avg = Σpartial sums / Σpartial counts, with the
              // all-null-group guard built in: ANSI mode (the Spark 4
              // default) throws on x/0, where the plain Average returns
              // null — divide only when the merged count is non-zero
              val sumM = mergedOf(Sum(pAttrs(0)))
              val cntM = mergedOf(Sum(pAttrs(1)))
              val dbl = org.apache.spark.sql.types.DoubleType
              If(EqualTo(cntM, Literal(0L)),
                Literal(null, dbl),
                Divide(Cast(sumM, dbl), Cast(cntM, dbl)))
            case other => throw new IllegalStateException(
              s"unsupported agg slipped eligibility: $other")
          }
          if (merged.dataType == ae.dataType) merged
          else Cast(merged, ae.dataType)
      }.asInstanceOf[NamedExpression]
    }
    val stage2 = Aggregate(groupAttrs, mergedOut, stage1)
    stage2.setTagValue(Salted, true)
    stage2
  }

  /** Idempotent post-hoc registration (TopKPerKeyStrategy pattern);
    * synchronized so the check-then-append stays atomic under the bench's
    * concurrent-lane escalation. */
  def ensureRegistered(spark: SparkSession): Unit = this.synchronized {
    if (!spark.experimental.extraOptimizations.contains(AutoSalt)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ AutoSalt
    }
  }
}
