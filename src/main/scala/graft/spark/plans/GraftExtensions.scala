package graft.spark.plans

import org.apache.spark.sql.{GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.StringType

import graft.spark.aggs.{HllKind, KllKind, SketchAgg, SketchUdafs}
import graft.spark.fns.SketchFunctions

/** Optimizer rule: rewrite exact `COUNT(DISTINCT stringCol)` into the HLL
  * sketch aggregate (SURVEY.md §4.3's optional rule). Opt-in per session:
  *
  *   spark.conf.set("spark.graft.hll.rewriteCountDistinct", "true")
  *
  * Why this matters at scale: exact COUNT(DISTINCT) expands to an Expand +
  * two exchanges keyed by the distinct value (shuffling every distinct key);
  * the HLL aggregate ([[HllKind]], the one behind `hll_count`) is one
  * partial-agg pass with a 16KB buffer per group — the distinct values never
  * cross the wire. The trade is the documented ~1.04/sqrt(2^p) relative
  * error.
  */
case class RewriteCountDistinctToHll() extends Rule[LogicalPlan] {
  private val hllP = 14

  private def enabled: Boolean =
    conf.getConfString("spark.graft.hll.rewriteCountDistinct", "false").toBoolean

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          case AggregateExpression(Count(Seq(child)), _, true, filter, _)
              if child.dataType == StringType && child.resolved =>
            SketchAgg(Seq(child), HllKind(hllP, estimate = true))
              .toAggregateExpression(isDistinct = false, filter = filter)
        }
    }
  }
}

/** Optimizer rule: rewrite `percentile_approx(col, q[, accuracy])` into the
  * KLL quantile aggregate. Opt-in per session:
  *
  *   spark.conf.set("spark.graft.kll.rewritePercentileApprox", "true")
  *
  * Why at scale: Spark's ApproximatePercentile buffers a QuantileSummaries
  * per group whose serialized size grows with the sampled count; the KLL
  * buffer is O(k) with a published ~1/k rank-error bound, so wide groupings
  * shuffle fixed-size state. Trade: a (bounded, documented) rank-error
  * difference — hence opt-in, like the HLL rewrite. The result is cast back
  * to percentile_approx's own output type (the child type), so the rewritten
  * plan's schema is unchanged.
  */
case class RewritePercentileApproxToKll() extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
  import org.apache.spark.sql.types.{ArrayType, DoubleType}

  private val kllK = 200

  private def enabled: Boolean =
    conf.getConfString("spark.graft.kll.rewritePercentileApprox", "false").toBoolean

  private def percentagesOf(e: Expression): Option[(Seq[Double], Boolean)] =
    if (!e.foldable) None
    else e.eval() match {
      case d: java.lang.Number => Some((Seq(d.doubleValue), false))
      case d: org.apache.spark.sql.types.Decimal => Some((Seq(d.toDouble), false))
      case arr: org.apache.spark.sql.catalyst.util.ArrayData =>
        Some((arr.toDoubleArray().toSeq, true))
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transform {
      case a: Aggregate =>
        a.transformExpressions {
          case AggregateExpression(ap: ApproximatePercentile, _, false, filter, _)
              if ap.child.resolved &&
                ap.child.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType] &&
                percentagesOf(ap.percentageExpression).isDefined =>
            val (ps, asArray) = percentagesOf(ap.percentageExpression).get
            val agg = SketchAgg(Seq(Cast(ap.child, DoubleType)), KllKind(kllK, ps, asArray))
              .toAggregateExpression(isDistinct = false, filter = filter)
            // preserve percentile_approx's output type exactly
            val target =
              if (asArray) ArrayType(ap.child.dataType, containsNull = false)
              else ap.child.dataType
            if (target == agg.dataType) agg else Cast(agg, target)
        }
    }
  }
}

/** Session extensions entry point:
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)           // or
  *     .config("spark.sql.extensions", "graft.spark.plans.GraftExtensions")
  *
  * Injects the COUNT(DISTINCT)->HLL and percentile_approx->KLL optimizer
  * rules and the two SQL tables that `registerAll` registers: the sketch
  * aggregates of [[SketchUdafs.sqlAggregates]] (`SELECT hll_count(url),
  * kll_agg(len, 200) FROM pages`) and the scalar functions of
  * [[SketchFunctions.sqlFunctions]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => RewriteCountDistinctToHll())
    e.injectOptimizerRule(_ => RewritePercentileApproxToKll())
    SketchUdafs.sqlAggregates.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name), GraftColumnBridge.info(name, usage), build))
    }
    SketchFunctions.sqlFunctions.foreach { case (name, usage, build) =>
      e.injectFunction((FunctionIdentifier(name), GraftColumnBridge.info(name, usage), build))
    }
  }
}
