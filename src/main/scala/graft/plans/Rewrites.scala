package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Coalesce, Explode, Inline, Literal, MapEntries, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, ApproximatePercentile, Complete, Count, HyperLogLogPlusPlus, Percentile, Sum}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType, LongType}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule

/** Opt-in acceleration rewrite: `count(DISTINCT x)` → HyperLogLog++.
  *
  * Exact distinct-count forces Catalyst's Expand-based double aggregation —
  * at 100 TB the shuffle carries every distinct key. When a dashboard
  * tolerates the sketch's ~2% error, flipping
  * `spark.graft.approxDistinct.enabled=true` turns every eligible
  * `count(DISTINCT x)` in the session into `approx_count_distinct(x)`
  * WITHOUT touching query text — the accelerator move BI layers make, here
  * as a ~20-line optimizer `Rule[LogicalPlan]` installed by
  * [[GraftExtensions]].
  *
  * Eligibility is deliberately conservative: single-argument COUNT, no
  * FILTER clause, distinct-marked. Multi-column distinct and filtered
  * aggregates keep exact semantics.
  */
object RewriteCountDistinctToSketch extends Rule[LogicalPlan] {
  val FlagKey = "spark.graft.approxDistinct.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    // equalsIgnoreCase, not toBoolean: a malformed flag value ("1", "yes")
    // must degrade to disabled, not throw inside the optimizer on EVERY
    // query in the session
    if (!conf.getConfString(FlagKey, "false").equalsIgnoreCase("true")) plan
    else plan.transform {
      case agg: Aggregate => agg.transformExpressions {
        case ae @ AggregateExpression(c: Count, _, true, None, _)
            if c.children.size == 1 =>
          // relativeSD pinned explicitly to the ~2% the doc promises;
          // the constructor default is 0.05
          ae.copy(aggregateFunction =
            HyperLogLogPlusPlus(c.children.head, relativeSD = 0.02),
            isDistinct = false)
      }
    }
}

/** Opt-in acceleration rewrite #2: exact `percentile(x, p)` →
  * `approx_percentile(x, p, accuracy)`.
  *
  * Exact Percentile buffers EVERY value per group (an
  * OpenHashMap[value, count] in the aggregation buffer) — at 100 TB a
  * single hot group OOMs an executor, which is why every A5-family
  * scaladoc says "swap in percentile_approx at scale". This rule makes
  * that swap a CONFIG FLIP instead of a query rewrite:
  * `spark.graft.approxPercentile.enabled=true` turns eligible exact
  * percentiles into the GK-sketch form (bounded buffer, mergeable,
  * rank error ≤ 1/accuracy) without touching query text. Accuracy comes
  * from `spark.graft.approxPercentile.accuracy` (default: Spark's own
  * 10000 ≙ ~0.01% rank error).
  *
  * Eligibility is deliberately conservative, mirroring
  * [[RewriteCountDistinctToSketch]]: DOUBLE-typed input only (approx
  * returns the INPUT type while exact always returns double — rewriting
  * an integer column would change the result type of an already-resolved
  * plan), unit frequency, no FILTER clause, non-distinct. Everything else
  * keeps exact semantics.
  *
  * `median(x)` needs no arm of its own: `Median` is RuntimeReplaceable,
  * and the optimizer's Finish-Analysis batch rewrites it to
  * `Percentile(x, 0.5)` before EITHER registry this rule can live in runs
  * (extension-injected rules sit in the operator-optimization batches,
  * experimental extras in "User Provided Optimizers" — both later). A
  * DOUBLE median is therefore rewritten and an integer median kept exact
  * by the same guards, pinned by ExtensionsSqlSpec's median arms.
  */
object RewritePercentileToApprox extends Rule[LogicalPlan] {
  val FlagKey = "spark.graft.approxPercentile.enabled"
  val AccuracyKey = "spark.graft.approxPercentile.accuracy"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(FlagKey, "false").equalsIgnoreCase("true")) plan
    else {
      val accuracy = scala.util.Try(
        conf.getConfString(AccuracyKey,
          ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY.toString).toInt)
        .getOrElse(ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY)
      plan.transform {
        case agg: Aggregate => agg.transformExpressions {
          case ae @ AggregateExpression(
              p: Percentile, _, false, None, _)
              if p.child.dataType == DoubleType &&
                // DESC percentiles (Percentile(reverse=true) from WITHIN
                // GROUP (ORDER BY x DESC)) have no ApproximatePercentile
                // analog — rewriting would silently return the p-quantile
                // instead of the (1-p)-quantile; keep them exact
                !p.reverse &&
                p.frequencyExpression.foldable &&
                scala.util.Try(p.frequencyExpression.eval() == 1L)
                  .getOrElse(false) =>
            ae.copy(aggregateFunction = new ApproximatePercentile(
              p.child, p.percentageExpression,
              Literal(accuracy, IntegerType)))
        }
      }
    }
}

/** Opt-in acceleration rewrite #3 — SURVEY §4's anticipated rule (b), the
  * heat-map shape: `explode(arr) → groupBy(element) → count(*)` becomes a
  * per-row histogram ([[graft.functions.ArrayHistogram]]) whose entries are
  * inlined and SUMMED:
  *
  * {{{
  *   Aggregate [e], [e, count(1)]          Aggregate [k], [k, sum(v)]
  *     Generate explode(arr) AS e    →       Generate inline(map_entries(
  *       child                                 array_histogram(arr))) AS (k, v)
  *                                              child
  * }}}
  *
  * What it buys: the Generate emits one row per DISTINCT element instead of
  * one per OCCURRENCE, so heavily repetitive arrays (document token lists —
  * a4's shape — or partition-path explosions where one query touches the
  * same name hundreds of times) push proportionally fewer rows through the
  * generate → partial-aggregate pipeline. What it does NOT buy: shuffle
  * volume — partial hash aggregation already combines per partition, so
  * bytes on the wire are identical either way. That is why the flag
  * (`spark.graft.explodeCount.enabled`) defaults OFF: on low-repetition
  * arrays the per-row map build costs more than the saved generate rows
  * (the stock plan fuses Generate and partial_count in ONE whole-stage
  * codegen span — the PlanSpec contract pins that the default is already
  * map-side). Flip it for workloads whose arrays repeat elements heavily.
  *
  * Eligibility, deliberately conservative: single grouping key = exactly
  * the exploded element, aggregates = the key + one bare `count(*)`/
  * `count(1)` (no DISTINCT/FILTER), non-outer explode of a non-null
  * atomic-element array ([[graft.functions.ArrayHistogram]]'s domain — a
  * null element would need a null map key), and the Generate's own output
  * is the only thing the aggregate reads. Output attribute ids are
  * preserved, so parent operators re-resolve untouched; `sum` is coalesced
  * to 0 to keep count's non-nullable schema.
  */
object RewriteExplodeCountToHistogram extends Rule[LogicalPlan] {
  val FlagKey = "spark.graft.explodeCount.enabled"

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!conf.getConfString(FlagKey, "false").equalsIgnoreCase("true")) plan
    else plan.transform {
      case agg @ Aggregate(
          Seq(g: Attribute),
          aggExprs,
          gen @ Generate(Explode(arr), _, false, _, Seq(elemAttr), _),
          _)
          if g.semanticEquals(elemAttr) &&
            arr.dataType.isInstanceOf[ArrayType] &&
            !arr.dataType.asInstanceOf[ArrayType].containsNull &&
            graft.functions.ArrayHistogram.hashableElement(
              arr.dataType.asInstanceOf[ArrayType].elementType) &&
            isKeyPlusCount(aggExprs, elemAttr) =>
        val elemType = arr.dataType.asInstanceOf[ArrayType].elementType
        val keyAttr = AttributeReference("hist_key", elemType,
          nullable = false)()
        val cntAttr = AttributeReference("hist_cnt", LongType,
          nullable = false)()
        val newGen = Generate(
          Inline(MapEntries(graft.functions.ArrayHistogram(arr))),
          unrequiredChildIndex = gen.unrequiredChildIndex,
          outer = false, qualifier = None,
          generatorOutput = Seq(keyAttr, cntAttr),
          child = gen.child)
        val newAggExprs: Seq[NamedExpression] = aggExprs.map {
          case a: Attribute if a.semanticEquals(elemAttr) =>
            Alias(keyAttr, a.name)(exprId = a.exprId)
          case al @ Alias(AggregateExpression(Count(_), _, _, _, _), name) =>
            Alias(
              Coalesce(Seq(
                AggregateExpression(Sum(cntAttr), Complete, isDistinct = false),
                Literal(0L))),
              name)(exprId = al.exprId)
          case al @ Alias(a: Attribute, name) if a.semanticEquals(elemAttr) =>
            Alias(keyAttr, name)(exprId = al.exprId)
        }
        agg.copy(groupingExpressions = Seq(keyAttr),
          aggregateExpressions = newAggExprs, child = newGen)
    }

  /** aggExprs is exactly {the element (bare or aliased), one unfiltered
    * non-distinct count(constant)} — anything else keeps the stock plan. */
  private def isKeyPlusCount(aggExprs: Seq[NamedExpression],
                             elem: Attribute): Boolean =
    aggExprs.size == 2 && aggExprs.forall {
      case a: Attribute => a.semanticEquals(elem)
      case Alias(a: Attribute, _) => a.semanticEquals(elem)
      // non-null literal only: count(NULL) is 0 per group, not the
      // occurrence count sum(hist_cnt) would return
      case Alias(AggregateExpression(
          Count(Seq(l: Literal)), Complete, false, None, _), _) =>
        l.value != null
      case _ => false
    } && aggExprs.exists {
      case Alias(AggregateExpression(Count(_), _, _, _, _), _) => true
      case _ => false
    }
}
