package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Native as-of join — the whole-operator custom path (SURVEY.md §7.3 /
  * builder contract "(c) custom LogicalPlan + Rule + SparkStrategy +
  * SparkPlan registered via SparkSessionExtensions").
  *
  * Semantics: for every left row, attach the latest right row with the same
  * key whose time is <= the left row's time (nulls if none) — the "config
  * state as of query time" shape of SURVEY §2.2 A13, and the standard
  * point-in-time join of feature-store pipelines.
  *
  * Physical strategy: both sides hash-partition on the key and sort by
  * (key, time); each co-partition is merged with one forward walk holding
  * exactly ONE buffered right row. Compare with the usual alternatives at
  * 100 TB: a theta join is O(n·m) nested-loop; the union+window trick
  * (a13_asof_attribution) carries both streams through one giant sort. This
  * operator does the minimal work: one shuffle each side, linear merge,
  * O(1) state.
  *
  * v1 constraint: key and time expressions must be LongType (the capture
  * schema's user ids and epoch-millis).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKey: Expression, rightKey: Expression,
                    leftTime: Expression, rightTime: Expression)
    extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTime: Expression, rightTime: Expression)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) ::
      ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  /** Rows leave this operator exactly as the left child delivered them
    * (hash-clustered on the key), so advertise that: a downstream
    * groupBy/join on the same key then reuses the existing exchange instead
    * of re-shuffling the joined stream. */
  override def outputPartitioning:
      org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lKey = BindReferences.bindReference(leftKey, left.output)
    val lTime = BindReferences.bindReference(leftTime, left.output)
    val rKey = BindReferences.bindReference(rightKey, right.output)
    val rTime = BindReferences.bindReference(rightTime, right.output)
    val rightWidth = right.output.size
    val schema = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val toUnsafe = UnsafeProjection.create(schema, schema)
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val buffered = rIter.buffered
      // Standard join null semantics: a null key/time matches nothing.
      // Null left rows emit null-extended (left-join shape); null right
      // rows are skipped. (Unboxing blindly would turn null into 0L and
      // silently join as key/time 0; the sort routes null-key rows to the
      // front of each stream, so skipping is a clean prefix drop.)
      var heldKey = 0L
      var held: InternalRow = null
      lIter.map { lRow =>
        val kv = lKey.eval(lRow)
        val tv = lTime.eval(lRow)
        if (kv == null || tv == null) {
          toUnsafe(joined(lRow, nullRight))
        } else {
          val k = kv.asInstanceOf[Long]
          val t = tv.asInstanceOf[Long]
          if (held != null && heldKey != k) held = null
          // advance the right side through every row (key', t') <= (k, t)
          var advancing = true
          while (advancing && buffered.hasNext) {
            val rRow = buffered.head
            val rkv = rKey.eval(rRow)
            val rtv = rTime.eval(rRow)
            if (rkv == null || rtv == null) {
              buffered.next() // unmatchable
            } else {
              val rk = rkv.asInstanceOf[Long]
              val rt = rtv.asInstanceOf[Long]
              if (rk < k || (rk == k && rt <= t)) {
                buffered.next()
                if (rk == k) { held = rRow.copy(); heldKey = k }
              } else advancing = false
            }
          }
          toUnsafe(joined(lRow, if (held != null) held else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: push left-side-only filter conjuncts through [[AsOfJoin]]
  * (custom logical nodes are opaque to Catalyst's own pushdown, so without
  * this a `WHERE` above an as-of join scans everything). Only the LEFT side
  * is safe: filtering left rows never changes any row's match, while
  * filtering the right side would alter which "latest" row wins. Leftover
  * conjuncts stay above the join. */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan]
    with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      val (leftOnly, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(leftOnly.reduce(And), j.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Optimizer rule: column pruning through [[AsOfJoin]]. Catalyst's own
  * ColumnPruning cannot see into custom logical nodes, so without this a
  * narrow projection above an as-of join still scans and shuffles every
  * child column. For `Project(p, AsOfJoin(l, r))` where the projection plus
  * join keys/times need only a subset of a child's output, wrap that child
  * in its own Project — the scan then prunes to the needed columns and the
  * join's shuffle payload shrinks accordingly. */
object PruneAsOfJoinColumns extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeSet
  import org.apache.spark.sql.catalyst.plans.logical.Project

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case p @ Project(_, j: AsOfJoin) =>
      val required = AttributeSet(
        p.references ++ j.leftKey.references ++ j.rightKey.references ++
          j.leftTime.references ++ j.rightTime.references)
      def prune(child: LogicalPlan): LogicalPlan = {
        val kept = child.output.filter(required.contains)
        if (kept.size < child.output.size) Project(kept, child) else child
      }
      val (nl, nr) = (prune(j.left), prune(j.right))
      if ((nl eq j.left) && (nr eq j.right)) p
      else p.copy(child = j.copy(left = nl, right = nr))
  }
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** The library's one-line install: `SparkSession.builder()
  * .withExtensions(new GraftExtensions)` or config
  * `spark.sql.extensions=graft.plans.GraftExtensions` (works via
  * spark-submit --conf too — no code changes to the host app). Injects the
  * as-of join planner strategy + optimizer rules and the [[BindConstants]]
  * physical rule, and registers graft's custom expressions as SQL
  * functions, so plain `spark.sql(...)` reaches everything. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    e.injectColumnar(_ => BindConstants)
    e.injectOptimizerRule(_ => PushFilterThroughAsOfJoin)
    e.injectOptimizerRule(_ => PruneAsOfJoinColumns)
    e.injectOptimizerRule(_ => RewriteCountDistinctToSketch)
    e.injectOptimizerRule(_ => RewritePercentileToApprox)
    e.injectOptimizerRule(_ => RewriteExplodeCountToHistogram)
    e.injectFunction((
      FunctionIdentifier("array_histogram"),
      new ExpressionInfo(classOf[graft.functions.ArrayHistogram].getName,
        "array_histogram"),
      (exprs: Seq[Expression]) =>
        graft.functions.ArrayHistogram(exprs.head)))
    e.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[graft.functions.CosineSimilarity].getName,
        "cosine_sim"),
      (exprs: Seq[Expression]) =>
        graft.functions.CosineSimilarity(exprs(0), exprs(1))))
    e.injectFunction((
      FunctionIdentifier("bottom_k"),
      new ExpressionInfo(classOf[graft.functions.BottomKNative].getName,
        "bottom_k"),
      (exprs: Seq[Expression]) => {
        val k = exprs(1) match {
          case Literal(v: Int, _) => v
          case other => throw new IllegalArgumentException(
            s"bottom_k: k must be an integer literal, got $other")
        }
        graft.functions.BottomKNative(exprs.head, k).toAggregateExpression()
      }))
    e.injectFunction((
      FunctionIdentifier("freq_sketch"),
      new ExpressionInfo(classOf[graft.functions.FreqSketchMG].getName,
        "freq_sketch"),
      (exprs: Seq[Expression]) => graft.functions.FreqSketchMG.builder(exprs)))
  }
}

object AsOfJoin {
  /** Ensure the planner strategy is present on an existing session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val ss = spark.sessionState
    if (!ss.planner.extraPlanningStrategies.exists(_ eq AsOfJoinStrategy)
      && !ss.experimentalMethods.extraStrategies.exists(_ eq AsOfJoinStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    // Dual-registry guard for the rules, mirroring the strategy guard
    // above: `optimizer.batches` reflects BOTH registries —
    // extension-injected rules land in the operator-optimization batches
    // and experimental extras in "User Provided Optimizers" — so a session
    // built with GraftExtensions doesn't get each (idempotent, but
    // per-pass) rewrite appended and run a second time. The explicit
    // extraOptimizations check stays as a belt against an Optimizer whose
    // batches are assembled differently.
    def registered(r: Rule[LogicalPlan]): Boolean =
      spark.experimental.extraOptimizations.exists(_ eq r) ||
        ss.optimizer.batches.exists(_.rules.exists(_ eq r))
    // the flag-gated acceleration rewrites ride along on the imperative
    // path too, so a session installed via asofJoin() (not GraftExtensions)
    // can still flip spark.graft.approxDistinct/approxPercentile.enabled
    Seq(PushFilterThroughAsOfJoin, PruneAsOfJoinColumns,
        RewriteCountDistinctToSketch, RewritePercentileToApprox,
        RewriteExplodeCountToHistogram).foreach { r =>
      if (!registered(r)) {
        spark.experimental.extraOptimizations =
          spark.experimental.extraOptimizations :+ r
      }
    }
  }

  /** DataFrame-level entry point: as-of join `left` with `right`, matching
    * each left row to the latest right row with equal key and
    * `rightTimeCol <= leftTimeCol`. All four columns must be LongType; give
    * the right side distinct column names (the joined output is
    * left.output ++ right.output). */
  def asofJoin(left: DataFrame, right: DataFrame,
               leftKeyCol: String, rightKeyCol: String,
               leftTimeCol: String, rightTimeCol: String): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def longAttr(p: LogicalPlan, n: String): Attribute = {
      val a = p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
      require(a.dataType == LongType, s"$n must be LongType, is ${a.dataType}")
      a
    }
    val node = AsOfJoin(lPlan, rPlan,
      longAttr(lPlan, leftKeyCol), longAttr(rPlan, rightKeyCol),
      longAttr(lPlan, leftTimeCol), longAttr(rPlan, rightTimeCol))
    org.apache.spark.sql.classic.GraftBridge.ofRows(spark, node)
  }

  /** Broadcast as-of join for a dimension-sized right side: the right table
    * is collected once, grouped by key, time-sorted, and broadcast; each
    * left row then resolves its match with a binary search in a pure map
    * stage. Same semantics as [[asofJoin]] (latest right row with equal key
    * and time <= left time; null-extended when none), but ZERO shuffles and
    * no sort of the left stream — the as-of analog of a broadcast hash join,
    * and the right choice when the right side is a config/session snapshot.
    * Size contract is Spark's own broadcast contract: the right side must
    * fit on the driver and each executor.
    *
    * TIE BEHAVIOR IS UNSPECIFIED: when several right rows share one
    * (key, time), WHICH of them wins is nondeterministic on both this path
    * (range-partitioned sort places equal keys in arbitrary relative
    * order) and the shuffled [[asofJoin]] — the same contract as Spark's own
    * `first`/`head` on unordered data. Callers needing determinism under
    * duplicate right timestamps must make the time unique (e.g. fold a
    * sequence number into the low bits), which also makes the two paths
    * agree row-for-row (pinned by ScaleSpec's AQE case). */
  def asofJoinBroadcast(left: DataFrame, right: DataFrame,
                        leftKeyCol: String, rightKeyCol: String,
                        leftTimeCol: String, rightTimeCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val spark = left.sparkSession
    val (lSchema, rSchema) = (left.schema, right.schema)
    def longIdx(sch: StructType, n: String): Int = {
      val i = sch.fieldIndex(n)
      require(sch(i).dataType == LongType,
        s"$n must be LongType, is ${sch(i).dataType}")
      i
    }
    val (lki, lti) = (longIdx(lSchema, leftKeyCol), longIdx(lSchema, leftTimeCol))
    val (rki, rti) = (longIdx(rSchema, rightKeyCol), longIdx(rSchema, rightTimeCol))
    // Broadcast payload is field arrays, not Rows: each collected Row is
    // unwrapped to its bare values (one Array[Any] per row, no
    // GenericRowWithSchema wrapper or per-row schema reference) — roughly
    // halves the driver + broadcast footprint for wide dimension rows. The
    // (key, time) sort runs distributed before the collect, so the driver
    // only slices contiguous runs.
    // Standard join null semantics: right rows with a null key or time
    // can never be "the latest at-or-before" for anything — drop them
    // before grouping (was a hard failure; a dimension with one null row
    // should not abort the join).
    val collected = right
      .sort(right(rightKeyCol), right(rightTimeCol))
      .collect()
      .filter(r => !r.isNullAt(rki) && !r.isNullAt(rti))
    val grouped: Map[Long, (Array[Long], Array[Array[Any]])] = {
      val m = scala.collection.mutable.HashMap
        .empty[Long, (Array[Long], Array[Array[Any]])]
      var i = 0
      while (i < collected.length) {
        val k = collected(i).getLong(rki)
        var j = i
        while (j < collected.length && collected(j).getLong(rki) == k) j += 1
        val times = new Array[Long](j - i)
        val vals = new Array[Array[Any]](j - i)
        var p = i
        while (p < j) {
          times(p - i) = collected(p).getLong(rti)
          vals(p - i) = Array.tabulate[Any](rSchema.size)(collected(p).get)
          p += 1
        }
        m.put(k, (times, vals))
        i = j
      }
      m.toMap
    }
    val bc = spark.sparkContext.broadcast(grouped)
    val outSchema = StructType(
      lSchema.fields ++ rSchema.fields.map(_.copy(nullable = true)))
    val nullTail: Seq[Any] = Seq.fill(rSchema.size)(null)
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    left.mapPartitions { iter =>
      iter.map { lrow =>
        // null left key/time: no match by definition — null-extend
        if (lrow.isNullAt(lki) || lrow.isNullAt(lti)) {
          Row.fromSeq(lrow.toSeq ++ nullTail)
        } else {
        val (k, t) = (lrow.getLong(lki), lrow.getLong(lti))
        val tail = bc.value.get(k) match {
          case Some((times, vals)) =>
            // greatest index with times(i) <= t
            var lo = 0; var hi = times.length - 1; var ans = -1
            while (lo <= hi) {
              val m = (lo + hi) >>> 1
              if (times(m) <= t) { ans = m; lo = m + 1 } else hi = m - 1
            }
            if (ans >= 0) vals(ans).toSeq else nullTail
          case None => nullTail
        }
        Row.fromSeq(lrow.toSeq ++ tail)
        }
      }
    }(enc)
  }
}
