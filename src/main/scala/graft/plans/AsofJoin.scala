package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftInternalAccess, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native AS-OF join: `left LEFT ASOF JOIN right ON keys AND rightTime <=
  * leftTime` — each left row picks the single right row with the greatest
  * `rightTime` at-or-before its `leftTime` within the same key group, or
  * nulls when none exists. The canonical fact ⋈ latest-dimension-snapshot
  * shape (reference has no joins at all — this is build-out surface; DuckDB
  * oracles it with its native `ASOF LEFT JOIN`).
  *
  * Why a custom operator (mandate preference (c)): Spark has no as-of join,
  * and both composition strategies carry real scale costs. The union-window
  * trick (`q_asof_join_snapshot`) unions both tables into one wide
  * null-padded stream, sorts it, and drags a `last(ignoreNulls)` window
  * buffer across every row; a range join explodes to candidates-per-pair
  * before a per-key argmax re-aggregate. This operator instead REQUIRES
  * hash distribution on the key and (key, time) ordering from its children
  * — Catalyst's EnsureRequirements inserts exactly one exchange + sort per
  * side, AQE still re-plans those exchanges — and then streams a
  * sort-merge: one forward pass over both sides per partition, O(n+m),
  * carrying one buffered right row. No union blow-up, no window state, no
  * candidate explosion; the merge never materializes more than the current
  * rows regardless of corpus size.
  *
  * Null semantics match SQL join conditions: a null key or null time on
  * either side never matches (left rows still emit, null-padded).
  * Installed in every session by [[GraftExtensions]]; [[Asof.join]] is the
  * user API.
  */
case class AsofJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    isInner: Boolean = false) extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    "as-of join needs at least one equi-key and matching key arity")

  // inner drops unmatched left rows, so the right side is never null-padded
  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Physical sort-merge as-of join. Children are hash-clustered by key and
  * sorted by (key, time) — declared via requiredChildDistribution/Ordering
  * so EnsureRequirements plans the exchanges and sorts (and can elide them
  * when a child is already bucketed/sorted suitably). Each partition then
  * merges in one forward pass, keeping only the latest at-or-before right
  * row per left key.
  */
case class AsofJoinExec(
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    isInner: Boolean,
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    if (isInner) left.output ++ right.output
    else left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // streaming merge: left rows pass through in their incoming (key, time)
  // order and partitioning — downstream ops can reuse both
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override lazy val metrics = Map(
    "numOutputRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> org.apache.spark.sql.execution.metric.SQLMetrics
      .createMetric(sparkContext, "number of matched rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  protected override def doExecute(): RDD[InternalRow] = {
    // capture locals only: the closure must not drag the SparkPlan along
    val lOut = left.output
    val rOut = right.output
    val out = output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val inner = isInner
    val outRows = longMetric("numOutputRows")
    val matchedRows = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // per-partition construction: codegen'd projections/orderings are
      // built on the executor, nothing codegen'd crosses the wire
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      // bind against the NULLABLE view of the right side: binding against
      // rOut as-is would mark non-nullable right columns null-safe and read
      // type defaults (0, false) instead of NULL on unmatched rows
      val resultProj = UnsafeProjection.create(out, lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.length)
      val joined = new JoinedRow
      val rBuf = rIter.buffered

      var curKey: InternalRow = null // copy of the left key group being merged
      var lastMatch: InternalRow = null // copy of latest at-or-before right row

      // advance the right side to the last row with rKey == lk and
      // rTime <= lt; rows behind the current key (or with null key/time)
      // are discarded — both iterators are sorted, so nothing is revisited
      def advanceRight(lk: InternalRow, lt: InternalRow): Unit = {
        var done = false
        while (!done && rBuf.hasNext) {
          val rk = rKeyProj(rBuf.head)
          if (rk.anyNull) { rBuf.next(); () }
          else {
            val c = keyOrd.compare(rk, lk)
            if (c < 0) { rBuf.next(); () }
            else if (c == 0) {
              val rt = rTimeProj(rBuf.head)
              if (rt.isNullAt(0)) { rBuf.next(); () }
              else if (timeOrd.compare(rt, lt) <= 0) lastMatch = rBuf.next().copy()
              else done = true
            } else done = true
          }
        }
      }

      lIter.flatMap { l =>
        val lk = lKeyProj(l)
        if (curKey == null || keyOrd.compare(lk, curKey) != 0) {
          curKey = lk.copy()
          lastMatch = null
        }
        if (!lk.anyNull) {
          val lt = lTimeProj(l)
          if (!lt.isNullAt(0)) advanceRight(curKey, lt)
        }
        if (lastMatch != null) {
          outRows += 1; matchedRows += 1
          Some(resultProj(joined(l, lastMatch)))
        } else if (inner) None // inner: unmatched left rows drop
        else { outRows += 1; Some(resultProj(joined(l, nullRight))) }
      }
    }
  }
}

/** Plans [[AsofJoin]] as [[AsofJoinExec]]; everything else falls through. */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, inner) =>
      AsofJoinExec(lk, rk, lt, rt, inner, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

/** Filter pushdown through [[AsofJoin]] — the optimizer half of the custom
  * operator. Catalyst's PushDownPredicates cannot see through an unknown
  * logical node, so without this rule every predicate above an as-of join
  * runs AFTER the merge, and none of it reaches the parquet scan. The rule
  * splits a conjunctive filter: conjuncts referencing only left-side
  * columns move below the join (they can't change which right row a
  * surviving left row matches — matching depends only on the left row
  * itself); conjuncts on the join KEYS are additionally mirrored to the
  * right side through the key mapping (a right row whose key matches no
  * surviving left key can never be emitted — with one subtlety: mirroring
  * must not make the filter right-REMOVING for keys the left side still
  * has, which key-equality predicates never do). Everything else — right
  * payload predicates (they'd turn matched rows into unmatched instead of
  * removing them) and non-deterministic conjuncts — stays above the join.
  * Left-outer semantics are preserved exactly; the payoff is pushed
  * predicates reaching both scans (PlanAuditSpec pins this).
  */
object AsofFilterPushdown extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeMap, AttributeSet}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, j: AsofJoin) =>
      val conjuncts = splitConjuncts(cond)
      val (pushable, keep) = conjuncts.partition(c =>
        c.deterministic && c.references.subsetOf(j.left.outputSet))
      if (pushable.isEmpty) f
      else {
        // left→right key attribute translation for conjuncts that touch
        // only KEY columns: those also bound which right groups can match
        val keyMap = AttributeMap(j.leftKeys.zip(j.rightKeys).collect {
          case (lk: Attribute, rk: Attribute) => lk -> rk
        })
        val leftKeySet = AttributeSet(keyMap.keys)
        val mirrored = pushable
          .filter(_.references.subsetOf(leftKeySet))
          .map(_.transform { case a: Attribute => keyMap(a) })
        val newLeft = Filter(pushable.reduce(And), j.left)
        val newRight =
          if (mirrored.isEmpty) j.right else Filter(mirrored.reduce(And), j.right)
        val pushed = j.copy(left = newLeft, right = newRight)
        keep.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(a, b) =>
      splitConjuncts(a) ++ splitConjuncts(b)
    case other => Seq(other)
  }
}

/** The engine's one installation path: the strategy and rule above plus the
  * native functions of `graft.functions.GraftFunctions`. Listed under
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it to every session built with these
  * classes on the classpath — a bare `SparkSession.builder()`, a spark-shell
  * session and `newSession()` children alike — with no conf and no call.
  * Do not also name it in `spark.sql.extensions`: that installs it twice.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
    ext.injectOptimizerRule(_ => AsofFilterPushdown)
    graft.functions.GraftFunctions.descriptions.foreach(ext.injectFunction)
  }
}

/** User API for the native as-of join. */
object Asof {

  /** As-of backward join: for each left row, the right row with the
    * greatest `rightTimeCol` at-or-before `leftTimeCol` within the same
    * `leftOn`/`rightOn` key group. Left-outer by default (unmatched left
    * rows null-pad); `inner = true` drops them instead. Column names must
    * be unambiguous in their respective frames; rename the right side's
    * columns first if the two frames share names.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftOn: Seq[String],
      rightOn: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      inner: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"as-of join: no column '$name' among ${plan.output.map(_.name).mkString(", ")}"))
    GraftInternalAccess.ofRows(spark,
      AsofJoin(lp, rp,
        leftOn.map(attr(lp, _)), rightOn.map(attr(rp, _)),
        attr(lp, leftTimeCol), attr(rp, rightTimeCol), inner))
  }
}
