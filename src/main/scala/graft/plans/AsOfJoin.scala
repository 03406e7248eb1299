package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.types.LongType

/** Native backward as-of join — the temporal join Spark's operator set
  * lacks (pandas `merge_asof`, QuestDB/DuckDB `ASOF JOIN`): for every
  * left row, the single right row with the same key and the LARGEST
  * right time ≤ the left time, null-extended when no such row exists.
  *
  * This is the option-(c) escalation path from the build contract — a
  * whole-operator semantic the DataFrame algebra can only express as a
  * window-over-union contortion (q42's composed form) — implemented
  * through the FULL planner stack:
  *
  *   [[AsOfJoinPlan]]    logical node (resolved-attribute contract)
  *   [[AsOfJoinStrategy]] SparkStrategy, installed by
  *                        [[graft.GraftSession.install]] via
  *                        `spark.experimental.extraStrategies` (public
  *                        API, no private hooks)
  *   [[AsOfJoinExec]]    physical node: declares ClusteredDistribution
  *                        on the keys + (key, time) sort for BOTH
  *                        children, so EnsureRequirements plans the
  *                        exchanges/sorts — the operator itself is a
  *                        ZERO-COPY per-partition two-pointer merge.
  *
  * Scale shape: one hash exchange per side on the join key (identical
  * to a sort-merge equi-join), per-partition state = ONE buffered
  * candidate row — no window over the union, no per-row lookback
  * buffer, and the merge streams both sides once. Keys and times are
  * LongType in v1 (the engine's id/time discipline everywhere);
  * wider types = widen the eval calls.
  *
  * Determinism: ties on (key, time) within the right side pick the
  * last row in partition sort order — give the right side unique
  * (key, time) rows (pre-aggregate) for a fully deterministic result,
  * as q169's pipeline does.
  */
case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, rk, lt, rt, fwd) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, fwd) :: Nil
    case _ => Nil
  }
}

/** Two-pointer as-of merge over co-partitioned, (key, time)-sorted
  * children.
  *
  * CODEGEN DECISION (measured at 5M x 5M rows, 50k keys, local[32],
  * min-of-5; BENCH_NOTES "Round 10: as-of codegen decision"): native
  * interpreted exec 0.87 s; the exchange+sort scaffolding alone (fully
  * codegen'd) 0.80 s; the window-composed equivalent (fully WholeStageCodegen'd running
  * struct-max) 1.07 s. The row-at-a-time merge adds ~8% on top of the
  * sorts that any as-of plan needs, and the whole native plan beats
  * the codegen'd composition by ~20% (it never unions the right rows
  * through the output). CodegenSupport on the merge could reclaim at
  * most that 8% — not the bottleneck; intentionally left interpreted. */
case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
    leftKey: Expression, rightKey: Expression,
    leftTime: Expression, rightTime: Expression,
    forward: Boolean = false)
  extends SparkPlan with BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // co-partition both sides on the key with a PINNED partition count:
  // the merge zips partitions 1:1, so AQE must not coalesce one side
  // independently of the other
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil,
      requiredNumPartitions = Some(conf.numShufflePartitions)) ::
    ClusteredDistribution(rightKey :: Nil,
      requiredNumPartitions = Some(conf.numShufflePartitions)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ::
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) :: Nil

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lk = BindReferences.bindReference(leftKey, lOut)
    val lt = BindReferences.bindReference(leftTime, lOut)
    val rk = BindReferences.bindReference(rightKey, rOut)
    val rt = BindReferences.bindReference(rightTime, rOut)
    val outAttrs = output
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      // bind against NULLABLE right attrs: a non-nullable input field
      // would elide the null check and read the null-extended row's
      // slot as 0 instead of NULL
      val joiner =
        UnsafeProjection.create(outAttrs, lOut ++ rOut.map(_.withNullability(true)))
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.length)
      // one-row lookahead on the right; candidate = last right row of
      // the CURRENT left key with time <= current left time
      var head: InternalRow = if (ri.hasNext) ri.next().copy() else null
      var cand: InternalRow = null
      var candKey = 0L
      var haveCand = false
      // a right row with NULL key or time can never match; nulls sort
      // first under the child's ascending SortOrder, so skipping them
      // as they surface never skips a live candidate
      def rightKeyOf(row: InternalRow): java.lang.Long =
        rk.eval(row).asInstanceOf[java.lang.Long]
      def advanceRight(): Unit = { head = if (ri.hasNext) ri.next().copy() else null }
      li.map { lrow =>
        val kBoxed = lk.eval(lrow).asInstanceOf[java.lang.Long]
        val tBoxed = lt.eval(lrow).asInstanceOf[java.lang.Long]
        if (kBoxed == null || tBoxed == null) {
          // SQL semantics: NULL key/time matches nothing — null-extend
          // instead of unboxing to 0 and stealing key-0 candidates
          numOutputRows += 1
          joiner(joined(lrow, nullRight))
        } else {
        val k: Long = kBoxed
        val t: Long = tBoxed
        if (haveCand && candKey != k) { haveCand = false; cand = null }
        if (forward) {
          // FIRST right row with the same key and time >= t: discard
          // strictly-earlier rows (no later left row wants them —
          // left times only grow within the key), then the head
          // itself is the candidate iff the key matches
          var advancing = true
          while (advancing && head != null) {
            val hkBoxed = rightKeyOf(head)
            val htBoxed = rt.eval(head).asInstanceOf[java.lang.Long]
            if (hkBoxed == null || htBoxed == null) advanceRight()
            else {
              val hk: Long = hkBoxed
              if (hk < k || (hk == k && htBoxed.longValue < t)) advanceRight()
              else advancing = false
            }
          }
          val hit = head != null && {
            val hkBoxed = rightKeyOf(head)
            hkBoxed != null && hkBoxed.longValue == k
          }
          numOutputRows += 1
          if (hit) numMatched += 1
          joiner(joined(lrow, if (hit) head else nullRight))
        } else {
          // LAST right row with the same key and time <= t
          var advancing = true
          while (advancing && head != null) {
            val hkBoxed = rightKeyOf(head)
            val htBoxed = rt.eval(head).asInstanceOf[java.lang.Long]
            if (hkBoxed == null || htBoxed == null) advanceRight()
            else {
              val hk: Long = hkBoxed
              if (hk < k || (hk == k && htBoxed.longValue <= t)) {
                if (hk == k) { cand = head; candKey = k; haveCand = true }
                advanceRight()
              } else advancing = false
            }
          }
          numOutputRows += 1
          if (haveCand) numMatched += 1
          joiner(joined(lrow, if (haveCand) cand else nullRight))
        }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Public API: `AsOf.join(trades, quotes, "user_id", "u", "ts_ns", "t")`
  * — backward as-of, left columns then (nullable) right columns.
  * Rename colliding right columns first; key/time columns must be
  * LongType. Like every graft SQL function, it requires a session
  * prepared by [[graft.GraftSession]] or [[graft.GraftExtensions]],
  * which install [[AsOfJoinStrategy]]. */
object AsOf {
  def join(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      forward: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    val lp = Shims.logicalPlan(left)
    val rp = Shims.logicalPlan(right)
    def attr(plan: LogicalPlan, name: String, side: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"$side column '$name' not in [${plan.output.map(_.name).mkString(", ")}]"))
    val (lkA, ltA) = (attr(lp, leftKey, "left"), attr(lp, leftTime, "left"))
    val (rkA, rtA) = (attr(rp, rightKey, "right"), attr(rp, rightTime, "right"))
    require(Seq(lkA, ltA, rkA, rtA).forall(_.dataType == LongType),
      "as-of v1 requires LongType key and time columns")
    Shims.ofRows(spark, AsOfJoinPlan(lp, rp, lkA, rkA, ltA, rtA, forward))
  }
}
