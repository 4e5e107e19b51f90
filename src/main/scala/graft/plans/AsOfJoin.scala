package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Native as-of join (C8's whole-operator form — SURVEY §4 item 4).
  *
  * Semantics: for every left row, attach the single right row with the
  * same key whose (ts, id) is lexicographically greatest among those
  * strictly less than the left row's (ts, id); right columns are NULL
  * when no prior row exists. Key/ts/id are BIGINT (epoch-µs time).
  *
  * Why a custom operator: Spark has no ASOF JOIN; the composition
  * fallbacks are a lag-window over a union (same-table only) or a range
  * join + row_number (shuffles every candidate pair — O(fan-out) rows
  * through the exchange before discarding all but one). This operator
  * declares `ClusteredDistribution(key)` + per-partition ordering
  * (key, ts, id) and streams BOTH sides through one merge pass per
  * partition: the planner inserts exactly one hash exchange + sort per
  * side (re-used if the child is already partitioned — e.g. bucketed
  * tables at 100 TB), state is one buffered right row, and the output
  * is produced without materializing candidates.
  *
  * Wiring: logical node → AsOfJoinStrategy (injected via
  * GraftExtensions or added by `GraftSession.ensure`) → exec.
  * Public API: [[AsOfJoin.asof]].
  */
final case class AsOfJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTs: Expression, leftId: Expression,
    rightKey: Expression, rightTs: Expression, rightId: Expression)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, li, rk, rt, ri) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, li, rk, rt, ri) :: Nil
    case _ => Nil
  }
}

final case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTs: Expression, leftId: Expression,
    rightKey: Expression, rightTs: Expression, rightId: Expression)
  extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Co-partition both sides on the key... */
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  /** ...and sort each partition by (key, ts, id) so one forward merge
    * pass suffices. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending),
      SortOrder(leftId, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending),
      SortOrder(rightId, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending),
      SortOrder(leftId, Ascending))

  /** The merge preserves the left side's rows and partitioning exactly —
    * without this override the planner assumes UnknownPartitioning and
    * re-shuffles a downstream groupBy/join on the same key (r4 review;
    * the same passthrough SortMergeJoinExec does). */
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val li = BindReferences.bindReference(leftId, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    val ri = BindReferences.bindReference(rightId, right.output)
    val attrs = output
    val rightWidth = right.output.size

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(attrs, attrs)
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rightWidth)
      val rBuf = rIter.buffered
      var heldKey = 0L
      var held: InternalRow = null // latest right row consumed, key == heldKey

      // NULL semantics (r4 review — `null.asInstanceOf[Long]` silently
      // unboxes to 0L, which made NULL keys join as key 0): a left row
      // with any NULL (key, ts, id) matches nothing, and right rows
      // with NULLs are consumed and discarded. The required Sort puts
      // NULLs FIRST, so null rows cluster at the head of each partition
      // and the forward-merge invariant survives the skips.
      def evalOrNull(e: Expression, row: InternalRow): java.lang.Long =
        e.eval(row).asInstanceOf[java.lang.Long]
      def dropNullRightHead(): Unit = {
        var dropping = true
        while (dropping && rBuf.hasNext) {
          val head = rBuf.head
          if (evalOrNull(rk, head) == null || evalOrNull(rt, head) == null
            || evalOrNull(ri, head) == null) rBuf.next()
          else dropping = false
        }
      }
      lIter.map { lRow =>
        dropNullRightHead()
        val kB = evalOrNull(lk, lRow)
        val tB = evalOrNull(lt, lRow)
        val idB = evalOrNull(li, lRow)
        if (kB == null || tB == null || idB == null) {
          proj(joined(lRow, nullRight))
        } else {
          val k = kB.longValue(); val t = tB.longValue(); val id = idB.longValue()
          // consume right rows strictly before (k, t, id)
          var advance = true
          while (advance && rBuf.hasNext) {
            val head = rBuf.head
            val hk = rk.eval(head).asInstanceOf[Long]
            val cmp =
              if (hk != k) hk < k
              else {
                val ht = rt.eval(head).asInstanceOf[Long]
                ht < t || (ht == t && ri.eval(head).asInstanceOf[Long] < id)
              }
            if (cmp) {
              val consumed = rBuf.next()
              if (hk == k) { held = consumed.copy(); heldKey = k }
              dropNullRightHead()
            } else advance = false
          }
          val matched = held != null && heldKey == k
          proj(joined(lRow, if (matched) held else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoin {

  /** As-of join `left` to the most recent strictly-prior `right` row per
    * key. The named columns are BIGINT (epoch-µs ts); right-side column
    * names should not collide with the left's (the output is
    * left ++ right). `GraftSession.ensure` adds the planner strategy. */
  def asof(leftDf: DataFrame, rightDf: DataFrame,
      leftKey: String, leftTs: String, leftId: String,
      rightKey: String, rightTs: String, rightId: String): DataFrame = {
    val spark = leftDf.sparkSession
    graft.GraftSession.ensure(spark)
    val l = leftDf.queryExecution.analyzed
    val r = rightDf.queryExecution.analyzed
    def a(p: LogicalPlan, name: String): Attribute = {
      val attr = p.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"column $name not found"))
      // fail fast on the driver: the merge exec evaluates these as
      // Long, so a non-BIGINT column would otherwise surface as a
      // ClassCastException deep in executor tasks (r4 review)
      if (attr.dataType != org.apache.spark.sql.types.LongType)
        throw new IllegalArgumentException(
          s"asof column $name must be BIGINT, got ${attr.dataType.simpleString}")
      attr
    }
    val plan = AsOfJoinPlan(l, r,
      a(l, leftKey), a(l, leftTs), a(l, leftId),
      a(r, rightKey), a(r, rightTs), a(r, rightId))
    org.apache.spark.sql.graft.GraftShim.ofRows(spark, plan)
  }
}
