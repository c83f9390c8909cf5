package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.graftshim

/** As-of join as a first-class operator: for each left row, the most
  * recent right row of the same key with rightTime <= leftTime.
  *
  * Reference analog: aligning sparse option marks to the underlying
  * tick stream (SPX_OPT.SPX.UL vs OPTM in SP_PROCESS_VERTS /
  * SP_OPTION_TIMESERIES_BACKFILL, /root/reference/docs/sql_server.md).
  *
  * This is the (c) rung of the extension ladder (SURVEY §4): a logical
  * node + planner strategy + physical sort-merge exec, because neither
  * a join condition (`r.ts <= l.ts` equi+range explodes to all prior
  * rows then needs a re-aggregate) nor a plain window can express
  * "latest right per left row" as ONE pass.
  *
  * Scale shape: both sides hash-partition on the key (declared via
  * requiredChildDistribution) and sort (key, time) within partitions
  * (requiredChildOrdering) — Catalyst inserts exactly one exchange per
  * side, then the merge is a linear zipPartitions scan with O(1) state
  * per key: no buffered window, no range-join blowup, AQE-compatible.
  */
case class AsOfJoin(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    leftSeq: Option[Expression] = None, rightSeq: Option[Expression] = None)
  extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(l: LogicalPlan, r: LogicalPlan): AsOfJoin =
    copy(left = l, right = r)
}

object AsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, lt, rk, rt, ls, rs) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, lt, rk, rt, ls, rs) :: Nil
    case _ => Nil
  }
}

/** Tie semantics are EXPLICIT: with seq expressions, a right row matches
  * iff (rightTime, rightSeq) <= (leftTime, leftSeq) lexicographically —
  * the same order a `ORDER BY time, seq ROWS UNBOUNDED PRECEDING` window
  * sees, so equal-timestamp rows resolve deterministically. Without seq,
  * ANY right row at exactly leftTime is included (inclusive-time as-of),
  * which is nondeterministic among equal-time right rows — pass a seq
  * column whenever timestamps can tie (they do, in real tick data).
  */
case class AsOfJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Expression, leftTime: Expression,
    rightKey: Expression, rightTime: Expression,
    leftSeq: Option[Expression], rightSeq: Option[Expression]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)) ++
      leftSeq.map(SortOrder(_, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightSeq.map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lkB = BindReferences.bindReference(leftKey, lOut)
    val ltB = BindReferences.bindReference(leftTime, lOut)
    val rkB = BindReferences.bindReference(rightKey, rOut)
    val rtB = BindReferences.bindReference(rightTime, rOut)
    val lsB = leftSeq.map(BindReferences.bindReference(_, lOut))
    val rsB = rightSeq.map(BindReferences.bindReference(_, rOut))
    val keyOrd = TypeUtils.getInterpretedOrdering(leftKey.dataType)
    val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
    val seqOrd = leftSeq.map(e => TypeUtils.getInterpretedOrdering(e.dataType))
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      var pending: InternalRow = null  // next right row, not yet consumed
      var lastMatch: InternalRow = null
      var lastMatchKey: Any = null

      // (rightTime[, rightSeq]) <= (leftTime[, leftSeq]) lexicographically.
      // Null seq values order NULLS FIRST (null < any non-null, null ==
      // null) — matching the Ascending requiredChildOrdering the rows
      // arrive in, so a nullable seq column cannot NPE or misorder.
      def atOrBefore(rRow: InternalRow, lt: Any, ls: Any): Boolean = {
        val tc = timeOrd.asInstanceOf[Ordering[Any]].compare(rtB.eval(rRow), lt)
        if (tc != 0) tc < 0
        else seqOrd match {
          case Some(ord) =>
            val rs = rsB.get.eval(rRow)
            if (rs == null) true // nulls first: at-or-before anything
            else if (ls == null) false // non-null right > null left
            else ord.asInstanceOf[Ordering[Any]].compare(rs, ls) <= 0
          case None => true // no seq: inclusive at equal time
        }
      }

      lIter.map { lRow =>
        val lk = lkB.eval(lRow)
        val lt = ltB.eval(lRow)
        val ls = lsB.map(_.eval(lRow)).orNull
        if (lastMatch != null && keyOrd.asInstanceOf[Ordering[Any]].compare(lastMatchKey, lk) != 0) {
          lastMatch = null; lastMatchKey = null
        }
        var done = false
        while (!done) {
          if (pending == null && rIter.hasNext) pending = rIter.next()
          if (pending == null) done = true
          else {
            val rk = rkB.eval(pending)
            val cmp = keyOrd.asInstanceOf[Ordering[Any]].compare(rk, lk)
            if (cmp < 0) pending = null // right key behind: discard
            else if (cmp == 0 && atOrBefore(pending, lt, ls)) {
              lastMatch = pending.copy() // newest right row at/before (lt, ls)
              lastMatchKey = rkB.eval(lastMatch)
              pending = null
            } else done = true // right ahead of this left row
          }
        }
        joined(lRow, if (lastMatch != null) lastMatch else nullRight)
        toUnsafe(joined)
      }
    }
  }

  override protected def withNewChildrenInternal(l: SparkPlan, r: SparkPlan): AsOfJoinExec =
    copy(left = l, right = r)
}

/** User-facing API: resolves key/time columns against the analyzed
  * children and registers the strategy on first use. Right-side column
  * names must not collide with left's (rename upstream).
  *
  * Seq columns MAY be nullable: null seq values order NULLS FIRST
  * (consistent with the Ascending sort the exec requires), i.e. a null
  * right seq ties-or-precedes every left row at the same timestamp.
  * Key and time columns are assumed non-null (rows with null keys/times
  * should be filtered upstream — an as-of match against an unknown time
  * is meaningless).
  */
object AsOf {
  def join(leftDf: DataFrame, rightDf: DataFrame,
      key: String, leftTimeCol: String, rightTimeCol: String,
      leftSeqCol: Option[String] = None, rightSeqCol: Option[String] = None): DataFrame = {
    val spark = leftDf.sparkSession
    if (!spark.experimental.extraStrategies.contains(AsOfStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfStrategy
    val lp = graftshim.analyzed(leftDf)
    val rp = graftshim.analyzed(rightDf)
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    graftshim.ofRows(spark,
      AsOfJoin(lp, rp,
        attr(lp, key), attr(lp, leftTimeCol),
        attr(rp, key + "_r"), attr(rp, rightTimeCol),
        leftSeqCol.map(attr(lp, _)), rightSeqCol.map(attr(rp, _))))
  }
}
