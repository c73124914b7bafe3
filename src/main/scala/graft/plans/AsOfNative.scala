package graft.plans

import graft.{Query, Session, Tables}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftShims
import org.apache.spark.sql.types.DoubleType

/** Native as-of join — prompt preference (c): a whole-operator Catalyst
  * extension (custom LogicalPlan + SparkStrategy + SparkPlan) for the
  * one operator whose semantics the built-ins can only emulate
  * ([[AsOf.join]]'s union + window carry).
  *
  * Physical semantics: both sides are hash-clustered on the key (ONE
  * exchange each — EnsureRequirements inserts them from the declared
  * `ClusteredDistribution`s, exactly as it does for a sort-merge join)
  * and sorted by (key, time); a per-partition streaming merge then
  * carries the latest reference row ≤ each probe row's time. No union
  * row inflation, no window state: O(1) memory per partition beyond the
  * held row, and at 100 TB the cost class is identical to a sort-merge
  * join — shuffle + sort + linear merge.
  *
  * The reference has no as-of operator (it is a single-series in-memory
  * library); this is graft's scale-path twin of DuckDB's ASOF JOIN,
  * which serves as the oracle.
  */
object AsOfNative {

  /** Logical node: left as-of join. For every probe (left) row emit the
    * probe columns plus `asof_t` and the requested reference columns
    * from the most recent reference row with `rightTime <= leftTime` in
    * the same key group (nulls when none). `rightOutAttrs` are the
    * output attributes this node produces — stored in the constructor
    * so expression ids survive tree copies. */
  case class AsOfJoinPlan(
      left: LogicalPlan,
      right: LogicalPlan,
      leftKeys: Seq[Expression],
      rightKeys: Seq[Expression],
      leftTime: Expression,
      rightTime: Expression,
      rightValues: Seq[Expression],
      rightOutAttrs: Seq[Attribute]) extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ rightOutAttrs
    override def producedAttributes: AttributeSet = AttributeSet(rightOutAttrs)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy: AsOfJoinPlan → AsOfJoinExec, children planned by
    * Catalyst as usual. */
  object AsOfJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinPlan(l, r, lk, rk, lt, rt, rv, out) =>
        AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, out) :: Nil
      case _ => Nil
    }
  }

  /** Physical as-of merge join. Requires co-clustering on the keys and
    * (key, time) sort on both sides — declared, not hand-built, so
    * Catalyst plans the exchanges/sorts and AQE can still coalesce
    * them. The merge itself is a single forward pass over both sorted
    * iterators per partition. */
  case class AsOfJoinExec(
      left: SparkPlan,
      right: SparkPlan,
      leftKeys: Seq[Expression],
      rightKeys: Seq[Expression],
      leftTime: Expression,
      rightTime: Expression,
      rightValues: Seq[Expression],
      rightOutAttrs: Seq[Attribute]) extends BinaryExecNode {
    require(leftTime.dataType == DoubleType && rightTime.dataType == DoubleType,
      "as-of time columns must be double (epoch seconds)")

    override def output: Seq[Attribute] = left.output ++ rightOutAttrs
    override def producedAttributes: AttributeSet = AttributeSet(rightOutAttrs)
    override def requiredChildDistribution: Seq[Distribution] =
      ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
      rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))
    // the merge emits left rows in their sorted order, partition-preserving
    override def outputPartitioning: Partitioning = left.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head
    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)

    override protected def doExecute(): RDD[InternalRow] = {
      val lOut = left.output
      val rOut = right.output
      val lKeyExprs = leftKeys
      val rKeyExprs = rightKeys
      val lTimeExpr = leftTime
      val rTimeExpr = rightTime
      val rValExprs = rightTime +: rightValues // [asof_t, asof_v...]
      val outAttrs = output
      val rightAttrs = rightOutAttrs
      val nRightOut = rightAttrs.length
      left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
        if (!lIter.hasNext) Iterator.empty
        else {
          val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
          val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
          val keyOrd =
            RowOrdering.createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
          val lTime = BindReferences.bindReference(lTimeExpr, lOut)
          val rTime = BindReferences.bindReference(rTimeExpr, rOut)
          val rValProj = UnsafeProjection.create(rValExprs, rOut)
          val outProj = UnsafeProjection.create(outAttrs, lOut ++ rightAttrs)
          val joined = new JoinedRow
          val nullRight = new GenericInternalRow(nRightOut)
          new Iterator[InternalRow] {
            // the right row currently under the cursor, living in the
            // projection buffers (valid until the next rIter fetch)
            private var hasPending = false
            private var pendingKey: UnsafeRow = null
            private var pendingVals: UnsafeRow = null
            private var pendingT = 0.0
            // latest reference row matched so far (copied out)
            private var heldKey: UnsafeRow = null
            private var heldVals: UnsafeRow = null

            override def hasNext: Boolean = lIter.hasNext

            override def next(): InternalRow = {
              val l = lIter.next()
              val lk = lKeyProj(l)
              val lt = lTime.eval(l).asInstanceOf[Double]
              if (heldKey != null && keyOrd.compare(heldKey, lk) != 0) {
                heldKey = null; heldVals = null
              }
              var done = false
              while (!done) {
                if (!hasPending) {
                  if (rIter.hasNext) {
                    val r = rIter.next()
                    pendingKey = rKeyProj(r)
                    pendingT = rTime.eval(r).asInstanceOf[Double]
                    pendingVals = rValProj(r)
                    hasPending = true
                  } else done = true
                }
                if (hasPending) {
                  val cmp = keyOrd.compare(pendingKey, lk)
                  if (cmp < 0) hasPending = false // key already passed
                  else if (cmp == 0 && pendingT <= lt) {
                    heldKey = pendingKey.copy()
                    heldVals = pendingVals.copy()
                    hasPending = false
                  } else done = true // right is ahead of this probe row
                }
              }
              outProj(joined(l, if (heldVals != null) heldVals else nullRight))
            }
          }
        }
      }
    }
  }

  /** Left as-of join with the same surface as [[AsOf.join]]: for every
    * probe row, the most recent `ref` row with ref.time <= probe.time
    * within the same key; `valueCols` arrive as `asof_<name>` plus the
    * matched time as `asof_t`. */
  def join(probe: DataFrame, ref: DataFrame, key: String, time: String,
      valueCols: Seq[String]): DataFrame = {
    val spark = probe.sparkSession
    Session.setup(spark)
    val lPlan = probe.queryExecution.analyzed
    val rPlan = ref.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found"))
    val rt = attr(rPlan, time)
    val vals = valueCols.map(attr(rPlan, _))
    val outAttrs = AttributeReference("asof_t", rt.dataType, nullable = true)() +:
      vals.map(v => AttributeReference(s"asof_${v.name}", v.dataType,
        nullable = true)())
    GraftShims.ofRows(spark, AsOfJoinPlan(lPlan, rPlan,
      Seq(attr(lPlan, key)), Seq(attr(rPlan, key)),
      attr(lPlan, time), rt, vals, outAttrs))
  }

  /** Query twin of `events_asof_purchase` through the native operator —
    * the two formulations and the DuckDB ASOF JOIN oracle all check
    * each other. */
  def eventsAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.series(spark, dir)
    val raw = Tables.table(spark, dir, "events")
    val purchases = raw
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("id"),
        Tables.tSeconds(raw).as("t"),
        col("value").as("purchase_value"))
    join(ev.select("id", "t", "eid"), purchases, "id", "t",
      Seq("purchase_value"))
      .select(col("id"), col("eid"),
        round(col("t") - col("asof_t"), 6).as("since_purchase"),
        col("asof_purchase_value"))
  }

  val queries: Seq[Query] = Seq(
    Query("events_asof_native", eventsAsofNative, AsOf.eventsAsofPurchaseSql))
}
