package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Native sorted-merge AS-OF JOIN — the whole-operator extension point
  * (SURVEY §1.4 / builder-brief preference order (c)): a custom
  * `LogicalPlan` + `SparkStrategy` + `SparkPlan`, registered per session
  * on first use (`NativeAsOf.install`, called by `joinLeftAsOf`).
  *
  * Semantics (identical to `graft.operators.AsOf.joinLeftAsOf`, which is
  * the builtin-only formulation it is A/B-tested against): for every left
  * row, attach the LATEST right row with the same key and
  * `rightTime <= leftTime` (inclusive backward as-of); unmatched left rows
  * keep null payload; right rows tied on (key, time) are resolved by the
  * greatest `tieBreak` (it sorts last in the per-key order, and the merge
  * keeps the last-seen candidate).
  *
  * Why a physical operator when the union+window form already exists: the
  * window form materializes every carried payload column through the
  * per-key sort buffer and evaluates a `last(..., ignoreNulls)` frame per
  * row; this exec is ONE forward pass per co-partition — each side's rows
  * are read exactly once, comparisons are primitive longs, and the only
  * allocation is one buffered candidate row per key. Same exchange
  * profile as a sort-merge join (hash-cluster both sides on the key, sort
  * within partitions), so everything EnsureRequirements/AQE knows about
  * exchanges, sort elimination, and skew still applies; the merge itself
  * is O(|L| + |R|) per partition with O(1) state — no row explosion at
  * any scale.
  *
  * Key and time expressions must be internally long-typed (LongType, or
  * TimestampType = epoch micros): the kernel compares raw longs, never
  * objects — cast keys/times beforehand (the wrapper enforces this).
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoinPlan]] to [[AsOfJoinExec]]; a no-op for every other node. */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(l, r, lk, lt, rk, rt, tb) =>
      AsOfJoinExec(lk, lt, rk, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKey: Expression,
    leftTime: Expression,
    rightKey: Expression,
    rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  /** Hash-cluster both sides on the key — EnsureRequirements inserts the
    * exchanges and guarantees co-partitioning (same machinery as SMJ).
    */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKey :: Nil) :: ClusteredDistribution(rightKey :: Nil) :: Nil

  /** Per-partition sort: (key, time) both sides; right additionally by the
    * tie-break so equal-(key, time) groups have a deterministic winner
    * (the last row the merge sees = greatest tie-break).
    */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTime, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTime, Ascending)) ++
      rightTieBreak.map(SortOrder(_, Ascending)))

  /** 1:1 with left rows — left's partitioning (and ordering) pass through,
    * so a downstream per-key op reuses the exchange.
    */
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lkE = leftKey; val ltE = leftTime; val rkE = rightKey; val rtE = rightTime
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lk = BindReferences.bindReference(lkE, lOut)
      val lt = BindReferences.bindReference(ltE, lOut)
      val rk = BindReferences.bindReference(rkE, rOut)
      val rt = BindReferences.bindReference(rtE, rOut)
      val nullRight: InternalRow = InternalRow.fromSeq(Seq.fill(rOut.size)(null))
      val joined = new JoinedRow

      // Head of the right stream (rows with null key/time are unmatchable
      // — skipped on read). Key/time are extracted eagerly because sorter
      // output rows are reused buffers; the row itself is only copied if
      // it becomes the buffered candidate.
      var rRow: InternalRow = null
      var rKeyV = 0L
      var rTimeV = 0L
      def advanceRight(): Unit = {
        rRow = null
        while (rRow == null && rIter.hasNext) {
          val cand = rIter.next()
          val k = rk.eval(cand)
          val t = rt.eval(cand)
          if (k != null && t != null) {
            rRow = cand
            rKeyV = k.asInstanceOf[Long]
            rTimeV = t.asInstanceOf[Long]
          }
        }
      }
      advanceRight()

      var lastMatch: InternalRow = null
      var lastMatchKey = 0L

      lIter.map { lRow =>
        val k = lk.eval(lRow)
        val t = lt.eval(lRow)
        if (k == null || t == null) joined(lRow, nullRight)
        else {
          val key = k.asInstanceOf[Long]
          val time = t.asInstanceOf[Long]
          // Consume right rows at or before (key, time); the last one with
          // OUR key is the as-of match. The pointer never rewinds: left
          // rows arrive in the same (key, time) order.
          while (rRow != null && (rKeyV < key || (rKeyV == key && rTimeV <= time))) {
            if (rKeyV == key) {
              lastMatch = rRow.copy()
              lastMatchKey = key
            }
            advanceRight()
          }
          if (lastMatch != null && lastMatchKey == key) joined(lRow, lastMatch)
          else joined(lRow, nullRight)
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry point (and strategy registration). */
object NativeAsOf {

  /** Register the planner strategy on a live session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies = exp.extraStrategies :+ AsOfJoinStrategy
  }

  /** Backward (latest-earlier, inclusive) as-of join: left columns followed
    * by right columns (null payload when no match). Key and time columns
    * must be long-typed / timestamp-typed on both sides; right rows tied on
    * (key, time) resolve to the greatest `tieBreak`.
    */
  def joinLeftAsOf(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      leftTime: String,
      rightKey: String,
      rightTime: String,
      tieBreak: String): DataFrame = {
    val spark = left.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    install(spark)
    val lp = left.queryExecution.analyzed
    val rp = right.queryExecution.analyzed
    require(lp.outputSet.intersect(rp.outputSet).isEmpty,
      "left and right must not share attribute lineage (alias one side first)")
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"column $n not found in [${p.output.map(_.name).mkString(", ")}]"))
    def longish(a: Attribute): Attribute = {
      require(a.dataType == LongType || a.dataType == TimestampType
          || a.dataType == TimestampNTZType,
        s"${a.name}: ${a.dataType} is not internally long-typed; cast first")
      a
    }
    Dataset.ofRows(spark, AsOfJoinPlan(
      lp, rp,
      longish(attr(lp, leftKey)), longish(attr(lp, leftTime)),
      longish(attr(rp, rightKey)), longish(attr(rp, rightTime)),
      attr(rp, tieBreak) :: Nil))
  }
}
