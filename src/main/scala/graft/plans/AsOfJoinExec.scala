package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Physical as-of join: co-partition both sides on the key
  * (`ClusteredDistribution`, so EnsureRequirements inserts the two hash
  * exchanges and AQE still coalesces/skew-splits them), sort each side
  * by (key, time) (`requiredChildOrdering`, so the sorts are planned
  * SortExec nodes that can spill), then stream the two sorted partitions
  * through a single-pass merge: O(n_l + n_r) per partition, one right
  * row buffered at a time, no materialized per-key group.
  *
  * Tie-break: at equal (key, rightTime) the requiredChildOrdering on the
  * right appends the orderable payload columns — ascending for backward
  * (the LAST qualifying row the scan passes is the payload-max), and
  * descending for forward (the FIRST row the scan stops on is the
  * payload-max) — so both directions deterministically pick the same
  * payload-max row, whatever the partition layout.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTime: Attribute,
    rightTime: Attribute,
    forward: Boolean) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatched" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = {
    val l = (leftKeys :+ leftTime).map(a => SortOrder(a, Ascending))
    val payloadDir = if (forward) Descending else Ascending
    val rPayload = right.output
      .filterNot(a => rightKeys.exists(_.exprId == a.exprId) ||
        a.exprId == rightTime.exprId)
      .filter(a => RowOrdering.isOrderable(a.dataType))
    val r = rightKeys.map(a => SortOrder(a, Ascending)) ++
      Seq(SortOrder(rightTime, Ascending)) ++
      rPayload.map(a => SortOrder(a, payloadDir))
    Seq(l, r)
  }

  // one output row per left row, in the left child's order and layout —
  // downstream operators can reuse both
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  protected override def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    val numMatched = longMetric("numMatched")
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTimeIdx = lOut.indexWhere(_.exprId == leftTime.exprId)
    val rTimeIdx = rOut.indexWhere(_.exprId == rightTime.exprId)
    val timeDt = leftTime.dataType
    val keyDts = lKeys.map(_.dataType)
    val fwd = forward
    require(lTimeIdx >= 0 && rTimeIdx >= 0,
      "as-of time attributes must come from the respective child")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      // codegen'd projections + interpreted orderings are not
      // serializable — construct per partition
      val lKeyGen = UnsafeProjection.create(lKeys, lOut)
      val rKeyGen = UnsafeProjection.create(rKeys, rOut)
      val keyOrds = keyDts.map(TypeUtils.getInterpretedOrdering)
      val timeOrd = TypeUtils.getInterpretedOrdering(timeDt)
      // both key rows are the same projected shape: compare field-wise
      def cmpKeys(a: InternalRow, b: InternalRow): Int = {
        var i = 0
        while (i < keyOrds.length) {
          val c = keyOrds(i).compare(a.get(i, keyDts(i)), b.get(i, keyDts(i)))
          if (c != 0) return c
          i += 1
        }
        0
      }

      val rBuf = rIter.buffered
      val joined = new JoinedRow
      val nullRight = new GenericInternalRow(rOut.size)
      // backward state: the latest qualifying right row seen so far
      // (copied — sort iterators reuse the row object) + its key
      var lastMatch: InternalRow = null
      var lastMatchKey: InternalRow = null

      new Iterator[InternalRow] {
        override def hasNext: Boolean = lIter.hasNext
        override def next(): InternalRow = {
          val l = lIter.next()
          val lKey = lKeyGen(l)
          numOutputRows += 1
          if (lKey.anyNull || l.isNullAt(lTimeIdx)) {
            // SQL comparison semantics: a null key or null timestamp
            // matches nothing (and must not advance the right cursor —
            // null keys sort first, so rows after this left row can
            // still need earlier right rows)
            joined(l, nullRight)
          } else {
            val lTs = l.get(lTimeIdx, timeDt)
            var scan = true
            while (scan && rBuf.hasNext) {
              val r = rBuf.head
              val rKey = rKeyGen(r)
              if (rKey.anyNull) { rBuf.next(); () } // never matches anyone
              else {
                val c = cmpKeys(rKey, lKey)
                if (c < 0) { rBuf.next(); () } // key fully passed
                else if (c > 0) scan = false
                else if (r.isNullAt(rTimeIdx)) { rBuf.next(); () } // null ts never matches
                else {
                  val cT = timeOrd.compare(r.get(rTimeIdx, timeDt), lTs)
                  if (!fwd) {
                    if (cT <= 0) {
                      // qualifying: remember it (copy — the underlying
                      // sorter reuses the row) and keep scanning for a
                      // later one
                      lastMatch = rBuf.next().copy()
                      lastMatchKey = rKeyGen(lastMatch).copy()
                    } else scan = false
                  } else {
                    // forward: discard rights strictly before lTs; the
                    // first remaining same-key row IS the match
                    if (cT < 0) { rBuf.next(); () } else scan = false
                  }
                }
              }
            }
            if (!fwd) {
              if (lastMatch != null && cmpKeys(lastMatchKey, lKey) == 0) {
                numMatched += 1
                joined(l, lastMatch)
              } else joined(l, nullRight)
            } else {
              // match = current head, NOT consumed (it may be the
              // answer for later left rows at the same/earlier ts)
              if (rBuf.hasNext) {
                val r = rBuf.head
                val rKey = rKeyGen(r)
                if (!rKey.anyNull && cmpKeys(rKey, lKey) == 0 &&
                    !r.isNullAt(rTimeIdx)) {
                  numMatched += 1
                  joined(l, r)
                } else joined(l, nullRight)
              } else joined(l, nullRight)
            }
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}
