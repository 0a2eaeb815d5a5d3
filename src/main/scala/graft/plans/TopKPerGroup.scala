package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Whole-operator top-k-per-group — the tier-(c) extension path
  * (custom LogicalPlan + SparkStrategy + SparkPlan) for the one
  * leaderboard shape Spark's built-ins can't plan optimally.
  *
  * The window formulation (`row_number().over(partitionBy(g).orderBy(o))
  * WHERE rnk <= k`) shuffles EVERY row to its group's reducer and sorts
  * the full partition before discarding all but k rows per group. This
  * operator instead keeps a bounded heap of k rows per group per input
  * partition map-side (the agg-style partial), so the shuffle carries at
  * most k * numInputPartitions rows per group — at 100 TB with k=100
  * that is the difference between shuffling the fact table and shuffling
  * a rounding error. The final exec merges the survivors per group and
  * emits `rnk`.
  *
  * Planned via `TopKPerGroupStrategy` (injected by `GraftExtensions`);
  * EnsureRequirements inserts the group-keyed exchange between the
  * partial and final execs from `requiredChildDistribution`.
  */
/** @param withTies false = row_number() semantics (exactly k rows per
  *                 group, tie order among order-equal rows arbitrary —
  *                 the same unspecified choice the Window formulation
  *                 makes); true = rank() semantics (a row survives iff
  *                 fewer than k rows order strictly before it, so ALL
  *                 rows tied at the k-th value are kept and the emitted
  *                 rank carries standard competition numbering with
  *                 gaps). With ties the per-group kept set is k plus
  *                 the boundary tie width — exactly the cardinality
  *                 `rank() <= k` emits, so the bound is inherent to the
  *                 semantics, not a regression vs the Window plan. */
case class TopKPerGroup(
    k: Int,
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    child: LogicalPlan,
    rankAttr: AttributeReference = AttributeReference("rnk", IntegerType, nullable = false)(),
    withTies: Boolean = false)
  extends UnaryNode {
  require(k >= 1, s"TopKPerGroup requires k >= 1, got $k")
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case t: TopKPerGroup =>
      // Normalize floating-point group keys (0.0 vs -0.0, NaN bit
      // patterns) exactly as the optimizer does for Aggregate/Window
      // keys — its rule doesn't know this node, so without this a
      // double group key would split groups the window formulation
      // merges.
      val gExprs = t.groupExprs.map(
        org.apache.spark.sql.graftbridge.GraftSqlBridge.normalizeFloat)
      val partial = TopKPerGroupExec(t.k, gExprs, t.orderExprs,
        rankAttr = None, child = planLater(t.child), withTies = t.withTies)
      TopKPerGroupExec(t.k, gExprs, t.orderExprs,
        rankAttr = Some(t.rankAttr), child = partial, withTies = t.withTies) :: Nil
    case _ => Nil
  }
}

/** Bounded-heap top-k exec. With `rankAttr = None` this is the PARTIAL
  * stage (any distribution, emits survivors without ranks); with
  * `rankAttr = Some(_)` it is the FINAL stage (requires clustering AND
  * ordering on the group keys, emits ranked rows).
  *
  * Memory contract (both stages are O(bounded), never O(input)):
  *  - Partial: at most `spark.graft.topk.maxPartialGroups` (default
  *    65536) group heaps of k rows are held; when a new group would
  *    exceed that, the current heaps' survivors are FLUSHED downstream
  *    and accumulation restarts — the same graceful degradation as
  *    hash-aggregate partial fallback. A flushed group that reappears
  *    just produces another ≤k-row batch; the final stage re-reduces.
  *  - Final: input is sorted on the group keys (Spark's external sort,
  *    which spills), so groups arrive as contiguous runs and only ONE
  *    k-row heap is live at a time — O(k) memory regardless of group
  *    cardinality. The sort operates on already-reduced survivors
  *    (≤ k rows per group per flushed map batch), never the raw input.
  */
case class TopKPerGroupExec(
    k: Int,
    groupExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: Option[AttributeReference],
    child: SparkPlan,
    withTies: Boolean = false)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ rankAttr
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr.toSeq)

  override def requiredChildDistribution: Seq[Distribution] =
    if (rankAttr.isEmpty) UnspecifiedDistribution :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  // Final stage streams group runs: require the (reduced) shuffle output
  // sorted by group key so at most one group's heap is in memory.
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (rankAttr.isEmpty) Seq(Nil)
    else Seq(groupExprs.map(SortOrder(_, Ascending)))

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val oExprs = orderExprs
    val kk = k
    val ties = withTies
    val rank = rankAttr
    val fullOutput = output
    val maxPartialGroups =
      math.max(1, conf.getConfString("spark.graft.topk.maxPartialGroups", "65536").toInt)
    child.execute().mapPartitions { it =>
      val groupProj = UnsafeProjection.create(gExprs, childOutput)
      val rowProj = UnsafeProjection.create(childOutput.map(a => a: Expression), childOutput)
      val ord = RowOrdering.create(oExprs, childOutput)
      // per group: max-heap by sort order — root is the WORST kept row,
      // evicted when a better (ordering-smaller) row arrives.
      def newHeap() = mutable.PriorityQueue.empty[UnsafeRow](ord.on(identity[UnsafeRow]))
      // Evict rows whose strictly-better count reached k. In ties mode
      // a row at the heap root may share its order value with other
      // kept rows; evicting just the root would drop a row whose
      // rank() is still <= k (e.g. k=3, kept [1,2,2], insert 1: both
      // 2s keep rank 3). So pruning pops the ENTIRE worst tie group
      // and drops it only when the remaining (all strictly better)
      // rows already number >= k; otherwise the group is re-enqueued
      // and the heap legitimately holds k + boundary-tie-width rows —
      // the exact cardinality rank() <= k emits.
      def pruneTies(h: mutable.PriorityQueue[UnsafeRow]): Unit = {
        while (h.size > kk) {
          val w = h.dequeue()
          val grp = mutable.ArrayBuffer(w)
          while (h.nonEmpty && ord.compare(h.head, w) == 0) grp += h.dequeue()
          if (h.size >= kk) () // whole tie group out of the running: drop
          else { grp.foreach(h.enqueue(_)); return }
        }
      }
      def insert(h: mutable.PriorityQueue[UnsafeRow], row: InternalRow): Unit =
        if (h.size < kk) h.enqueue(rowProj(row).copy())
        else if (!ties) {
          if (ord.compare(row, h.head) < 0) { h.dequeue(); h.enqueue(rowProj(row).copy()) }
        } else {
          // ties mode: a row strictly worse than the current worst has
          // >= k strictly-better rows (every kept row, ties included,
          // orders before it) — drop; anything else stays and the
          // heap re-prunes.
          if (ord.compare(row, h.head) <= 0) {
            h.enqueue(rowProj(row).copy())
            pruneTies(h)
          }
        }

      rank match {
        case None => // partial: emit survivors unranked, flushing at the group cap
          new Iterator[InternalRow] {
            private var heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
            private var out: Iterator[UnsafeRow] = Iterator.empty
            private def drain(): Unit = {
              val old = heaps
              heaps = mutable.LinkedHashMap.empty
              out = old.valuesIterator.flatMap(_.iterator)
            }
            // Consume input until a flush triggers or input ends.
            private def step(): Unit = {
              while (it.hasNext) {
                val row = it.next()
                val key = groupProj(row)
                heaps.get(key) match {
                  case Some(h) => insert(h, row)
                  case None =>
                    val h = newHeap()
                    h.enqueue(rowProj(row).copy())
                    heaps.put(key.copy(), h)
                    if (heaps.size >= maxPartialGroups) { drain(); return }
                }
              }
              if (heaps.nonEmpty) drain()
            }
            override def hasNext: Boolean = {
              while (!out.hasNext && it.hasNext) step()
              out.hasNext
            }
            override def next(): InternalRow = {
              if (!hasNext) throw new NoSuchElementException
              out.next()
            }
          }

        case Some(r) => // final: sorted group runs, one heap at a time
          val outProj = UnsafeProjection.create(
            fullOutput.map(a => a: Expression), childOutput :+ r)
          val joined = new JoinedRow
          val bit = it.buffered
          new Iterator[InternalRow] {
            private var out: Iterator[InternalRow] = Iterator.empty
            private def nextRun(): Unit = {
              val key = groupProj(bit.head).copy()
              val h = newHeap()
              while (bit.hasNext && groupProj(bit.head) == key) insert(h, bit.next())
              val worstFirst: Seq[UnsafeRow] = h.dequeueAll[UnsafeRow]
              val bestFirst = worstFirst.reverseIterator
              out =
                if (!ties) bestFirst.zipWithIndex.map { case (row, i) =>
                  outProj(joined(row, new GenericInternalRow(Array[Any](i + 1))))
                } else {
                  // Standard competition ranking: order-equal rows share
                  // a rank, the next distinct value jumps past them
                  // (1, 2, 2, 4) — exactly rank()'s numbering, emitted
                  // over the tie-complete survivor set.
                  var prev: UnsafeRow = null
                  var prevRank = 0
                  bestFirst.zipWithIndex.map { case (row, i) =>
                    val r = if (prev != null && ord.compare(row, prev) == 0) prevRank
                            else i + 1
                    prev = row; prevRank = r
                    outProj(joined(row, new GenericInternalRow(Array[Any](r))))
                  }
                }
            }
            override def hasNext: Boolean = {
              while (!out.hasNext && bit.hasNext) nextRun()
              out.hasNext
            }
            override def next(): InternalRow = {
              if (!hasNext) throw new NoSuchElementException
              out.next()
            }
          }
      }
    }
  }
}
