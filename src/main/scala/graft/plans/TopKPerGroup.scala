package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Logical per-group top-k: for each distinct `group` key, the first `k`
  * rows of the child under `order` (which must be total — callers append a
  * unique tiebreaker, same determinism rule as every oracle query).
  *
  * WHY a custom operator (SURVEY §2.7 O3, the tier-(c) path): the
  * composition Spark offers — `row_number().over(Window.partitionBy(g)
  * .orderBy(o)) <= k` — shuffles EVERY row of every group and then
  * fully SORTS each group before the rank filter throws almost all of it
  * away. At 100 TB that is a full-data shuffle plus a full-data sort for an
  * output that is `groups × k` rows. The dedicated operator does what
  * `TakeOrderedAndProject` does for global top-k, per group: a map-side
  * bounded heap keeps at most k rows per group per input partition (any row
  * not in a partition-local top-k cannot be in the global top-k), the
  * shuffle then carries at most `partitions × groups × k` candidate rows,
  * and the reduce side merges heaps — no full sort of group contents ever
  * happens. This is the same partial/final split as a hash aggregate, with
  * a k-bounded heap as the buffer.
  *
  * Memory contract: one (UnsafeRow key → k-row heap) entry per distinct
  * group per partition — the same residency class as a hash aggregate
  * WITHOUT spill. For k so large that `groups_per_partition × k` rows
  * exceed executor memory, use the window composition (`o3_topk_per_group`)
  * instead; this operator targets the small-k leaderboard/sampling shapes
  * (top-k per user, per shard, per band) where k is tens, not millions.
  */
case class TopKPerGroup(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k >= 1, s"TopKPerGroup: k must be >= 1, got $k")
  require(group.nonEmpty, "TopKPerGroup: group key must be non-empty")

  override def output: Seq[Attribute] = child.output

  override def maxRows: Option[Long] = child.maxRows

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Plans [[TopKPerGroup]] as partial → shuffle → final, mirroring a hash
  * aggregate: the partial instance prunes to k rows per group per input
  * partition map-side, `EnsureRequirements` inserts the hash exchange to
  * satisfy the final instance's `ClusteredDistribution`, and the final
  * instance merges the per-partition survivors.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(group, order, k, child) =>
      val partial = TopKPerGroupExec(group, order, k, partial = true, planLater(child))
      TopKPerGroupExec(group, order, k, partial = false, partial) :: Nil
    case _ => Nil
  }
}

/** `SparkSessionExtensions` entry point — the cluster-config route:
  * `spark.sql.extensions=graft.plans.GraftExtensions`. Sessions the library
  * creates itself (tests, Bench) instead register at first use via
  * `graft.operators.TopK.ensureRegistered`, which appends the same strategy
  * to `spark.experimental.extraStrategies`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectPlannerStrategy(_ => TopKStrategy)
  }
}

/** Physical per-group top-k. `partial = true` runs on arbitrary input
  * partitioning (map-side prune); `partial = false` demands clustering on
  * the group key so each group's candidates meet in one partition. Both
  * phases run the identical bounded-heap pass — a row survives iff it is
  * within the k first rows of its group under `order` among the rows this
  * instance sees.
  */
case class TopKPerGroupExec(
    group: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(group))

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numGroups" -> SQLMetrics.createMetric(sparkContext, "number of groups"))

  protected override def doExecute(): RDD[InternalRow] = {
    val groupExprs = group
    val orderExprs = order
    val inputAttrs = child.output
    val limit = k
    val outRows = longMetric("numOutputRows")
    val nGroups = longMetric("numGroups")
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(groupExprs, inputAttrs)
      val ord = RowOrdering.create(orderExprs, inputAttrs)
      // JDK heap under the REVERSED ordering: head = the worst retained row
      // (the last of the current k in sort order) = the eviction candidate.
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      while (iter.hasNext) {
        val row = iter.next()
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null) {
          heap = new java.util.PriorityQueue[InternalRow](limit + 1, ord.reversed())
          heaps.put(key.copy(), heap) // iterator reuses both row and key buffers
        }
        if (heap.size < limit) {
          heap.add(row.copy())
        } else if (ord.compare(row, heap.peek()) < 0) {
          heap.poll()
          heap.add(row.copy())
        }
      }
      nGroups.add(heaps.size().toLong)
      val groups = heaps.values().iterator()
      new Iterator[InternalRow] {
        private var current: Array[InternalRow] = Array.empty
        private var i = 0
        override def hasNext: Boolean = {
          while (i >= current.length && groups.hasNext) {
            val h = groups.next()
            // drain worst-first, fill back-to-front → emitted in sort order
            val rows = new Array[InternalRow](h.size)
            var j = rows.length - 1
            while (j >= 0) { rows(j) = h.poll(); j -= 1 }
            current = rows
            i = 0
          }
          i < current.length
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = current(i); i += 1; outRows.add(1L); r
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)

  override def nodeName: String =
    if (partial) "TopKPerGroup(partial)" else "TopKPerGroup(final)"
}
