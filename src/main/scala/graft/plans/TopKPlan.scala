package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute,
  AttributeReference, AttributeSet, GenericInternalRow, JoinedRow,
  RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

/** TOP-K PER GROUP as a first-class engine operator.
  *
  * The built-in spelling — `row_number() OVER (PARTITION BY g ORDER BY
  * o) <= k` — shuffles EVERY row to its group's partition and fully
  * sorts each group, only to discard all but k rows. This operator
  * plans the aggregation-style two-phase shape instead: a PARTIAL pass
  * keeps a k-bounded heap per group per input partition (so at most
  * `partitions × groups × k` rows cross the wire — the map-side
  * combine of top-k), then the post-shuffle FINAL pass merges heaps
  * and emits each group's k rows with their rank. No full sort of
  * anything, memory bounded by k per group like partial aggregation.
  *
  * The caller's ordering must be TOTAL (include a tie-break column):
  * heaps keep "the k best" and a nondeterministic tie would make the
  * kth row partition-layout-dependent.
  */
final case class TopKPerGroup(child: LogicalPlan,
                              groupKeys: Seq[Attribute],
                              order: Seq[SortOrder],
                              k: Int,
                              rankAttr: Attribute)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def references: AttributeSet =
    AttributeSet(groupKeys) ++ AttributeSet(order.flatMap(_.references))
  override protected def withNewChildInternal(
      newChild: LogicalPlan): TopKPerGroup = copy(child = newChild)
}

/** User-facing entry: `TopK.perGroup(df, groupCols, orderBy, k)` —
  * the rows `row_number() <= k` would keep, plus a `rank` column,
  * computed by the two-phase heap operator. `orderBy` pairs are
  * (column, descending?). */
object TopK {
  def perGroup(df: org.apache.spark.sql.DataFrame,
               groupCols: Seq[String],
               orderBy: Seq[(String, Boolean)],
               k: Int,
               rankName: String = "rank")
      : org.apache.spark.sql.DataFrame = {
    require(k > 0, s"top-k needs k > 0, got $k")
    val lp = df.queryExecution.analyzed
    val resolve =
      org.apache.spark.sql.GraftPlanBridge.resolver(df.sparkSession)
    def attr(n: String): Attribute =
      lp.output.filter(a => resolve(a.name, n)) match {
        case Seq(a) => a
        case Seq() =>
          sys.error(s"top-k: no column '$n' in ${lp.output.map(_.name)}")
        case many => // match Spark's own AMBIGUOUS_REFERENCE behavior
          sys.error(s"top-k: ambiguous column '$n' (${many.size} matches)")
      }
    val order = orderBy.map { case (n, desc) =>
      SortOrder(attr(n),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    org.apache.spark.sql.GraftPlanBridge.ofRows(df.sparkSession,
      TopKPerGroup(lp, groupCols.map(attr), order, k,
        AttributeReference(rankName, LongType, nullable = false)()))
  }
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(child, keys, order, k, rankAttr) =>
      TopKFinalExec(
        TopKPartialExec(planLater(child), keys, order, k),
        keys, order, k, rankAttr) :: Nil
    case _ => Nil
  }
}

/** Shared k-bounded heap pass: for each input partition, retain per
  * group the k best rows under `order`. */
private[plans] object TopKHeaps {
  def retain(iter: Iterator[InternalRow],
             output: Seq[Attribute],
             groupKeys: Seq[Attribute],
             order: Seq[SortOrder],
             k: Int)
      : Iterator[(UnsafeRow, Array[InternalRow])] = {
    val ord = RowOrdering.create(order, output)
    val keyProj = UnsafeProjection.create(groupKeys, output)
    // max-heap under `ord`: head = the WORST retained row
    val heaps = scala.collection.mutable.LinkedHashMap
      .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
    iter.foreach { row =>
      val key = keyProj(row)
      heaps.get(key) match {
        case None =>
          val pq =
            new scala.collection.mutable.PriorityQueue[InternalRow]()(ord)
          pq.enqueue(row.copy())
          heaps.put(key.copy(), pq)
        case Some(pq) =>
          if (pq.size < k) pq.enqueue(row.copy())
          else if (ord.compare(row, pq.head) < 0) {
            pq.dequeue(); pq.enqueue(row.copy())
          }
      }
    }
    heaps.iterator.map { case (key, pq) => (key, pq.toArray) }
  }
}

/** Pre-shuffle pass: no distribution requirement; emits the retained
  * rows unranked (at most groups × k per partition). */
final case class TopKPartialExec(child: SparkPlan,
                                 groupKeys: Seq[Attribute],
                                 order: Seq[SortOrder],
                                 k: Int)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(UnspecifiedDistribution)

  override protected def doExecute(): RDD[InternalRow] = {
    val out = output
    val keys = groupKeys
    val ord = order
    val kk = k
    child.execute().mapPartitions { iter =>
      TopKHeaps.retain(iter, out, keys, ord, kk).flatMap(_._2)
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKPartialExec = copy(child = newChild)
}

/** Post-shuffle pass: demands clustering on the group keys (the ONLY
  * exchange in the plan, fed by the partial pass's ≤ groups × k rows
  * per upstream partition), merges the per-group survivors, sorts each
  * group's k rows (a k-element sort, never a partition sort), and
  * appends the 1-based rank. */
final case class TopKFinalExec(child: SparkPlan,
                               groupKeys: Seq[Attribute],
                               order: Seq[SortOrder],
                               k: Int,
                               rankAttr: Attribute)
    extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output :+ rankAttr
  override def outputPartitioning: Partitioning = child.outputPartitioning
  /** Empty keys = GLOBAL top-k: everything must land in one partition
    * (AllTuples) — ClusteredDistribution rejects Nil clustering. The
    * partial pass still bounds what that single partition receives. */
  override def requiredChildDistribution: Seq[Distribution] =
    if (groupKeys.isEmpty)
      Seq(org.apache.spark.sql.catalyst.plans.physical.AllTuples)
    else Seq(ClusteredDistribution(groupKeys))

  override protected def doExecute(): RDD[InternalRow] = {
    val childOut = child.output
    val outputAttrs = output
    val keys = groupKeys
    val ord = order
    val kk = k
    child.execute().mapPartitions { iter =>
      val rowOrd = RowOrdering.create(ord, childOut)
      val outProj = UnsafeProjection.create(outputAttrs, outputAttrs)
      val joined = new JoinedRow
      TopKHeaps.retain(iter, childOut, keys, ord, kk).flatMap {
        case (_, rows) =>
          scala.util.Sorting.stableSort(rows,
            (a: InternalRow, b: InternalRow) => rowOrd.compare(a, b) < 0)
          rows.iterator.zipWithIndex.map { case (row, i) =>
            outProj(joined(row,
              new GenericInternalRow(Array[Any]((i + 1).toLong))))
          }
      }
    }
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): TopKFinalExec = copy(child = newChild)
}
