package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, UnaryNode, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Rank-limit top-k as a whole custom operator — the full custom-plan
  * path (LogicalPlan + Rule + SparkStrategy + SparkPlan, prompt
  * preference (c)) for the ubiquitous
  *
  *   withColumn("rn", row_number().over(partitionBy(g).orderBy(o)))
  *     .filter($"rn" <= k)
  *
  * pattern. Spark 3.5+ already *truncates* each group to k rows before
  * the shuffle (InferWindowGroupLimit → WindowGroupLimitExec, which
  * this operator happily keeps below itself as a pre-filter), but the
  * final phase still SORTS every surviving row and runs the full
  * Window machinery. `TopKPerGroupExec` replaces that final
  * sort+Window with bounded k-row heaps per group: O(n log k), no sort
  * buffer, and the rank column comes out of the heap order directly.
  */
final case class TopKPerGroup(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: Attribute,
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  // rankAttr is produced here, not consumed from the child
  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

final case class TopKPerGroupExec(
    k: Int,
    partitionExprs: Seq[Expression],
    orderExprs: Seq[SortOrder],
    rankAttr: Attribute,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rankAttr

  override def producedAttributes: AttributeSet = AttributeSet(rankAttr)

  // each group's rows must be co-located; Catalyst inserts the exchange
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(partitionExprs) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    // localize everything the closure needs — referencing methods of
    // `this` inside mapPartitions would serialize the whole plan tree
    val childOutput = child.output
    val outAttrs = output
    val kLocal = k
    val parts = partitionExprs
    val order = orderExprs
    child.execute().mapPartitions { it =>
      val groupProj = UnsafeProjection.create(parts, childOutput)
      val ordering = RowOrdering.create(order, childOutput)
      // max-heap under `ordering`: head == worst kept row of the group
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      it.foreach { row =>
        val unsafe = row.asInstanceOf[UnsafeRow]
        val key = groupProj(unsafe)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[UnsafeRow](
              ordering.on[UnsafeRow](identity))
            heaps.put(key.copy(), h)
            h
        }
        if (heap.size < kLocal) heap += unsafe.copy()
        else if (ordering.compare(unsafe, heap.head) < 0) {
          heap.dequeue()
          heap += unsafe.copy()
        }
      }
      val toUnsafe = UnsafeProjection.create(outAttrs, outAttrs)
      heaps.valuesIterator.flatMap { heap =>
        val sorted = heap.dequeueAll.reverse // ascending under `ordering`
        sorted.iterator.zipWithIndex.map { case (row, i) =>
          toUnsafe(new JoinedRow(row, InternalRow(i + 1)))
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerGroupExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(k, parts, order, rank, child) =>
      TopKPerGroupExec(k, parts, order, rank, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: turn Filter(rn <= k) over a single-row_number Window
  * into TopKPerGroup. Fires only when the filter condition is exactly
  * one supported comparison on the rank attribute and the window
  * computes nothing else, so it can never change semantics of
  * unrelated windows.
  */
object RankLimitRule extends Rule[LogicalPlan] {

  private def limitFor(cond: Expression, rank: Attribute): Option[Int] = cond match {
    case EqualTo(a: Attribute, Literal(1, IntegerType)) if a.semanticEquals(rank) => Some(1)
    case LessThanOrEqual(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rank) && k > 0 => Some(k)
    case LessThan(a: Attribute, Literal(k: Int, IntegerType)) if a.semanticEquals(rank) && k > 1 => Some(k - 1)
    case GreaterThanOrEqual(Literal(k: Int, IntegerType), a: Attribute) if a.semanticEquals(rank) && k > 0 => Some(k)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(rankFn @ RowNumber(), _), _)),
          partitionSpec, orderSpec, child, _))
        if partitionSpec.nonEmpty && orderSpec.nonEmpty =>
      limitFor(cond, alias.toAttribute) match {
        case Some(k) =>
          // keep (or introduce) the map-side WindowGroupLimit
          // pre-truncation: Spark's InferWindowGroupLimit batch runs
          // before this user-provided rule and usually inserted it
          // already, but it skips a k above
          // spark.sql.optimizer.windowGroupLimitThreshold (1000 by
          // default) — wrap it ourselves then, so each map partition
          // still ships at most k rows per group to the shuffle
          val preTruncated = child match {
            case _: WindowGroupLimit => child
            case other => WindowGroupLimit(partitionSpec, orderSpec, rankFn, k, other)
          }
          TopKPerGroup(k, partitionSpec, orderSpec, alias.toAttribute, preTruncated)
        case None => f
      }
  }
}
