package graft.plans

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Whole-operator custom plan (SURVEY.md §7.4 ladder level (c)): top-k
  * rows per key in a given sort order — the semantics of
  * `row_number() OVER (PARTITION BY key ORDER BY ...) <= k`, executed
  * WITHOUT sorting any partition:
  *
  *  - map side: one bounded k-heap per key per input partition (partial
  *    top-k, the aggregation-style combine a window function can't do);
  *  - one shuffle of only the surviving <= k*keys rows, hash-partitioned
  *    by key;
  *  - reduce side: merge heaps per key, emit.
  *
  * O(n log k) work and O(keys*k) shuffle bytes vs the window plan's full
  * per-partition sort O(n log n) and full-n shuffle — at 100 TB with
  * small k this is the difference between shuffling terabytes and
  * megabytes. Wired as LogicalPlan + Strategy (via
  * spark.experimental.extraStrategies) + UnaryExecNode. */
final case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0)
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val keyExprs = keys
    val sortOrders = order
    val limit = k
    val childOutput = child.output
    val numParts = conf.numShufflePartitions

    def partialTopK(rows: Iterator[InternalRow]): Iterator[(UnsafeRow, UnsafeRow)] = {
      val keyProj = UnsafeProjection.create(keyExprs, childOutput)
      val rowProj = UnsafeProjection.create(childOutput, childOutput)
      // ordering.compare(a, b) < 0 == a sorts before b. The heap dequeues
      // its maximum, i.e. the row sorting LAST of the kept k — the one a
      // better candidate evicts.
      val ordering = new LazilyGeneratedOrdering(sortOrders, childOutput)
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
      rows.foreach { r =>
        val key = keyProj(r)
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ordering)
            heaps.update(key.copy(), h)
            h
        }
        if (heap.size < limit) heap.enqueue(rowProj(r).copy())
        else if (ordering.compare(r, heap.head) < 0) {
          heap.dequeue()
          heap.enqueue(rowProj(r).copy())
        }
      }
      heaps.iterator.flatMap { case (key, heap) =>
        heap.iterator.map(row => (key, row.asInstanceOf[UnsafeRow]))
      }
    }

    val partial = child.execute().mapPartitions(partialTopK)
    val shuffled = partial.partitionBy(new HashPartitioner(numParts))
    shuffled.mapPartitions(it => partialTopK(it.map(_._2)).map(_._2))
  }
}

object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** DataFrame API for the custom operator. Installs the planner strategy
    * on the session (idempotent) and wraps the child plan. `order` must be
    * a TOTAL order per key (add a unique tiebreaker) for deterministic
    * results, same as deterministic row_number use. */
  def topKPerKey(df: DataFrame, keys: Seq[Column], order: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // synchronized: the check-then-append must be atomic now that bench
    // escalation can run two registered queries concurrently
    TopKPerKeyStrategy.synchronized {
      if (!spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ TopKPerKeyStrategy
      }
    }
    // spark.expression converts eagerly through the session's
    // ColumnNodeToExpressionConverter; ColumnBridge.expression would hand
    // back a lazy ColumnNodeExpression wrapper, which the analyzer leaves
    // untouched inside a custom node and which is not task-serializable
    val keyExprs = keys.map(spark.expression)
    val sortOrders = order.map { c =>
      spark.expression(c) match {
        case s: SortOrder => s
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    ColumnBridge.ofRows(spark,
      TopKPerKeyNode(keyExprs, sortOrders, k, ColumnBridge.logicalPlan(df)))
  }
}
