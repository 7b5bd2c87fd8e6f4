package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** `TopKPerKey(keys, order, k)` — keep the top-k rows of each key group.
  *
  * The DataFrame idiom (`row_number().over(Window.partitionBy(keys)
  * .orderBy(order)) <= k`) shuffles on the keys and then SORTS every row
  * of every group before discarding all but k — at N rows per hot key
  * that is N·log N work and N rows of sort buffer for k survivors. This
  * operator keeps the same clustered shuffle but replaces the sort with
  * one bounded k-heap per key: O(N·log k) time, O(keys·k) memory, no
  * spill pressure from doomed rows.
  *
  * Logical node + planner strategy (injected by graft.GraftExtensions);
  * rows within a group come back in arbitrary order — callers that want
  * ranks sort the ≤ keys·k survivors, which is the cheap part.
  */
case class TopKPerKeyPlan(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyPlan =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  /** The PARTIAL pass runs below the exchange (map-side, like a partial
    * aggregate): each map task keeps its own bounded heaps and ships at
    * most (keys-in-task × k) rows into the shuffle instead of every
    * candidate row — top-k is mergeable, so the final clustered pass
    * re-selects the identical survivors. Per-task state is bounded by
    * [[TopKPerKeyExec.FlushRowsConf]]: past the budget the current heaps
    * flush downstream and restart (emitting extra candidates is always
    * safe — the final pass filters). */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val keysLocal = keys
    val orderLocal = order
    val schema = child.output
    val kLocal = k
    val flushRows: Long =
      if (partial)
        conf.getConfString(TopKPerKeyExec.FlushRowsConf, "1048576").toLong
      else Long.MaxValue
    // a budget of 0 would never admit a row, so fill() would spin forever
    require(flushRows > 0,
      s"${TopKPerKeyExec.FlushRowsConf} must be positive, got $flushRows")
    child.execute().mapPartitionsInternal { it =>
      val keyProj = UnsafeProjection.create(keysLocal, schema)
      // "largest" under this ordering = the WORST kept row → heap head
      val rowOrd = new LazilyGeneratedOrdering(orderLocal, schema)
      val cmp = new java.util.Comparator[UnsafeRow] {
        // reversed: priority queue head = max = worst-ranked row
        def compare(a: UnsafeRow, b: UnsafeRow): Int = rowOrd.compare(b, a)
      }
      new scala.collection.AbstractIterator[InternalRow] {
        private val heaps =
          new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[UnsafeRow]]()
        private var entries = 0L
        private var out: java.util.Iterator[UnsafeRow] =
          java.util.Collections.emptyIterator()

        private def drain(): Unit = {
          val buf = new java.util.ArrayList[UnsafeRow](
            math.max(16, math.min(entries, Int.MaxValue / 2L).toInt))
          val hs = heaps.values().iterator()
          while (hs.hasNext) {
            val h = hs.next().iterator()
            while (h.hasNext) buf.add(h.next())
          }
          heaps.clear()
          entries = 0L
          out = buf.iterator()
        }

        private def fill(): Unit = {
          while (!out.hasNext && (it.hasNext || entries > 0)) {
            while (it.hasNext && entries < flushRows) {
              val row = it.next()
              val key = keyProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                heap = new java.util.PriorityQueue[UnsafeRow](kLocal + 1, cmp)
                heaps.put(key.copy(), heap)
              }
              if (heap.size < kLocal) {
                heap.add(row.asInstanceOf[UnsafeRow].copy())
                entries += 1
              } else if (rowOrd.compare(row, heap.peek()) < 0) {
                heap.poll()
                heap.add(row.asInstanceOf[UnsafeRow].copy())
              }
            }
            drain()
          }
        }

        override def hasNext: Boolean = { fill(); out.hasNext }
        override def next(): InternalRow = { fill(); out.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

object TopKPerKeyExec {
  /** Per-map-task heap-entry budget of the partial pass (rows held at
    * once; UnsafeRow copies, so the byte bound is rows × row width).
    * Flushing early never changes results — the final pass re-selects. */
  val FlushRowsConf = "spark.graft.topKPartialFlushRows"
}

/** Planner strategy mapping the logical node to partial + final exec
  * nodes (the partial-aggregate shape, r22 / VERDICT r20 #2): the
  * partial pass bounds what crosses the exchange to keys×k rows per map
  * task, so per-key candidate volume divides with map parallelism
  * instead of concentrating on the reduce side. */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyPlan(keys, order, k, child) =>
      TopKPerKeyExec(keys, order, k,
        TopKPerKeyExec(keys, order, k, planLater(child), partial = true)) :: Nil
    case _ => Nil
  }
}

/** Public constructor (lives here because Dataset.ofRows is private[sql]). */
object TopKPerKey {
  def apply(df: org.apache.spark.sql.DataFrame,
            keys: Seq[org.apache.spark.sql.Column],
            order: Seq[org.apache.spark.sql.Column],
            k: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // self-heal sessions built without GraftExtensions: without a strategy
    // for the node the planner would throw, so register through the public
    // experimental hook (idempotent; harmless next to the injected copy)
    if (!spark.sessionState.planner.strategies.contains(TopKPerKeyStrategy) &&
        !spark.experimental.extraStrategies.contains(TopKPerKeyStrategy)) {
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKPerKeyStrategy
    }
    // session.expression converts Column nodes into real catalyst
    // expressions (GraftBridge's lazy wrapper is only resolved by the
    // Dataset layer, which this custom node bypasses)
    val keyExprs = keys.map(spark.expression)
    val sortExprs = order.map { c =>
      spark.expression(c) match {
        case so: SortOrder => so
        case e => SortOrder(e, org.apache.spark.sql.catalyst.expressions.Ascending)
      }
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark, TopKPerKeyPlan(keyExprs, sortExprs, k, df.queryExecution.analyzed))
  }
}
