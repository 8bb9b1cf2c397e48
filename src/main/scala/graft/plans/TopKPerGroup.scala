package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** Top-k-per-group pre-aggregation (SURVEY §2c.24, the custom
  * `LogicalPlan` + `Strategy` + `SparkPlan` ladder rung): at most k rows
  * per group per partition, a superset of the answer.
  *
  * It is the map-side half of `row_number() <= k`. Each input partition
  * streams through one k-row heap per group (no sort, O(n log k)), so the
  * window above it only shuffles and sorts the survivors. That window is
  * Spark's own sort-based, spilling `Window` (with the `WindowGroupLimit`
  * Spark's InferWindowGroupLimit puts under it), and it makes the final
  * merge exact: [[TopKRewrite]] inserts this node under a matching window
  * and [[TopK.perGroup]] builds the same shape. On its own the node is not
  * the answer.
  *
  * A task buffers at most [[TopKPerGroupExec.BudgetBytes]] of copied row
  * and key bytes before it flushes (see [[TopKPerGroupExec.pass]]). Group keys compare as bytes, so -0.0/0.0 or
  * NaN bit patterns may fill separate heaps; that only emits more rows,
  * which the window, whose keys Spark normalizes, merges into one group.
  */
final case class TopKPerGroup(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): TopKPerGroup =
    copy(child = c)
}

final case class TopKPerGroupExec(
    groupExprs: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val run = TopKPerGroupExec.pass(groupExprs, order, k, child.output) _
    child.execute().mapPartitions(run(_, TopKPerGroupExec.BudgetBytes),
      preservesPartitioning = true)
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKPerGroupExec =
    copy(child = c)
}

object TopKPerGroupExec {

  /** Bytes of copied rows and keys one task buffers before it flushes. */
  val BudgetBytes: Long = 16L << 20

  /** The per-partition pass: at most k rows per group of `rows`, the best
    * under `order`. Whenever the buffered copies pass `budget` bytes it
    * emits every heap and starts over, so a group may appear once per
    * flush. A flush that kept more than half of the rows it read shows
    * that this partition's groups are too many to reduce, so the rest of
    * the partition passes through unbuffered.
    */
  def pass(groupExprs: Seq[Expression], order: Seq[SortOrder], k: Int,
           output: Seq[Attribute])(
           rows: Iterator[InternalRow], budget: Long): Iterator[InternalRow] = {
    val keyProj = UnsafeProjection.create(groupExprs, output)
    // max-heap under the sort order: head = worst kept row
    val ordering = RowOrdering.create(order, output)
    // LinkedHashMap: at 10^5 groups per task Scala's HashMap made the pass
    // about 1.8x slower
    val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.PriorityQueue[InternalRow]]
    var passThrough = false

    def fill(): Iterator[InternalRow] = {
      heaps.clear()
      var buffered = 0L
      var read = 0L
      var kept = 0L
      def keep(heap: mutable.PriorityQueue[InternalRow], row: UnsafeRow): Unit = {
        val c = row.copy()
        heap.enqueue(c)
        buffered += c.getSizeInBytes
      }
      while (buffered <= budget && rows.hasNext) {
        // physical operators emit UnsafeRows (Sort and Exchange cast alike)
        val row = rows.next().asInstanceOf[UnsafeRow]
        read += 1
        val key = keyProj(row)
        // the projection reuses its key row: copy it only on a new group
        val heap = heaps.get(key) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty[InternalRow](ordering)
            val kc = key.copy()
            heaps.put(kc, h)
            buffered += kc.getSizeInBytes
            h
        }
        if (heap.size < k) { keep(heap, row); kept += 1 }
        else if (ordering.compare(row, heap.head) < 0) {
          buffered -= heap.dequeue().asInstanceOf[UnsafeRow].getSizeInBytes
          keep(heap, row)
        }
      }
      if (rows.hasNext && kept * 2 > read) passThrough = true
      heaps.valuesIterator.flatMap(_.iterator)
    }

    new Iterator[InternalRow] {
      private var out: Iterator[InternalRow] = Iterator.empty
      def hasNext: Boolean = {
        if (!out.hasNext && rows.hasNext) out = if (passThrough) rows else fill()
        out.hasNext
      }
      def next(): InternalRow = if (hasNext) out.next() else Iterator.empty.next()
    }
  }
}

/** Plans [[TopKPerGroup]] as its one per-partition exec; the window above
  * brings the exchange and the final merge.
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, k, child) =>
      TopKPerGroupExec(g, o, k, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Public API: `TopK.perGroup(df, groupCols, orderCols, k)`. Registers the
  * strategy on the DataFrame's session (idempotent) and builds the shape
  * [[TopKRewrite]] produces: `row_number() <= k` over the partial node.
  */
object TopK {

  /** The rank column of the window idiom, dropped from the result. */
  private val RankCol = "__graft_topk_rn"

  def perGroup(df: DataFrame, groupCols: Seq[Column], orderCols: Seq[Column], k: Int): DataFrame = {
    require(!df.columns.contains(RankCol), s"$RankCol is reserved")
    val spark = df.sparkSession
    if (!spark.experimental.extraStrategies.contains(TopKStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ TopKStrategy
    val g = groupCols.map(GraftSqlBridge.expression)
    val o = orderCols.map(GraftSqlBridge.expression).map {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    }
    val w = Window.partitionBy(groupCols: _*).orderBy(orderCols: _*)
    GraftSqlBridge.ofRows(spark, TopKPerGroup(g, o, k, GraftSqlBridge.logicalPlan(df)))
      .withColumn(RankCol, row_number().over(w))
      .filter(col(RankCol) <= k)
      .drop(RankCol)
  }
}
