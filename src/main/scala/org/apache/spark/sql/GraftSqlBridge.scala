package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CreateStruct, Expression, GenericInternalRow, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge into `private[sql]` surface — the standard pattern for
  * Spark extension libraries that build custom logical plans (Column ↔
  * Expression conversion and Dataset-from-LogicalPlan construction have no
  * public equivalents in Spark 4's split API, and neither have a drain of
  * the `private[spark]` listener bus or the file index's hidden-path rule).
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Eager conversion: `ExpressionUtils.expression` returns a lazy
    * `ColumnNodeExpression` wrapper whose column node is not serializable —
    * fine inside the analyzer, fatal inside a physical plan's task closure.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** `cols` IN `keys` as one `InSet` node, whose plan does not grow with
    * the key count as `Column.isin`'s does. One column tests its value
    * (and pushes into a parquet scan); several test the struct of their
    * values. Each key holds one catalyst value per column.
    */
  def inSet(cols: Seq[Column], keys: Iterable[GenericInternalRow]): Column = {
    val values = keys.iterator.map(k => if (cols.size == 1) k.values(0) else k).toSet[Any]
    val child = cols.map(expression) match {
      case Seq(one) => one
      case many => CreateStruct(many)
    }
    column(InSet(child, values))
  }

  /** `origin`'s rows as checkpointed in `rdd`, wrapped as
    * `Dataset.localCheckpoint` wraps them, with `rows` counted rows as the
    * plan's statistics, so AQE can broadcast a small selection.
    */
  def ofCheckpoint(origin: DataFrame, rdd: RDD[InternalRow], rows: Long): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    val lr = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val stats = Statistics(EstimationUtils.getSizePerRow(lr.output) * rows, Some(rows))
    ofRows(ds.sparkSession, lr.copy()(ds.sparkSession, Some(stats), Some(lr.constraints)))
  }

  def logicalPlan(df: Dataset[_]): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** Block until the listener bus has delivered every posted event, so a
    * listener read right after an action sees its last job and stage.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Spark's rule for the file and directory names its file index skips
    * while listing a table (`_temporary`, `.hidden`, `*._COPYING_`, but
    * not `key=value` partition dirs), so a driver-side listing can count
    * exactly the files a scan reads.
    */
  def hiddenPathName(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)
}
