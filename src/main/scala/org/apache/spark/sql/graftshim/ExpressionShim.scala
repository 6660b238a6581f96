package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.storage.StorageLevel

/** Minimal bridge to the `private[sql]` Column↔Expression converters —
  * the supported way for a library to wrap its own native Catalyst
  * expressions as user-facing Columns on Spark 4's ColumnNode API.
  * [[DatasetShim]] below is the only other internal surface touched.
  */
object ExpressionShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the pieces a Dataset over a chosen plan needs: the
  * SQL-execution wrapper every action runs under, and the `LogicalRDD`
  * leaf constructor `Dataset.checkpoint` itself uses.
  */
object DatasetShim {

  /** Executes `df`'s physical plan once (one SQL execution, so listeners
    * and `Observation`s on `df` fire as for any action), persists the
    * rows MEMORY_AND_DISK, and returns a frame whose logical plan is a
    * `LogicalRDD` leaf over that persisted RDD. The RDD keeps its
    * lineage. If the evaluation throws, the partial blocks are released
    * before the exception propagates.
    */
  def persistedLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    SQLExecution.withNewExecutionId(ds.queryExecution, Some("truncate")) {
      val plan = ds.queryExecution.executedPlan
      plan.resetMetrics()
      val rdd = plan.execute().map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      try rdd.count() catch { case t: Throwable => rdd.unpersist(blocking = false); throw t }
      classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
    }
  }

  /** The persisted RDD under `df` when `df`'s plan is a leaf over one. */
  def persistedLeafRdd(df: DataFrame): Option[RDD[_]] = Some(df.queryExecution.analyzed)
    .collect { case lr: LogicalRDD if lr.rdd.getStorageLevel.isValid => lr.rdd }
}
