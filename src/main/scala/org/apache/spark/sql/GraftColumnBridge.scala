package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.LogicalRDD

/** Minimal bridge to the `private[sql]` Column ↔ Expression converters so
  * graft's native Catalyst expressions can surface as `Column`s under
  * Spark 4's Column-node API split. */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The engine's one lineage cut (≙ the reference's per-batch COMMIT): an
    * eager `localCheckpoint`, rebased onto fresh attribute ids. A bare
    * checkpoint keeps the source plan's ids, so mixing it with plans
    * re-derived from the same lineage mis-binds columns by id; rebuilding
    * from `chk.rdd` refreshes the ids but drops the checkpoint's
    * outputPartitioning and reads every row through an external-Row
    * conversion. `LogicalRDD.newInstance` refreshes the ids and carries the
    * partitioning and ordering over to them. */
  def cut(df: DataFrame): DataFrame = {
    val chk = df.localCheckpoint(true).asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(chk.sparkSession, chk.logicalPlan.asInstanceOf[LogicalRDD].newInstance())
  }
}
