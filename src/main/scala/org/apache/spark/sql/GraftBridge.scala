package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.storage.StorageLevel

/** Minimal bridge into Spark 4's package-private Column<->Expression
  * conversion (org.apache.spark.sql.classic.ExpressionUtils), needed to
  * register custom Catalyst expressions like graft.functions.VecDot as
  * Columns without a full FunctionRegistry extension. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Free the block-manager storage behind a `localCheckpoint()`'d frame.
    *
    * `Dataset.unpersist` routes through the CacheManager and only releases
    * entries registered by persist()/cache(); a local checkpoint persists
    * at the RDD level, so unpersist on the Dataset is a silent no-op and
    * the checkpointed blocks survive until driver GC + ContextCleaner get
    * around to them. Iterative algorithms that checkpoint per round (e.g.
    * connected components) need the eager release — this reaches the
    * LogicalRDD behind the checkpointed frame and frees its RDD's blocks
    * through the context (`RDD.unpersist` frees the same blocks but warns
    * once per call that the lineage is truncated). A frame with no
    * persisted RDD behind it is left as it is. */
  def unpersistLocalCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: execution.LogicalRDD if lr.rdd.getStorageLevel != StorageLevel.NONE =>
        lr.rdd.sparkContext.unpersistRDD(lr.rdd.id, blocking)
      case _ => ()
    }
}
