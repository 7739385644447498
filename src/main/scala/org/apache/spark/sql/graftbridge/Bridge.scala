package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** One-hop accessors to Spark internals, placed in the sql package tree
  * the standard way Spark extensions do. Spark 4 made `ExpressionUtils`
  * private[sql]; custom Catalyst expressions (SURVEY §4.2) need the
  * Column ⇄ Expression bridge. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Removes `rdd`'s cached blocks, asynchronously, through the
    * private[spark] `SparkContext.unpersistRDD` — what `RDD.unpersist`
    * calls, minus its WARN for a locally checkpointed RDD. */
  def unpersistRDD(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
