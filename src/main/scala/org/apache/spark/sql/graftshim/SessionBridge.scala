package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Spark 4 made `Dataset.ofRows` `private[sql]`
  * (org.apache.spark.sql.classic.Dataset). It is the one way to put an
  * existing logical plan on another session without copying its rows, so
  * this subpackage re-exports it next to [[ColumnBridge]].
  */
object SessionBridge {
  /** `df`'s logical plan as a frame of `session`. */
  def rebind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession], df.queryExecution.logical)
}
