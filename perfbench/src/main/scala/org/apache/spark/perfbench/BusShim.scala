package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus barrier, which Spark keeps package-private. */
object BusShim {
  /** Block until every event posted so far has reached every listener:
    * job and task events, SQL execution ends (which feed query-execution
    * listeners) and streaming query progress all travel this bus. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
