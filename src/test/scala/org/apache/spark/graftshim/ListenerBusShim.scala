package org.apache.spark.graftshim

import org.apache.spark.SparkContext

/** Specs' access to the listener bus barrier, which Spark keeps
  * package-private: block until every event posted so far (job starts,
  * SQL execution ends) has reached every listener. */
object ListenerBusShim {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
