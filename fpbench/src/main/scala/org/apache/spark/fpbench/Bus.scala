package org.apache.spark.fpbench

import org.apache.spark.SparkContext

/** Lives in Spark's package only to reach the listener bus, whose drain
  * call is package-private: after each traced op the benchmark waits
  * until every listener has seen every event the op posted, instead of
  * sleeping and hoping. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
