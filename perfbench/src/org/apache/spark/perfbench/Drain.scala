package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's asynchronous listener bus has delivered every
  * event posted so far (the bus is Spark-internal, hence this package). */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
