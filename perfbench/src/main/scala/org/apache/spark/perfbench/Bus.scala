package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lets the benchmark wait until Spark's listener bus has delivered every
  * event posted so far, so that the events of one operation can be read
  * before the next one starts. The bus is package-private to Spark. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
