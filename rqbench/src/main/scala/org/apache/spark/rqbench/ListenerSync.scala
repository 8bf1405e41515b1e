package org.apache.spark.rqbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced op waits for
  * every event its jobs posted before it reads the spans they produced.
  * Lives in Spark's package because the bus is `private[spark]`. */
object ListenerSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
