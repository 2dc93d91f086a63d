package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` only to reach the context's listener bus:
  * listener events are delivered asynchronously, so a pass's counters are
  * read only after every event posted so far has been handled. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
