package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Bridge into the `private[spark]` listener bus.  Listener events are
  * delivered asynchronously; a runner that reads a listener's tally
  * after an action first waits until every event posted so far has
  * been handed to every listener, instead of sleeping and hoping.
  */
object ListenerBridge {
  /** Block until the bus queues are empty (Spark's own 10 s bound; a
    * `TimeoutException` past it).
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
