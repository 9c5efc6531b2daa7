package org.apache.spark

/** Test access to the listener bus, which Spark keeps package-private:
  * block until every event posted so far has reached the listeners, so a
  * counting listener is read only after the jobs it should have seen. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
