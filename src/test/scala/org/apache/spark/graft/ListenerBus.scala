package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private: a spec
  * that counts the jobs of a call must see every event of the call
  * before it reads the count.
  */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
