package org.apache.spark

/** The listener bus's own drain, which Spark keeps package-private: a
  * test that counts events waits on it instead of sleeping, so every
  * event its work caused has been delivered before it reads a counter.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
