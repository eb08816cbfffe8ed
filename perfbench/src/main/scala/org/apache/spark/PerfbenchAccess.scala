package org.apache.spark

/** Compile-checked access to the `private[spark]` listener-bus drain.
  *
  * The traced run waits for the bus after each query execution (outside the
  * timed section), so every job, stage, task, block and streaming-progress
  * event of one execution is delivered before the next execution starts.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
