package org.apache.spark

/** The two Spark internals the benchmark reads. Lives in Spark's package
  * because both are `private[spark]`.
  */
object PerfbenchAccess {

  /** Wait until the listener bus has delivered every event posted so far,
    * so counters read after an action include that action's task events.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of heap Spark's memory manager currently holds for cached
    * blocks (storage) and task buffers (execution).
    */
  def managedHeapUsed(): Long = {
    val mm = SparkEnv.get.memoryManager
    mm.onHeapStorageMemoryUsed + mm.onHeapExecutionMemoryUsed
  }
}
