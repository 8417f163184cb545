package org.apache.spark

/** The two engine internals the benchmark's tracer reads; they live in
  * this package because the listener bus is `private[spark]`.
  */
object SparkInternals {
  /** Waits until every event posted so far has reached the listeners.
    * Span boundaries call it so asynchronous listener events (jobs,
    * tasks, block updates) land on the span that caused them. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** RDD blocks the block managers hold now, and the storage memory in
    * use. Unlike `getRDDStorageInfo` this also sees blocks of RDDs the
    * driver no longer references (a cut whose frame went out of scope
    * but was never released). */
  def heldBlocks(sc: SparkContext): (Int, Long) = {
    val n = SparkEnv.get.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true).size
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    (n, used)
  }
}
