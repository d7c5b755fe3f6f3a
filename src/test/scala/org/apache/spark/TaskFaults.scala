package org.apache.spark

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.shuffle.MetadataFetchFailedException

/** Fault injection for specs on a `local[N]` session, where a plain task
  * failure aborts the job (one attempt per task). A fetch failure is
  * different: the scheduler resubmits the failed stage, and its
  * unfinished tasks run again as attempts of a new stage attempt. The
  * exception types and the listener-bus drain are package-private to
  * Spark, hence this package.
  */
object TaskFaults {
  private val armed = new AtomicBoolean(false)

  /** Make the next [[failOnceOnShuffleRead]] call that passes `when`
    * fail its task.
    */
  def arm(): Unit = armed.set(true)

  /** True until an armed fault has fired. */
  def pending: Boolean = armed.get

  /** Inside a task that reads the newest shuffle: if a fault is armed
    * and `when` holds, disarm it and fail the task with a fetch failure
    * of that shuffle. Map outputs stay registered (no block manager is
    * named), so only the failed stage's unfinished tasks run again.
    */
  def failOnceOnShuffleRead(when: Boolean): Unit =
    if (when && armed.compareAndSet(true, false)) {
      val shuffleId = SparkEnv.get.mapOutputTracker
        .asInstanceOf[MapOutputTrackerMaster].shuffleStatuses.keys.max
      throw new MetadataFetchFailedException(shuffleId,
        TaskContext.get().partitionId(), "fault injected by TaskFaults")
    }

  /** Block until every event posted so far reached every listener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
