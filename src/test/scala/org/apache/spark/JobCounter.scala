package org.apache.spark

import java.util.UUID

/** Counts the Spark jobs a block starts. Lives in Spark's package because
  * the status store fills from the listener bus asynchronously: the count
  * is read only after `listenerBus.waitUntilEmpty()` has drained it. */
object JobCounter {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val group = s"job-counter-${UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    val out = try body finally sc.clearJobGroup()
    sc.listenerBus.waitUntilEmpty()
    (out, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  /** Returns once every event posted so far has reached the listeners. */
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
