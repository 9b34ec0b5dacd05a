package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.util.ShutdownHookManager

/** Test-scope bridge into Spark's priority-ordered shutdown-hook manager
  * (`private[spark]`): the shared test session must stop BEFORE
  * SparkContext's own shutdown hook (priority
  * `SPARK_CONTEXT_SHUTDOWN_PRIORITY`) so streams are drained and the
  * scheduler quiesced deterministically — sbt's `Tests.Cleanup` does not
  * run inside a forked test JVM (verified r20), so JVM-exit time with a
  * higher priority is the only in-fork "after all suites" point. */
object TestHooks {
  /** Priority of SparkContext's own stop hook; ours must be higher. */
  def sparkContextPriority: Int =
    ShutdownHookManager.SPARK_CONTEXT_SHUTDOWN_PRIORITY

  def addPriorityHook(priority: Int)(f: () => Unit): AnyRef =
    ShutdownHookManager.addShutdownHook(priority)(f)

  /** Block until every event posted so far has reached every listener
    * (`LiveListenerBus` is `private[spark]`), so listener counts read
    * afterwards are complete. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
