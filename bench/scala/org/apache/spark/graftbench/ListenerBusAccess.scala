package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the traced run waits
  * for it to drain at each phase boundary so that every job, stage and
  * task event of a phase is attributed before the next phase starts.
  * `waitUntilEmpty` is `private[spark]`, hence this package.
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
