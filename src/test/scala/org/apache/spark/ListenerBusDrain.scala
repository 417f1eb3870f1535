package org.apache.spark

/** Test shim: block until the listener bus has delivered every event posted
  * so far (`LiveListenerBus` is `private[spark]`), so a spec's listener has
  * seen all the stages of the jobs it just ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
