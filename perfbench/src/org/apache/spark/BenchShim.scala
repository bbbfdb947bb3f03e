package org.apache.spark

/** The one package-private hook the benchmark needs: waiting for the
  * listener bus, so task and block events of a finished call are counted
  * before its span closes. */
object BenchShim {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
