package org.apache.spark

/** Listener-bus access for the benchmark's tracer: the bus delivers
  * events asynchronously, so a span's accounting is only complete once
  * every queue has drained. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
