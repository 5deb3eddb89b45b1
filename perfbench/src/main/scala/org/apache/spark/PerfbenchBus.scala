package org.apache.spark

/** The listener bus delivers events asynchronously. The benchmark drains it
  * (untimed) before it reads its listeners' counters, so a cycle's last job
  * and query events are never missed. `waitUntilEmpty` is package-private,
  * hence this one-line bridge in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
