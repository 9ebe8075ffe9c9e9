package org.apache.spark

/** Access to the one package-private Spark hook the benchmark needs: the
  * listener bus delivers events asynchronously, so per-iteration counts are
  * read only after it has drained. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
