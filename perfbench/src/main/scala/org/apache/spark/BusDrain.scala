package org.apache.spark

/** Waits until every listener queue of the context has delivered its
  * events. The benchmark runs operations one after another and drains the
  * bus after each, so every listener event seen before the drain returns
  * belongs to the operation that just finished. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
