package org.apache.spark

/** Waits until Spark's listener bus has delivered every event posted so far.
  * The bus is package-private, so this lives in Spark's package; the
  * benchmark's tracer calls it at span boundaries so each listener event is
  * counted against the span that caused it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
