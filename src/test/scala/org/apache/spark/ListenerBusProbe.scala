package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface

/** The listeners registered on a context's bus, which Spark keeps private. */
object ListenerBusProbe {
  def listeners(sc: SparkContext): Seq[SparkListenerInterface] =
    sc.listenerBus.listeners.asScala.toSeq
}
