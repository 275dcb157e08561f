package org.apache.spark.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface
import scala.reflect.ClassTag

/** Test access to the listeners registered on a context's bus (the bus is
  * private to Spark). */
object ListenerBusProbe {
  def listenersOf[T <: SparkListenerInterface : ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
