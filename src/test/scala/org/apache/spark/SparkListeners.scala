package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.SparkListenerInterface
import org.apache.spark.sql.SparkSession

/** Test access to the listeners attached to the session's listener bus,
  * which Spark keeps package-private. */
object SparkListeners {
  def of(spark: SparkSession): Seq[SparkListenerInterface] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
}
