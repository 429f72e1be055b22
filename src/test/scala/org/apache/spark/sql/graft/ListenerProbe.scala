package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Class names of every listener registered on a session's SparkContext
  * and on its query-execution listener manager; both lists are private to
  * Spark. */
object ListenerProbe {
  def listenerClasses(spark: SparkSession): Seq[String] =
    (spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq).map(_.getClass.getName)
}
