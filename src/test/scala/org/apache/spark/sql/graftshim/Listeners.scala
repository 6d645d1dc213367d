package org.apache.spark.sql.graftshim

import org.apache.spark.sql.SparkSession

/** How many Spark, statement and streaming listeners `spark` has attached
  * (the first two lists are `private[spark]`): lets a spec check that a
  * capture detaches what it attached.
  */
object Listeners {
  def count(spark: SparkSession): (Int, Int, Int) = (
    spark.sparkContext.listenerBus.listeners.size,
    spark.listenerManager.listListeners().length,
    spark.streams.listListeners().length)
}
