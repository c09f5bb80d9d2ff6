package org.apache.spark.sql

/** A session over `spark`'s context and shared state, built without
  * any session extension. Spark's public routes to a new session either
  * share the parent's extensions (`newSession`) or build a second
  * shared state, with its own listeners, on the running context; the
  * constructor that takes both is private, so it is called by
  * reflection. */
object TestSessions {
  def plain(spark: SparkSession): SparkSession = {
    val s = spark.asInstanceOf[classic.SparkSession]
    val make = classOf[classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    make.setAccessible(true)
    make.newInstance(s.sparkContext, Some(s.sharedState), None,
      new SparkSessionExtensions, Map.empty, Map.empty).asInstanceOf[SparkSession]
  }
}
