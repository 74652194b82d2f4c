package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Session cloning for isolated conf scopes.
  *
  * `cloneSession()` is `private[sql]` in Spark 4. Unlike `newSession()`, the
  * clone starts from the parent's SQLConf, temp views and registered
  * `QueryExecutionListener`s, so a query planned in it is still observed by
  * the parent's listeners.
  */
object SessionBridge {
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
}
