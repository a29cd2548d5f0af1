package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Bridge into the `private[sql]` active-session scope.  Work handed to
  * another thread runs with the session active there, so `SQLConf.get`
  * during analysis resolves that session's conf, not whichever session
  * the thread last saw.
  */
object SessionBridge {
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)
}
