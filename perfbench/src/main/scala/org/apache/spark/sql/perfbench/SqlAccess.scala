package org.apache.spark.sql.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to `private[sql]` state the benchmark reads. */
object SqlAccess {
  /** The query execution an execution-end event carries, so the listener
    * reads planning time and the executed plan of the very execution whose
    * jobs it attributed.
    */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  /** Datasets registered in the session's cache. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
      .numCachedEntries
}
