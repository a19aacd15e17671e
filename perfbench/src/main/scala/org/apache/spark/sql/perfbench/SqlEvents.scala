package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an execution-end event carries, which ties a
  * QueryExecutionListener callback to the SQL execution id (and so to the
  * job group) that Spark's listener events use. */
object SqlEvents {
  def queryId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
