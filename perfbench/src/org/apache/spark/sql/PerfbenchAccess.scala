package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two package-private Spark handles the tracer needs, reachable only
  * from Spark's own package.
  */
object PerfbenchAccess {

  /** Wait until every posted listener event has been delivered, so a traced
    * pass is read only after its last job, stage and execution events.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Id of the QueryExecution an SQL execution ran (its end event carries
    * it on the driver), which joins the execution to the
    * QueryExecutionListener's callback.
    */
  def queryExecutionId(e: SparkListenerSQLExecutionEnd): Option[Long] = Option(e.qe).map(_.id)
}
