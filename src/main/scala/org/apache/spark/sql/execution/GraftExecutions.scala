package org.apache.spark.sql.execution

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two facts about SQL executions that graft's observed counters
  * need ([[graft.Counters.observeInto]]). Spark keeps both
  * `private[sql]`; this object sits in Spark's package to read them.
  * It depends on Spark 4.1.x internals that any release may change:
  * `SparkListenerSQLExecutionEnd`'s `qe`, `executionName` and
  * `executionFailure`, and `SQLExecution.executionIdToQueryExecution`
  * (the running executions, added at start and removed after the end
  * event is posted). A Spark upgrade that fails to compile here, or
  * that stops `BasketSpec`'s observeInto tests recording, points here. */
object GraftExecutions {
  /** The plan a finished action ran, when it succeeded: the executions
    * a QueryExecutionListener's onSuccess sees. */
  def succeeded(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    if (e.executionName.isDefined && e.executionFailure.isEmpty) Option(e.qe)
    else None

  /** Whether an execution that started after `executionId` is running
    * the same plan. */
  def rerunning(executionId: Long, qe: QueryExecution): Boolean =
    SQLExecution.executionIdToQueryExecution.entrySet.stream
      .anyMatch(x => x.getKey > executionId && (x.getValue eq qe))
}
