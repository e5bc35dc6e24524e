package org.apache.spark.sql.qbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Access to what Spark keeps package-private: the listener bus, which the
  * benchmark only waits on, and the query execution an SQL execution's end
  * event carries. */
object Shim {
  /** Wait until every queued listener event has been delivered, so counters
    * read after a call include all of that call's jobs and no later ones. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Analysis, optimization and planning nanoseconds of the execution that
    * ended, or None when the event carries no query execution. */
  def phases(e: SparkListenerSQLExecutionEnd): Option[(Long, Long, Long)] = Option(e.qe).map { qe =>
    val ph = qe.tracker.phases
    def ns(p: String): Long = ph.get(p).map(s => s.endTimeMs - s.startTimeMs).getOrElse(0L) * 1000000L
    (ns("analysis"), ns("optimization"), ns("planning"))
  }
}
