package org.apache.spark.graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counts the Dataset actions (collect, count, a write, ...) a block
  * runs on one session, failed ones included: a QueryExecutionListener
  * on that session hears every action, and only that session's. Give
  * the block its own session (`newSession()`) so suites running
  * alongside are not counted. Lives under `org.apache.spark` for the
  * listener bus's package-private drain: the count is read only after
  * every event of the block has been delivered, and events still
  * queued from before the block are delivered before it starts. */
object ActionCount {
  def apply(session: SparkSession)(body: => Unit): Int = executions(session)(body).size

  /** The query executions of the Dataset actions `body` runs on
    * `session`, in the order they finished. */
  def executions(session: SparkSession)(body: => Unit): Seq[QueryExecution] = {
    val bus = session.sparkContext.listenerBus
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        seen.add(qe)
    }
    bus.waitUntilEmpty()
    session.listenerManager.register(listener)
    try {
      body
      bus.waitUntilEmpty()
      seen.asScala.toSeq
    } finally session.listenerManager.unregister(listener)
  }
}
