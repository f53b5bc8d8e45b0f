package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Counts the streaming queries a block starts on one session: a
  * StreamingQueryListener on that session hears only its own queries.
  * Give the block its own session (`newSession()`) so suites running
  * alongside are not counted. Lives under `org.apache.spark` for the
  * listener bus's package-private drain, as [[ActionCount]] does. */
object QueryStarts {
  def apply(session: SparkSession)(body: => Unit): Int = {
    val bus = session.sparkContext.listenerBus
    val starts = new AtomicInteger
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        starts.incrementAndGet()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    bus.waitUntilEmpty()
    session.streams.addListener(listener)
    try {
      body
      bus.waitUntilEmpty()
      starts.get
    } finally session.streams.removeListener(listener)
  }
}
