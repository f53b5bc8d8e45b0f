package org.apache.spark.graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches from the calling thread. The
  * block runs under a fresh job group and only jobs of that group count,
  * so suites running concurrently on the shared session are not
  * counted. Lives under `org.apache.spark` for the listener bus's
  * package-private drain: the count is read only after every event of
  * the block has been delivered. */
object JobCount {
  def apply(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted block")
      try body finally sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
