package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark and streaming listeners registered by the benchmark: they
  * observe the execution layer underneath every workload without
  * touching program code. Counts accumulate from [[open]] until
  * [[close]]; [[close]] first drains the listener bus so no event of
  * the window is still in flight.
  */
final class SparkStats(spark: SparkSession, cores: Int) {
  import SparkStats.TaskRec
  private var windowStart = 0L
  private var windowEnd = 0L
  private val jobSpans = mutable.Map.empty[Int, (Long, Long)]
  private var jobs = 0
  private var stages = 0
  private var tasks = 0
  private var taskMs = 0L
  private var gcMs = 0L
  private var shuffleWrite = 0L
  private var shuffleRead = 0L
  private var spill = 0L
  private val taskRuns = mutable.ArrayBuffer.empty[TaskRec]
  private var batches = 0
  private var triggerMs = 0L
  private var addBatchMs = 0L
  private var recording = false

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkStats.this.synchronized {
      if (recording) { jobs += 1; jobSpans(e.jobId) = (e.time, Long.MaxValue) }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkStats.this.synchronized {
      jobSpans.get(e.jobId).foreach { case (s, _) => jobSpans(e.jobId) = (s, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkStats.this.synchronized {
      if (recording) stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = SparkStats.this.synchronized {
      val m = e.taskMetrics
      if (recording && m != null) {
        tasks += 1
        taskMs += m.executorRunTime
        gcMs += m.jvmGCTime
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        taskRuns += TaskRec((e.stageId, e.stageAttemptId), m.executorRunTime)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      SparkStats.this.synchronized {
        val d = e.progress.durationMs
        if (recording && d.containsKey("addBatch")) {
          batches += 1
          triggerMs += d.getOrDefault("triggerExecution", 0L)
          addBatchMs += d.get("addBatch")
        }
      }
  }

  spark.sparkContext.addSparkListener(listener)
  spark.streams.addListener(streamListener)

  def jobCount: Int = {
    drain()
    val n: Int = synchronized(jobs)
    n
  }

  private def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def open(): Unit = synchronized {
    recording = true
    windowStart = System.currentTimeMillis()
  }

  def close(): Unit = {
    val end = System.currentTimeMillis()
    drain()
    synchronized { recording = false; windowEnd = end }
  }

  /** The execution-layer metrics of the window, by per-layer name. */
  def metrics: Map[String, Double] = synchronized {
    val wallS = math.max(1L, windowEnd - windowStart) / 1e3
    val busy = jobSpans.values.toSeq
      .map { case (s, e) => (math.max(s, windowStart), math.min(e, windowEnd)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var reach = windowStart
    busy.foreach { case (s, e) =>
      if (e > reach) { covered += e - math.max(s, reach); reach = e }
    }
    val skew = taskRuns.groupBy(_.stage).values
      .filter(_.size >= 2)
      .map { ts =>
        val runs = ts.map(_.runMs.toDouble).sorted
        val med = runs(runs.size / 2)
        if (med > 0) runs.last / med else 1.0
      }
      .foldLeft(1.0)(math.max)
    Map(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.task_s" -> taskMs / 1e3,
      "spark.gc_s" -> gcMs / 1e3,
      "spark.busy_frac" -> (taskMs / 1e3) / (wallS * cores),
      "spark.driver_gap_s" -> (wallS - covered / 1e3),
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.task_skew" -> skew,
      "streaming.batches" -> batches.toDouble,
      "streaming.overhead_s" -> (triggerMs - addBatchMs) / 1e3)
  }

}

object SparkStats {
  private final case class TaskRec(stage: (Int, Int), runMs: Long)
}
