package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.cdc.{ControlPlane, Initializer}
import graft.engine.model.Ccd
import graft.engine.topics.TopicStore

/** Thin decorators over the program's public CDC seams. Each one opens
  * a span around the call it forwards and counts calls; none changes
  * what is called or in which order. Span names are the per-layer
  * metric names without their `_s` suffix.
  */
object Traced {

  /** Moments shared between decorators of one assembly. */
  final class Clock {
    @volatile var runOnceAt = 0L
    @volatile var seedViewAt = 0L
  }

  /** Topic store: control and data topics are reported separately. The
    * read spans cover listing and relation resolution; the scan itself
    * runs in the caller's span, when the caller consumes the frame. */
  final class Topics(inner: TopicStore, t: Tracer, control: String, clock: Clock)
      extends TopicStore {
    private def layer(topic: String) = if (topic == control) "topics.control" else "topics.data"
    def exists(topic: String): Boolean = inner.exists(topic)
    def create(topic: String): Unit = inner.create(topic)
    def clear(topic: String): Unit = t.span("topics.clear")(inner.clear(topic))
    def delete(topic: String): Unit = inner.delete(topic)
    def append(topic: String, kv: DataFrame): Unit = {
      val now = System.nanoTime()
      // inside initialize(), the time from the seed view's return to the
      // data append is the view's count job
      if (topic != control && clock.seedViewAt > 0) {
        t.count("cdc.seed_count_s", (now - clock.seedViewAt) / 1e9)
        clock.seedViewAt = 0L
      }
      t.count(s"${layer(topic)}.append_calls")
      t.span(s"${layer(topic)}.append")(inner.append(topic, kv))
    }
    def readAll(topic: String): DataFrame = {
      t.count(s"${layer(topic)}.read_calls")
      t.span(s"${layer(topic)}.read")(inner.readAll(topic))
    }
    def readCompacted(topic: String): DataFrame = {
      t.count(s"${layer(topic)}.read_calls")
      t.span(s"${layer(topic)}.read")(inner.readCompacted(topic))
    }
    def readStream(topic: String): DataFrame = inner.readStream(topic)
  }

  /** Control plane (in memory or JDBC): every call is one plane call. */
  final class Plane(inner: ControlPlane, t: Tracer) extends ControlPlane {
    private def call[A](body: => A): A = { t.count("cdc.plane_calls"); t.span("cdc.plane")(body) }
    def triggerExists(table: String): Boolean = call(inner.triggerExists(table))
    def createTrigger(table: String, queue: String, queueTable: String): Unit =
      call(inner.createTrigger(table, queue, queueTable))
    def enableTrigger(table: String): Unit = call(inner.enableTrigger(table))
    def disableTrigger(table: String): Unit = call(inner.disableTrigger(table))
    def triggerEnabled(table: String): Boolean = call(inner.triggerEnabled(table))
    def queueExists(queue: String): Boolean = call(inner.queueExists(queue))
    def createQueue(queue: String, queueTable: String): Unit = call(inner.createQueue(queue, queueTable))
    def clearQueue(queue: String): Unit = call(inner.clearQueue(queue))
  }

  def seedView(inner: String => Option[DataFrame], t: Tracer, clock: Clock): String => Option[DataFrame] =
    table => {
      val v = t.span("cdc.seed_view")(inner(table))
      clock.seedViewAt = System.nanoTime()
      v
    }

  def release(inner: String => Unit, t: Tracer): String => Unit =
    table => t.span("cdc.release")(inner(table))

  /** Initializer with a span around each public step. The streaming
    * loop decodes each micro-batch first, so the first decode after a
    * drain starts marks the drain's first batch. */
  final class Init(spark: SparkSession, plane: ControlPlane, topics: TopicStore,
      controlTopic: String, seedView: String => Option[DataFrame],
      releaseSeed: String => Unit, t: Tracer, clock: Clock)
      extends Initializer(spark, plane, topics, controlTopic, seedView, releaseSeed) {
    override def backlog(): Seq[Ccd] = t.span("cdc.backlog")(super.backlog())
    override def decodeCcds(df: DataFrame): Seq[Ccd] = {
      if (clock.runOnceAt > 0) {
        t.count("streaming.start_s", (System.nanoTime() - clock.runOnceAt) / 1e9)
        clock.runOnceAt = 0L
      }
      t.span("cdc.decode")(super.decodeCcds(df))
    }
    override def currentStatus(table: String): Option[String] =
      t.span("cdc.recheck")(super.currentStatus(table))
    override def publishAll(ccds: Seq[Ccd]): Unit = t.span("cdc.publish")(super.publishAll(ccds))
    override def prepare(ccd: Ccd): Seq[Ccd] = t.span("cdc.prepare")(super.prepare(ccd))
    override def initialize(ccd: Ccd): Seq[Ccd] = t.span("cdc.initialize")(super.initialize(ccd))
  }
}
