package graft.engine

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.cdc.{ControlPlane, InMemoryControlPlane, Initializer, SeedViews}
import graft.engine.model.{Ccd, Status}
import graft.engine.streaming.ControlStream
import graft.engine.topics.{FileTopicStore, TopicStore}

/** Component assembly + lifecycle — the engine port of the reference's
  * system map (system.clj:15-25, initializer.clj:73-130, main.clj:42-45):
  * topic store, control plane, and initializer wired by constructor
  * injection; `start()` performs the reference's startup sequence
  * (ensure control topic → drain backlog) and `runOnce()` drains any
  * new submissions from the control topic by offset; `stop()` releases the
  * session-independent state. Swap [[plane]]/[[topics]] for real
  * implementations (JDBC catalog, Kafka) without touching the dataflow.
  */
class GraftSystem(
    val spark: SparkSession,
    val root: String,
    val controlTopic: String = "cdc-control",
    val seedView: String => Option[DataFrame] = _ => None,
    val plane: ControlPlane = new InMemoryControlPlane(),
    /** topic partitions for the data path — the reference configures 1
      * (topic_store.clj:13-16); >1 spreads seed appends and compaction
      * across keys, the 100 TB layout (each key still lives in exactly
      * one partition, so per-key ordering is unaffected). */
    val topicPartitions: Int = 1,
    /** when set, busy keyed topics self-compact at this dirty ratio
      * (Kafka's `min.cleanable.dirty.ratio`, default off ↔ manual
      * `compact()`). */
    val dirtyRatio: Option[Double] = None,
    /** Post-seed cleanup hook threaded to the [[Initializer]] — wire
      * [[graft.engine.cdc.JdbcSeedSource]]'s release here when
      * [[seedView]] serves live-database views (the reference's
      * finally-drop of the server-side seed view, seed_store.clj);
      * parquet test views need no release, hence the no-op default. */
    val releaseSeed: String => Unit = _ => ()) {

  // the CONTROL topic is exempt from auto-compaction for cost alone: the
  // policy would run a stats job before every control publish. Compacting
  // it is safe (the submission drain is offset-addressed, and compaction
  // keeps offsets); FileTopicStore.compact is the maintenance call
  val topics: TopicStore =
    new FileTopicStore(spark, root, numPartitions = topicPartitions,
      dirtyRatio = dirtyRatio, dirtyRatioExempt = Set(controlTopic))

  val initializer: Initializer =
    new Initializer(spark, plane, topics, controlTopic, seedView, releaseSeed)

  // durable per-root checkpoint: it holds the submission drain's
  // per-partition position, so a restarted system resumes past the
  // submissions it processed instead of rereading the whole control
  // topic (the reference resets its consumer offset past the backlog
  // scan, initializer.clj:27-39), and runLive's stream checkpoint
  private val checkpointDir = {
    val d = java.nio.file.Paths.get(root, "__checkpoint")
    Files.createDirectories(d)
    d.toString
  }

  /** Submit a new capture definition (reference README "submitting a
    * new table": a `submitted` CCD published to the control topic). */
  def submit(table: String, queue: String, queueTable: String,
      tableAlias: Option[String] = None): Unit = {
    if (!topics.exists(controlTopic)) topics.create(controlTopic)
    initializer.publish(Ccd(table, queue, queueTable, tableAlias,
      Status.Submitted, new Timestamp(System.currentTimeMillis())))
  }

  /** Startup (reference initializer.clj:84-98): ensure the control
    * topic exists, then resume every non-terminal CCD from the
    * compacted backlog in timestamp order. Returns the emitted states
    * per resumed CCD. */
  def start(): Seq[(Ccd, Seq[Ccd])] = initializer.runBacklog()

  /** Drain the currently-pending submissions on the calling thread and
    * return once their lifecycles are published (the reference's
    * submission loop, initializer.clj:101-110): the latest message per
    * key above the checkpointed per-partition position, with no
    * streaming query (see [[ControlStream.runSubmissions]]). */
  def runOnce(): Unit =
    ControlStream.runSubmissions(topics, controlTopic, initializer, checkpointDir)

  /** Always-on submission loop: a processing-time streaming query whose
    * micro-batches run the same drain as [[runOnce]] over the same
    * position (see [[ControlStream.runLive]]); caller owns the returned
    * handle's stop()/awaitTermination(). */
  def runLive(cadence: String = "5 seconds"): org.apache.spark.sql.streaming.StreamingQuery =
    ControlStream.runLive(topics, controlTopic, initializer, checkpointDir, cadence)

  /** Current compacted control state (one row per CCD key); ensures
    * the topic exists first (a fresh system has no state, not an
    * unreadable path). */
  def controlState(): DataFrame = {
    if (!topics.exists(controlTopic)) topics.create(controlTopic)
    topics.readCompacted(controlTopic)
  }

  def stop(): Unit = () // file-backed components hold no daemon state

  /** Convenience: a system whose seed views come from the driver's
    * parquet testdata tables with their natural keys. */
  def this(spark: SparkSession, root: String, sfDir: String, pk: Map[String, Seq[String]]) =
    this(spark, root, "cdc-control",
      (table: String) => {
        val name = table.split('.').last
        pk.get(name).map(keys => SeedViews.forTable(
          spark.read.parquet(s"$sfDir/$name.parquet"), table, keys))
      })
}
