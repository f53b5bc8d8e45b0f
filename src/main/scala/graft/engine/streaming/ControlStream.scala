package graft.engine.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.engine.cdc.Initializer
import graft.engine.model.Status
import graft.engine.sources.TopicSource
import graft.engine.topics.TopicStore

/** The control path (reference initializer.clj:88, 98, 101-110): drain
  * the control topic's pending submissions and orchestrate each
  * sequentially — the reference's buffer-100 channel and single worker.
  *
  * The submission loop is a Kafka-style consumer of the compacted
  * control topic (reference initializer.clj:27-39, 101-110): its
  * position is a per-partition offset map kept in the checkpoint
  * directory, and each drain ([[runSubmissions]]) runs on the driver.
  * It starts no streaming query: no offset or commit log, no
  * micro-batch planning, and on a control topic below the store's
  * driver-read bound no Spark action outside the lifecycles themselves.
  * [[runLive]] keeps a streaming query only as the signal that files
  * arrived; each of its micro-batches runs the same drain.
  *
  * The per-key status state machine [[transitions]] is a
  * `flatMapGroupsWithState` (SURVEY §7.4): state = last seen status per
  * CCD key; emitted rows are the valid transitions, so
  * replays/duplicates (at-least-once topic appends) collapse
  * idempotently — the same convergence argument as the reference's
  * log-compacted topic.
  */
object ControlStream {

  /** The live loop's arrival signal: the control topic's raw messages
    * (key, value, partition, offset, ts) through the connector's
    * micro-batch tail. [[runLive]] drains on each micro-batch and reads
    * none of its rows. */
  private[graft] def controlTail(store: TopicStore, topic: String): DataFrame =
    store.readStream(topic)

  case class KeyedStatus(key: String, offset: Long, status: String)
  case class Transition(key: String, from: String, to: String, offset: Long)

  /** Per-key status state machine: emits only genuine forward
    * transitions. State = (last status, max seen offset): the offset
    * guard makes at-least-once REDELIVERY of an older message a no-op
    * (comparing status alone would regress the machine and re-emit
    * spurious transitions on the next genuine message), and null
    * statuses (malformed values) are skipped rather than stored —
    * `state.update(null)` would kill the query and replay the poison
    * message forever from the checkpoint. NoTimeout because CCD
    * lifecycles are driven purely by arriving messages. */
  def transitions(updates: Dataset[KeyedStatus]): Dataset[Transition] = {
    import updates.sparkSession.implicits._
    updates
      .groupByKey(_.key)
      .flatMapGroupsWithState[(String, Long), Transition](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[KeyedStatus],
         state: GroupState[(String, Long)]) =>
          var (last, maxOff) = state.getOption.getOrElse(("", -1L))
          val out = rows.toSeq.sortBy(_.offset).flatMap { r =>
            if (r.status == null || r.offset <= maxOff) None
            else {
              maxOff = r.offset
              if (r.status != last) {
                val t = Transition(key,
                  if (last.isEmpty) null else last, r.status, r.offset)
                last = r.status
                Some(t)
              } else None
            }
          }
          state.update((last, maxOff))
          out.iterator
      }
  }

  /** Drain the control topic's pending submissions once, on the calling
    * thread, and return when their lifecycles are published (used by
    * `GraftSystem.runOnce`, tests and catch-up runs).
    *
    * The drain reads the compacted control topic
    * ([[TopicStore.readCompacted]]), keeps the messages above the
    * checkpoint's position ([[Initializer.after]]), hands them to
    * [[processBatch]], and only then advances the position past every
    * message it read. So it runs the LATEST message per key after the
    * position, the rule [[Initializer.backlog]] resumes by: when one
    * key is submitted twice between drains, the later spec runs.
    * Terminal states need no recheck: a key whose lifecycle was
    * published reads as that lifecycle's last state, not as
    * `submitted`. A drain that dies leaves the position where it was,
    * and the next drain re-reads what it had not published.
    *
    * The order holds because offsets become visible in offset order:
    * the store assigns a control append's offsets and renames its file
    * under one lock, as a Kafka high-watermark only exposes a complete
    * prefix. Compaction keeps offsets, so a compacted log is not new
    * input. Drains over one checkpoint directory run one at a time in
    * this JVM. A missing position file reads as "from the start",
    * which is what a checkpoint written by the former streaming tail
    * holds: every finished key then reads terminal, so nothing
    * re-runs. */
  def runSubmissions(
      store: TopicStore,
      controlTopic: String,
      init: Initializer,
      checkpoint: String): Unit = {
    val at = Paths.get(checkpoint).toAbsolutePath.normalize
    drainLocks.computeIfAbsent(at.toString, _ => new Object).synchronized {
      if (store.exists(controlTopic)) {
        val start = position(checkpoint)
        val (fresh, next) = Initializer.after(store.readCompacted(controlTopic), start)
        processBatch(init)(fresh)
        if (next != start) writePosition(at, next)
      }
    }
  }

  private val drainLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** The position file inside a checkpoint directory: per topic
    * partition, the highest offset a drain has consumed. */
  private val PositionFile = "position"

  /** A checkpoint's position ([[TopicSource.encodeBases]] form); empty
    * when no drain has finished there. */
  private[graft] def position(checkpoint: String): Map[Int, Long] = {
    val f = Paths.get(checkpoint, PositionFile)
    if (!Files.exists(f)) Map.empty
    else TopicSource.decodeBases(new String(Files.readAllBytes(f), UTF_8).trim)
  }

  /** Replace the position file atomically: a reader sees the old
    * position or the new one, never a torn file. */
  private def writePosition(checkpoint: Path, next: Map[Int, Long]): Unit = {
    Files.createDirectories(checkpoint)
    val tmp = Files.createTempFile(checkpoint, s".$PositionFile-", ".tmp")
    Files.write(tmp, TopicSource.encodeBases(next).getBytes(UTF_8))
    Files.move(tmp, checkpoint.resolve(PositionFile), StandardCopyOption.ATOMIC_MOVE)
  }

  /** One drain's pending messages: decode them once
    * ([[Initializer.decodeCcds]]: a driver `LocalRelation` is read with
    * no Spark action, then [[graft.engine.model.Ccd.fromJson]] per
    * value), keep the `submitted` ones (reference
    * initializer.clj:88, `msgs->ccds-with-status :submitted`) and
    * orchestrate each sequentially in timestamp order, ties in
    * TOPIC-OFFSET order, so same-millisecond submissions run in the
    * order they were appended whatever order the frame holds them in
    * (`decodeCcds` returns messages in offset order). Each lifecycle
    * runs without a recheck: the caller hands over its keys' latest
    * states. */
  private[graft] def processBatch(init: Initializer)(batch: DataFrame): Unit =
    init.decodeCcds(batch)
      .filter(_.status == Status.Submitted)
      .sortBy(_.timestamp.getTime)
      .foreach(init.process(_, recheck = false))

  /** Live deployment form of [[runSubmissions]]: a streaming query over
    * the control topic on a processing-time cadence (the reference's
    * always-on submission loop), whose micro-batches only signal that
    * control files arrived. Each runs the same drain over the same
    * position, ignoring the batch's rows; a batch that dies is not
    * committed, so the query replays it and the drain re-reads what it
    * had not published. Returns the handle; callers own
    * stop()/awaitTermination(). */
  def runLive(
      store: TopicStore,
      controlTopic: String,
      init: Initializer,
      checkpoint: String,
      cadence: String = "5 seconds"): StreamingQuery = {
    val stream = controlTail(store, controlTopic)
    // honor spark.graft.stateStore before start (provider is captured
    // per query at start time — see StateStores)
    StateStores.configure(stream.sparkSession)
    stream
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.ProcessingTime(cadence))
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (_: DataFrame, _: Long) =>
        runSubmissions(store, controlTopic, init, checkpoint) }
      .start()
  }

  /** Streaming windowed event counts with watermark — the live form of
    * StreamOps.streamTumbling (same expression tree under readStream). */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))

  /** Streaming exact dedup with watermarked state — the live form of
    * TextOps.dedupExact (state bounded by the watermark). */
  def streamingDedup(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("event_id"))
}
