package graft.engine.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

import graft.engine.cdc.Initializer
import graft.engine.model.{Ccd, Status}
import graft.engine.topics.TopicStore

/** Structured-Streaming control path (reference initializer.clj:88,
  * 98, 101-110): tail the control topic, decode, keep `submitted`
  * CCDs, and orchestrate each sequentially inside `foreachBatch` —
  * the micro-batch loop is the engine's work queue (the reference's
  * buffer-100 channel + single worker).
  *
  * The per-key status state machine is a `flatMapGroupsWithState`
  * (SURVEY §7.4): state = last seen status per CCD key; emitted rows
  * are the valid transitions, so replays/duplicates (at-least-once
  * topic appends) collapse idempotently — the same convergence
  * argument as the reference's log-compacted topic.
  */
object ControlStream {

  /** Decoded streaming view of a control topic. Carries the RAW value
    * through: downstream consumers that need full CCDs (processBatch)
    * decode once from it, instead of a lossy re-serialize round-trip
    * of the projected fields. */
  def ccdStream(store: TopicStore, topic: String): DataFrame =
    store.readStream(topic)
      .select(col("key"), col("offset"), col("value"),
        from_json(col("value"), Ccd.jsonSchema).as("c"))
      .select(col("key"), col("offset"), col("value"),
        col("c.table").as("table"), col("c.queue").as("queue"),
        col("c.`queue-table`").as("queue_table"),
        col("c.`table-alias`").as("table_alias"),
        col("c.status").as("status"), col("c.timestamp").as("status_ts"))

  /** New-submission filter (reference initializer.clj:88 —
    * `msgs->ccds-with-status :submitted`). */
  def submissions(store: TopicStore, topic: String): DataFrame =
    ccdStream(store, topic).filter(col("status") === Status.Submitted)

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

  /** Run the full streaming control loop over whatever is currently in
    * the topic (Trigger.AvailableNow — used by tests and by catch-up
    * runs; a live deployment uses the default processing-time
    * trigger). Submissions are processed sequentially per micro-batch,
    * mirroring the reference's single worker (initializer.clj:41-68).
    * Returns after the backlog drains. */
  def runSubmissions(
      store: TopicStore,
      controlTopic: String,
      init: Initializer,
      checkpoint: String): Unit =
    startSubmissionLoop(store, controlTopic, init, checkpoint,
      Trigger.AvailableNow()).awaitTermination()

  /** One micro-batch of the submission loop: decode the RAW message
    * values back to CCDs (one parse, no lossy re-serialize of the
    * projected columns) and orchestrate each sequentially in timestamp
    * order, ties in TOPIC-OFFSET order. The offset sort before decode
    * matters: collect order is partition order, not pinned, and the
    * stable timestamp sort alone would let two same-millisecond
    * submissions of the SAME key race on which lifecycle runs first —
    * the at-least-once recheck then drops the loser, so the surviving
    * config would be nondeterministic. Same-key messages share a topic
    * partition, so their offsets totally order them (the V2 admission
    * contract). A control batch is small, so it is ordered in ONE
    * partition: the same total order as a global sort, without the
    * range-sampling job and the exchange. */
  private[graft] def processBatch(init: Initializer)(batch: DataFrame): Unit = {
    val ccds = init.decodeCcds(
      batch.coalesce(1).sortWithinPartitions(col("offset")).select(col("key"), col("value")))
    ccds.sortBy(_.timestamp.getTime).foreach(init.process)
  }

  private def startSubmissionLoop(
      store: TopicStore,
      controlTopic: String,
      init: Initializer,
      checkpoint: String,
      trigger: Trigger): StreamingQuery = {
    val stream = submissions(store, controlTopic)
    // honor spark.graft.stateStore before start (provider is captured
    // per query at start time — see StateStores)
    StateStores.configure(stream.sparkSession)
    stream
      .writeStream
      .outputMode(OutputMode.Append)
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) => processBatch(init)(batch) }
      .start()
  }

  /** Live deployment form of [[runSubmissions]]: continuous
    * micro-batches on a processing-time cadence (the reference's
    * always-on submission loop). Returns the handle; callers own
    * stop()/awaitTermination(). */
  def runLive(
      store: TopicStore,
      controlTopic: String,
      init: Initializer,
      checkpoint: String,
      cadence: String = "5 seconds"): StreamingQuery =
    startSubmissionLoop(store, controlTopic, init, checkpoint,
      Trigger.ProcessingTime(cadence))

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
