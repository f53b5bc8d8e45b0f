package graft.engine.cdc

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.model.{Ccd, Status}
import graft.engine.topics.TopicStore

/** Batch CCD orchestration — the engine port of the reference's
  * control path (core.clj:78-182, initializer.clj:27-68):
  * validate → prepare (ensure trigger, queue, topic; emit per-creation
  * statuses) → initialize (enable trigger, snapshot-seed the topic,
  * 2%-sampled progress, activate; compensating trigger-disable on
  * error). Every emitted status is also published back to the control
  * topic (initializer.clj:90-95), which is what makes restart/resume
  * work: the backlog scan compacts to last-state-per-key and skips
  * terminal states.
  *
  * Sequencing matters and is preserved from the reference:
  * enable-trigger BEFORE the snapshot (core.clj:161) so no change is
  * lost between snapshot and activation — overlap converges via the
  * topic's keyed compaction. Seeding itself is a distributed Spark
  * write (partitioned scan → plan-level transforms → keyed append);
  * only the tiny control-state transitions run on the driver, exactly
  * as the reference's single worker loop does.
  */
class Initializer(
    spark: SparkSession,
    plane: ControlPlane,
    topics: TopicStore,
    controlTopic: String,
    /** seed source: table name => (frame shaped like the seed view —
      * `cdc.`-prefixed metadata columns + data columns, see
      * Transforms.seedRowToDmlMsg), or None when the table is unknown. */
    seedView: String => Option[DataFrame],
    /** Post-seed cleanup hook: called with the CCD's table after EVERY
      * [[initialize]], success or error — the engine's seat for the
      * reference's finally-block drop of the server-side seed view
      * (seed_store.clj: the view exists only while seeding runs). Wire
      * [[JdbcSeedSource.release]] here when seed views come from a
      * live database — without it every seed leaks a GRAFT_SEED_*
      * view that blocks later DDL on the captured table. The parquet
      * test views need no release, hence the no-op default. */
    releaseSeed: String => Unit = _ => (),
    now: () => Timestamp = () => new Timestamp(System.currentTimeMillis())) {

  import spark.implicits._

  /** Resume scan (reference initializer.clj:27-39 — inferred cdc-util
    * `topic->last-known-ccd-states`): read the whole control topic,
    * compact to last state per key, drop terminal states, sort by
    * timestamp. Small by construction (one row per captured table), so
    * collecting to the driver's work queue mirrors the reference's
    * channel of CCDs. */
  def backlog(): Seq[Ccd] = {
    if (!topics.exists(controlTopic)) return Seq.empty
    val compacted = Transforms.lastStatePerKey(Seq("key"), Seq("offset"))(
      topics.readAll(controlTopic))
    decodeCcds(compacted)
      .filter(c => !Status.terminal.contains(c.status))
      .sortBy(_.timestamp.getTime)
  }

  /** Decode control messages to CCDs. The decoded `table` falls back
    * to the MESSAGE KEY when the value is unparseable or lacks one:
    * the table doubles as the publish key, and an error state for a
    * poison message must land under the ORIGINAL key so compaction
    * supersedes it — keyed by the decoded null it would never reach a
    * terminal state and every restart would reprocess it. */
  def decodeCcds(df: DataFrame): Seq[Ccd] =
    df.select(col("key"), from_json(col("value"), Ccd.jsonSchema).as("c"))
      .select(col("key"), col("c.*"))
      .collect()
      .toSeq
      .map { r =>
        Ccd(
          table = Option(r.getAs[String]("table")).filter(_.trim.nonEmpty)
            .getOrElse(r.getAs[String]("key")),
          queue = r.getAs[String]("queue"),
          queueTable = r.getAs[String]("queue-table"),
          tableAlias = Option(r.getAs[String]("table-alias")),
          status = r.getAs[String]("status"),
          // parse in explicit UTC: Timestamp.valueOf would use the JVM
          // default zone, shifting instants on non-UTC hosts (publish
          // formats via the UTC session timezone). A MALFORMED timestamp
          // degrades to the epoch default instead of throwing — a throw
          // here would crash backlog()/the submission loop on a poison
          // message and replay it forever from the checkpoint (same
          // hardening as checkCcd for malformed table refs)
          timestamp = scala.util.Try(
            Timestamp.from(
              java.time.LocalDateTime.parse(
                Option(r.getAs[String]("timestamp")).getOrElse("1970-01-01 00:00:00")
                  .replace(' ', 'T'))
                .toInstant(java.time.ZoneOffset.UTC)))
            .getOrElse(Timestamp.from(java.time.Instant.EPOCH)),
          progress = Option(r.getAs[Seq[Long]]("progress")),
          error = Option(r.getAs[String]("error")))
      }

  /** CCD validity (reference initializer.clj:51-56 `check-ccd`,
    * core.clj:38-54 requirements). Returns None when valid. */
  def checkCcd(ccd: Ccd): Option[String] = {
    def blank(s: String) = s == null || s.trim.isEmpty
    if (blank(ccd.table)) Some("missing table")
    else if (blank(ccd.queue)) Some("missing queue")
    else if (blank(ccd.queueTable)) Some("missing queue-table")
    else scala.util.Try(Identifiers.stripTableSchema(ccd.table)) match {
      // malformed refs must become error STATES, not thrown exceptions —
      // a throw here would crash the submission stream on a poison
      // message and loop forever from the checkpoint
      case scala.util.Failure(e) => Some(e.getMessage)
      case scala.util.Success(obj)
        if obj.length > Identifiers.maxUnaliasedLength
          && ccd.tableAlias.forall(_.trim.isEmpty) =>
        Some(s"table name longer than ${Identifiers.maxUnaliasedLength} chars requires table-alias")
      case _ => None
    }
  }

  private def stamp(ccd: Ccd, status: String,
      progress: Option[Seq[Long]] = None, error: Option[String] = None): Ccd =
    ccd.copy(status = status, timestamp = now(), progress = progress, error = error)

  /** Publish a status update to the control topic (the engine's
    * updates-chan ∘ send-ccd-update!, initializer.clj:90-95). Key =
    * the CCD identity (its table), so compaction keeps latest state. */
  def publish(ccd: Ccd): Unit = publishAll(Seq(ccd))

  /** Batched publish: one topic append — one control-topic file — for
    * a whole lifecycle's states. The frame is driver-local, which
    * [[graft.engine.topics.FileTopicStore]] writes without a Spark job.
    * Within-append order is pinned by an explicit `seq` column —
    * append() sorts within each partition by it before assigning
    * offsets, so compaction keeps the LAST state by contract. (Relying
    * on row order through the shuffle would work in local tests by
    * accident only: all states of one CCD share a key, and a
    * multi-partition source reorders under repartition.) */
  def publishAll(ccds: Seq[Ccd]): Unit = {
    if (ccds.isEmpty) return
    val json = ccds.zipWithIndex.toDS().toDF("c", "seq")
      .select(
        col("c.table").as("key"),
        to_json(struct(
          col("c.table").as("table"), col("c.queue").as("queue"),
          col("c.queueTable").as("queue-table"),
          col("c.tableAlias").as("table-alias"),
          col("c.status").as("status"),
          date_format(col("c.timestamp"), "yyyy-MM-dd HH:mm:ss.SSS").as("timestamp"),
          col("c.progress").as("progress"), col("c.error").as("error"))).as("value"),
        col("seq"))
    topics.append(controlTopic, json)
  }

  /** Ensure-trigger → ensure-queue → ensure-topic, emitting a creation
    * status only for objects that did not already exist (reference
    * core.clj:84-95; README's queue→trigger→topic order is wrong —
    * code wins, SURVEY §1.1). Ends `prepared`, or `error` with the
    * exception message (core.clj:97-98). */
  def prepare(ccd: Ccd): Seq[Ccd] = {
    val out = Seq.newBuilder[Ccd]
    try {
      if (plane.triggerExists(ccd.table)) plane.disableTrigger(ccd.table)
      else {
        plane.createTrigger(ccd.table, ccd.queue, ccd.queueTable)
        out += stamp(ccd, Status.TriggerCreated)
      }
      if (plane.queueExists(ccd.queue)) plane.clearQueue(ccd.queue)
      else { plane.createQueue(ccd.queue, ccd.queueTable); out += stamp(ccd, Status.QueueCreated) }
      if (topics.exists(ccd.queue)) topics.clear(ccd.queue)
      else { topics.create(ccd.queue); out += stamp(ccd, Status.TopicCreated) }
      out += stamp(ccd, Status.Prepared)
    } catch {
      case e: Exception => out += stamp(ccd, Status.Error, error = Some(e.getMessage))
    }
    out.result()
  }

  /** Seed the topic from the table snapshot (reference core.clj:154-182):
    * enable trigger first, count, stream-transform-send, 2%-bucket
    * progress (≤ 50 reports + the initial [0, total], core.clj:162-175),
    * then `active`; on exception best-effort disable-trigger + `error`.
    *
    * The reference's row-at-a-time channel becomes one distributed
    * write; progress statuses are the deterministic bucket ledger (the
    * streaming engine reports live progress via listener instead). */
  def initialize(ccd: Ccd): Seq[Ccd] = {
    val out = Seq.newBuilder[Ccd]
    try {
      plane.enableTrigger(ccd.table)
      val view = seedView(ccd.table).getOrElse(
        throw new IllegalArgumentException(s"unknown table ${ccd.table}"))
      val total = view.count()
      out += stamp(ccd, Status.Seeding, progress = Some(Seq(0L, total)))
      val seedMsgs = Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(view))
      topics.append(ccd.queue, seedMsgs)
      Initializer.progressBuckets(total).foreach { c =>
        out += stamp(ccd, Status.Seeding, progress = Some(Seq(c, total)))
      }
      out += stamp(ccd, Status.Active)
    } catch {
      case e: Exception =>
        try plane.disableTrigger(ccd.table) catch { case _: Exception => () }
        out += stamp(ccd, Status.Error, error = Some(e.getMessage))
    } finally {
      // best-effort, reference-parity finally-drop: a failed release
      // must not turn a successful seed into an error state
      try releaseSeed(ccd.table) catch { case _: Exception => () }
    }
    out.result()
  }

  /** One unit of work (reference initializer.clj:41-68): validate,
    * prepare, and — unless preparation failed — initialize. All
    * emitted states are published to the control topic and returned
    * (latest last). */
  def process(ccd: Ccd): Seq[Ccd] = process(ccd, recheck = true)

  /** @param recheck when true, re-read the CCD's compacted status and
    *   skip terminal states — the at-least-once guard for the
    *   streaming path, where a replayed submission (fresh checkpoint,
    *   restarted stream) must not re-run a finished lifecycle. The
    *   backlog path passes false: [[backlog]] just computed exactly
    *   these compacted states and filtered terminal ones, the
    *   compaction keeps at most one entry per table, and sequential
    *   processing only publishes the CURRENT table's states — so the
    *   recheck there was a redundant full-topic read+compact job per
    *   CCD (N+1 control-topic scans at startup). */
  private[cdc] def process(ccd: Ccd, recheck: Boolean): Seq[Ccd] = {
    // at-least-once guard (reference parity: the backlog scan resets
    // the consumer offset past processed messages, initializer.clj:27-39);
    // prepare() clears the live queue
    if (recheck && currentStatus(ccd.table).exists(Status.terminal.contains))
      return Seq.empty
    val states = checkCcd(ccd) match {
      case Some(err) =>
        Seq(stamp(ccd, Status.Error, error = Some(s"invalid specification: $err")))
      case None =>
        val prep = prepare(ccd)
        if (prep.lastOption.exists(_.status == Status.Error)) prep
        else prep ++ initialize(prep.last)
    }
    publishAll(states)
    states
  }

  /** Current compacted status of a CCD key, if any. */
  def currentStatus(table: String): Option[String] = {
    if (!topics.exists(controlTopic)) return None
    topics.readCompacted(controlTopic)
      .filter(col("key") === table)
      .select(from_json(col("value"), Ccd.jsonSchema).getField("status"))
      .collect().headOption.flatMap(r => Option(r.getString(0)))
  }

  /** Full service run (reference initializer.clj:76-115): ensure the
    * control topic, drain the backlog in timestamp order, process each
    * sequentially. Returns every emitted state, per input CCD. */
  def runBacklog(): Seq[(Ccd, Seq[Ccd])] = {
    if (!topics.exists(controlTopic)) topics.create(controlTopic)
    backlog().map(c => c -> process(c, recheck = false))
  }
}

object Initializer {
  /** The 2%-bucket progress ledger (reference core.clj:162-175): the
    * seeded counts at which progress is reported after the initial
    * [0, total] — every ceil(2% · total) rows, so at most 50 reports,
    * none past total, none for an empty table. */
  def progressBuckets(total: Long): Seq[Long] =
    if (total <= 0) Seq.empty
    else {
      val step = math.max(1L, math.ceil(total * 0.02).toLong)
      Iterator.iterate(step)(_ + step).takeWhile(_ <= total).toSeq
    }
}
