package graft.engine.cdc

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

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
  * topic's keyed compaction. Seeding itself is ONE distributed Spark
  * write (partitioned scan → plan-level transforms → keyed append) that
  * also counts the rows it sends, so the seed view is scanned once;
  * only the tiny control-state transitions run on the driver, exactly
  * as the reference's single worker loop does, and they are encoded
  * there too ([[graft.engine.model.Ccd.toJson]]).
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

  /** Resume scan (reference initializer.clj:27-39 — inferred cdc-util
    * `topic->last-known-ccd-states`): read the compacted control topic,
    * reduce it to last state per key, drop terminal states, sort by
    * timestamp. The outer reduction folds every un-keyed message (a
    * table-less CCD's `submitted` and its `error`) into one group whose
    * latest state wins, the same result as over the full log, so a
    * restart does not re-run a terminal table-less CCD. Small by
    * construction (one row per captured table), so collecting to the
    * driver's work queue mirrors the reference's channel of CCDs.
    *
    * A control topic below the store's driver-read bound comes back as
    * a `LocalRelation` (see [[graft.engine.topics.FileTopicStore.readCompacted]]):
    * the reduction then runs on its rows and the result stays a
    * `LocalRelation`, which [[decodeCcds]] reads directly, so a resume
    * runs no Spark action at all. A larger log is reduced by the
    * `max_by` aggregate and decoded from one collect. */
  def backlog(): Seq[Ccd] = {
    if (!topics.exists(controlTopic)) return Seq.empty
    val compacted = topics.readCompacted(controlTopic)
    val latest = Initializer.controlRelation(compacted) match {
      case Some(c) => PlanBridge.ofRows(spark, c.lastPerKey)
      case None => Transforms.lastStatePerKey(Seq("key"), Seq("offset"))(compacted)
    }
    decodeCcds(latest)
      .filter(c => !Status.terminal.contains(c.status))
      .sortBy(_.timestamp.getTime)
  }

  /** Decode control messages to CCDs, in topic-offset order. The frame
    * needs `key` and `value` columns; rows without an offset (no
    * `offset` column, or a null one) come first, in frame order.
    *
    * The rows reach the driver once: a frame whose analyzed plan is a
    * driver `LocalRelation` (every compacted control topic below the
    * read bound) is read directly, with no Spark action; any other frame
    * (a micro-batch of the control tail) is collected as (key, value,
    * offset) in one job. Each value is then decoded by
    * [[graft.engine.model.Ccd.fromJson]], with no Catalyst plan.
    *
    * The decoded `table` falls back to the MESSAGE KEY when the value is
    * unparseable or lacks one: the table doubles as the publish key, and
    * an error state for a poison message must land under the ORIGINAL
    * key so compaction supersedes it — keyed by the decoded null it
    * would never reach a terminal state and every restart would
    * reprocess it. */
  def decodeCcds(df: DataFrame): Seq[Ccd] = {
    val rows: Seq[(String, String, Option[Long])] =
      Initializer.controlRelation(df) match {
        case Some(c) => c.rows.map(r => (c.key(r), c.value(r), c.offset(r)))
        case None =>
          val offset = if (df.columns.contains("offset")) col("offset").cast(LongType) else lit(null)
          df.select(col("key"), col("value"), offset)
            .collect().toSeq
            .map(r => (r.getString(0), r.getString(1), if (r.isNullAt(2)) None else Some(r.getLong(2))))
      }
    rows.sortBy(_._3).map { case (key, value, _) =>
      val r = Ccd.fromJson(value)
      Ccd(
        table = Option(r.getAs[String]("table")).filter(_.trim.nonEmpty).getOrElse(key),
        queue = r.getAs[String]("queue"),
        queueTable = r.getAs[String]("queue-table"),
        tableAlias = Option(r.getAs[String]("table-alias")),
        status = r.getAs[String]("status"),
        // parse in explicit UTC: Timestamp.valueOf would use the JVM
        // default zone, shifting instants on non-UTC hosts (Ccd.toJson
        // formats in UTC whatever the session zone). A MALFORMED timestamp
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
    * a whole lifecycle's states. Each value is encoded on the driver by
    * [[graft.engine.model.Ccd.toJson]] (no encoder derived, no
    * projection planned), and the (key, value, seq) rows become a
    * driver-local frame, which [[graft.engine.topics.FileTopicStore]]
    * writes without a Spark job. Within-append order is pinned by the
    * explicit `seq` column — append() sorts within each partition by it
    * before assigning offsets, so compaction keeps the LAST state by
    * contract. (Relying on row order through the shuffle would work in
    * local tests by accident only: all states of one CCD share a key,
    * and a multi-partition source reorders under repartition.) */
  def publishAll(ccds: Seq[Ccd]): Unit = {
    if (ccds.isEmpty) return
    val rows = ccds.zipWithIndex.map { case (c, i) => Row(c.table, Ccd.toJson(c), i) }
    topics.append(controlTopic, spark.createDataFrame(rows.asJava, Initializer.publishSchema))
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
    * enable trigger first, then one pass that transforms, sends AND
    * counts the snapshot, then the 2%-bucket progress (the initial
    * [0, total] plus ≤ 50 reports, core.clj:162-175) and `active`; on
    * exception best-effort disable-trigger + `error`.
    *
    * The reference's row-at-a-time channel becomes one distributed
    * write. The reference counts and then scans (two snapshots, whose
    * sizes can differ); here the write's own rows are counted by an
    * observation on the appended frame, so the seed view is scanned
    * once and `total` is exactly what reached the topic. The observed
    * plan is never a `LocalRelation`, so the append always takes the
    * distributed write, whose completion fills the observation; a
    * failed write throws before the observation is read. The seeding
    * states are stamped after the write, which is safe because
    * [[process]] publishes only once this returns. Progress statuses
    * are the deterministic bucket ledger (the streaming engine reports
    * live progress via listener instead). */
  def initialize(ccd: Ccd): Seq[Ccd] = {
    val out = Seq.newBuilder[Ccd]
    try {
      plane.enableTrigger(ccd.table)
      val view = seedView(ccd.table).getOrElse(
        throw new IllegalArgumentException(s"unknown table ${ccd.table}"))
      val sent = new Observation()
      topics.append(ccd.queue, Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(view))
        .observe(sent, count(lit(1)).as("rows")))
      val total = sent.get("rows").asInstanceOf[Long]
      out += stamp(ccd, Status.Seeding, progress = Some(Seq(0L, total)))
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
    *   skip terminal states — the at-least-once guard for a caller that
    *   holds a CCD it did not just read as its key's latest state. The
    *   control loop's two readers pass false: [[backlog]] and the
    *   submission drain ([[graft.engine.streaming.ControlStream.runSubmissions]])
    *   both take each CCD from the compacted control topic, which keeps
    *   one entry per table, and sequential processing only publishes
    *   the CURRENT table's states — so the recheck there would be a
    *   redundant control-topic read per CCD. */
  private[graft] def process(ccd: Ccd, recheck: Boolean): Seq[Ccd] = {
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

  /** Current compacted status of a CCD key, if any: the `status` of the
    * key's latest control message. On a control topic below the store's
    * driver-read bound the compacted log is a `LocalRelation`, so the
    * key's row is found on the driver and only that value is decoded
    * ([[graft.engine.model.Ccd.fromJson]]): no Catalyst plan, no Spark
    * action. A larger log is filtered to the key and collected (one
    * job). A null table has no row. */
  def currentStatus(table: String): Option[String] = {
    if (!topics.exists(controlTopic)) return None
    val compacted = topics.readCompacted(controlTopic)
    val value: Option[String] = Initializer.controlRelation(compacted) match {
      case Some(c) => c.rows.find(r => table != null && c.key(r) == table).map(c.value)
      case None =>
        compacted.filter(col("key") === table).select(col("value"))
          .collect().headOption.map(_.getString(0))
    }
    value.flatMap(v => Option(Ccd.fromJson(v).getAs[String]("status")))
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
  /** The frame [[Initializer.publishAll]] hands the control append. */
  private val publishSchema = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("seq", IntegerType, nullable = false)))

  /** A control frame held on the driver: a `LocalRelation` with string
    * `key` and `value` columns and, optionally, a long `offset`. */
  private final case class ControlRelation(relation: LocalRelation) {
    private def ordinal(name: String, dataType: org.apache.spark.sql.types.DataType): Int =
      relation.output.indexWhere(a => a.name == name && a.dataType == dataType)
    private val k = ordinal("key", StringType)
    private val v = ordinal("value", StringType)
    private val o = ordinal("offset", LongType)
    private val p = ordinal("partition", IntegerType)

    def valid: Boolean = k >= 0 && v >= 0
    def rows: Seq[InternalRow] = relation.data
    def key(r: InternalRow): String = if (r.isNullAt(k)) null else r.getUTF8String(k).toString
    def value(r: InternalRow): String = if (r.isNullAt(v)) null else r.getUTF8String(v).toString
    def offset(r: InternalRow): Option[Long] =
      if (o < 0 || r.isNullAt(o)) None else Some(r.getLong(o))
    /** The row's (topic partition, offset), when it has both. */
    def position(r: InternalRow): Option[(Int, Long)] =
      if (p < 0 || r.isNullAt(p)) None else offset(r).map(r.getInt(p) -> _)

    /** [[Transforms.lastStatePerKey]] over `key` and `offset` on the
      * driver: the highest-offset row per key, all null keys one group,
      * a null offset lowest. */
    def lastPerKey: LocalRelation =
      relation.copy(data = rows.groupBy(key).values.map(_.maxBy(offset)).toSeq)
  }

  /** The messages of a compacted control frame above a per-partition
    * `position`, and that position advanced past them. A row is fresh
    * when it has a topic partition and an offset, and the offset is
    * above the position's entry for that partition (no entry: every
    * offset is); a row without both is never fresh. The fresh rows come
    * back as a driver `LocalRelation` with the frame's columns, which
    * [[Initializer.decodeCcds]] reads with no Spark action. A frame held
    * on the driver (a compacted control topic below the store's read
    * bound) is filtered with no Spark action; any other frame is
    * filtered by the position in Spark and only its fresh rows are
    * collected, in one action. */
  private[graft] def after(df: DataFrame,
      position: Map[Int, Long]): (DataFrame, Map[Int, Long]) = {
    val c = controlRelation(df)
      .orElse(controlRelation(collectAbove(df, position)))
      .getOrElse(throw new IllegalArgumentException(s"not a control frame: ${df.schema.simpleString}"))
    val fresh = c.rows.flatMap(r => c.position(r).collect {
      case at @ (part, off) if position.get(part).forall(off > _) => r -> at
    })
    (PlanBridge.ofRows(df.sparkSession, c.relation.copy(data = fresh.map(_._1))),
      graft.engine.sources.TopicLog.merge(position +: fresh.map(f => Map(f._2))))
  }

  /** The rows of `df` above `position`, the freshness rule of [[after]]
    * run in Spark, collected into a driver frame with `df`'s schema. A
    * frame without int `partition` and long `offset` columns has no
    * fresh row, and nothing is collected. */
  private def collectAbove(df: DataFrame, position: Map[Int, Long]): DataFrame = {
    def has(name: String, dataType: org.apache.spark.sql.types.DataType) =
      df.schema.exists(f => f.name == name && f.dataType == dataType)
    val rows =
      if (!has("partition", IntegerType) || !has("offset", LongType)) Array.empty[Row]
      else {
        val (part, off) = (df("partition"), df("offset"))
        val seen = position.map { case (p, o) => part === p && off <= o }.reduceOption(_ || _)
        df.where(part.isNotNull && off.isNotNull && seen.fold(lit(true))(!_)).collect()
      }
    df.sparkSession.createDataFrame(rows.toSeq.asJava, df.schema)
  }

  /** The frame's rows when its analyzed plan is a driver `LocalRelation`
    * of control messages, None for any other plan (nothing runs). */
  private def controlRelation(df: DataFrame): Option[ControlRelation] =
    df.queryExecution.analyzed match {
      case l: LocalRelation if !l.isStreaming => Some(ControlRelation(l)).filter(_.valid)
      case _ => None
    }

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
