package graft.engine.model

import java.io.StringWriter
import java.sql.Timestamp
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import com.fasterxml.jackson.core.JsonFactory
import org.apache.spark.sql.types._

/** Change Capture Definition — the reference's control record
  * (reference core.clj:38-54, 107-119; FIXTURES.md A.1).
  *
  * One CCD describes one table whose changes are to be captured: the
  * source table, the queue (== topic) its changes flow to, and the
  * lifecycle status of the initialization state machine. Every state
  * is published to the control topic as [[Ccd.toJson]] and read back
  * through [[Ccd.jsonSchema]]; both live in the companion, so the
  * control format has one home.
  */
case class Ccd(
    table: String,
    queue: String,
    queueTable: String,
    tableAlias: Option[String],
    status: String,
    timestamp: Timestamp,
    /** [seeded, total] — present only while status == seeding
      * (reference core.clj:140-144, 169). */
    progress: Option[Seq[Long]] = None,
    /** error message — present only when status == error
      * (reference core.clj:73-75). */
    error: Option[String] = None)

object Status {
  /** Lifecycle (reference core.clj:63-76,140-151): submitted →
    * (trigger-created? → queue-created? → topic-created?) → prepared →
    * seeding* → active | error. Creation statuses are emitted only when
    * the object did not already exist (core.clj:84-95). */
  val Submitted = "submitted"
  val TriggerCreated = "trigger-created"
  val QueueCreated = "queue-created"
  val TopicCreated = "topic-created"
  val Prepared = "prepared"
  val Seeding = "seeding"
  val Active = "active"
  val Error = "error"

  /** Terminal states — never re-initialized on restart
    * (reference initializer.clj:21-22 `non-initializable-statuses`). */
  val terminal: Set[String] = Set(Active, Error)

  val all: Seq[String] = Seq(Submitted, TriggerCreated, QueueCreated,
    TopicCreated, Prepared, Seeding, Active, Error)

  /** Order of the state machine, for validity checks in tests. */
  val rank: Map[String, Int] = all.zipWithIndex.toMap
}

object Ccd {
  /** Control-topic JSON schema (FIXTURES.md A.1), the decode side of
    * [[toJson]]. Field names use the reference's kebab-case JSON keys. */
  val jsonSchema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("queue", StringType),
    StructField("queue-table", StringType),
    StructField("table-alias", StringType),
    StructField("status", StringType),
    StructField("timestamp", StringType),
    StructField("progress", ArrayType(LongType)),
    StructField("error", StringType)))

  private val jsonFactory = new JsonFactory()
  private val timestampFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(ZoneOffset.UTC)

  /** The control-topic message value of a CCD: [[jsonSchema]]'s keys in
    * its order, null and absent fields omitted, the timestamp as UTC
    * `yyyy-MM-dd HH:mm:ss.SSS` (the zone the decode parses it in).
    * Written with Jackson's generator, the one Spark's `to_json` uses,
    * so under a UTC session the bytes equal the former
    * `to_json(struct(...))` projection's, with no Catalyst plan built
    * per publish. */
  def toJson(c: Ccd): String = {
    val out = new StringWriter
    val g = jsonFactory.createGenerator(out)
    def field(name: String, v: String): Unit = if (v != null) g.writeStringField(name, v)
    g.writeStartObject()
    field("table", c.table)
    field("queue", c.queue)
    field("queue-table", c.queueTable)
    c.tableAlias.foreach(field("table-alias", _))
    field("status", c.status)
    field("timestamp", timestampFormat.format(c.timestamp.toInstant))
    c.progress.foreach { p =>
      g.writeArrayFieldStart("progress")
      p.foreach(n => g.writeNumber(n))
      g.writeEndArray()
    }
    c.error.foreach(field("error", _))
    g.writeEndObject()
    g.close()
    out.toString
  }
}
