package graft.engine.model

import java.io.StringWriter
import java.sql.Timestamp
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter

import scala.util.control.NonFatal

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._

/** Change Capture Definition — the reference's control record
  * (reference core.clj:38-54, 107-119; FIXTURES.md A.1).
  *
  * One CCD describes one table whose changes are to be captured: the
  * source table, the queue (== topic) its changes flow to, and the
  * lifecycle status of the initialization state machine. Every state
  * is published to the control topic as [[Ccd.toJson]] and read back
  * by [[Ccd.fromJson]] into [[Ccd.jsonSchema]]'s fields; all three live
  * in the companion, so the control format has one home.
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
  // the read features Spark's JSON options enable by default; every
  // other feature and limit is Jackson's default there too
  private val readFactory = JsonFactory.builder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES)
    .enable(JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()
  private val fieldIndex: Map[String, Int] = jsonSchema.fieldNames.zipWithIndex.toMap
  private val progressIndex = fieldIndex("progress")
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

  /** Decode a control-topic message value into [[jsonSchema]]'s 8
    * fields, on the driver: the row `from_json(value, jsonSchema)`
    * returns in its default PERMISSIVE mode, with no Catalyst plan. It
    * follows Spark's Jackson-based reader step for step, so the odd
    * inputs decode alike too (CcdJsonSpec pins this against `from_json`):
    *  - a null, blank or malformed value, or one that is not a JSON
    *    object (an array, a scalar, `null`), gives all 8 fields null
    *  - unknown keys are skipped and a repeated key keeps its last value
    *  - a string field holding a number, boolean, array or object keeps
    *    that value's JSON text
    *  - a field whose value cannot be read (a string inside `progress`)
    *    is null while the other fields keep their values
    *  - anything after the closing brace is ignored
    * A missing field is null; `progress` is a `Seq` of boxed longs
    * whose elements may be null. */
  def fromJson(value: String): Row = {
    val fields =
      if (value == null) new Array[Any](jsonSchema.length)
      else try readRecord(value) catch { case NonFatal(_) => new Array[Any](jsonSchema.length) }
    new GenericRowWithSchema(fields, jsonSchema)
  }

  private def readRecord(value: String): Array[Any] = {
    val fields = new Array[Any](jsonSchema.length)
    val p = readFactory.createParser(value)
    try p.nextToken() match {
      case null => // blank: no record
      case JsonToken.START_OBJECT =>
        while (advance(p, JsonToken.END_OBJECT)) fieldIndex.get(p.currentName) match {
          // a field that fails leaves its slot as it was (the partial
          // result), and the parser moves on past its value
          case Some(i) => try fields(i) = readField(p, i) catch { case NonFatal(_) => p.skipChildren() }
          case None => p.skipChildren()
        }
      case t => throw new IllegalArgumentException(s"not a JSON object: $t")
    } finally p.close()
    fields
  }

  /** Next token, false at `stop` or at the end of the input. */
  private def advance(p: JsonParser, stop: JsonToken): Boolean = {
    val t = p.nextToken()
    t != null && t != stop
  }

  /** The value at the current token, first stepping past a field name.
    * After a failed field the loop can land here on another token (the
    * end of a broken array, still named by its field), which then fails
    * the same way without consuming input. */
  private def readField(p: JsonParser, i: Int): Any = {
    if (p.currentToken == JsonToken.FIELD_NAME) p.nextToken()
    p.currentToken match {
      case null | JsonToken.VALUE_NULL => null
      case JsonToken.START_ARRAY if i == progressIndex =>
        val out = Vector.newBuilder[Any]
        while (advance(p, JsonToken.END_ARRAY)) out += (p.currentToken match {
          case JsonToken.VALUE_NULL => null
          case JsonToken.VALUE_NUMBER_INT => java.lang.Long.valueOf(p.getLongValue)
          case t => throw new IllegalArgumentException(s"not a long: $t")
        })
        out.result()
      case t if i == progressIndex => throw new IllegalArgumentException(s"not an array: $t")
      case JsonToken.VALUE_STRING => p.getText
      case _ =>
        val out = new StringWriter
        val g = readFactory.createGenerator(out)
        try g.copyCurrentStructure(p) finally g.close()
        out.toString
    }
  }
}
