package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.model.{Ccd, Status}

/** The control format against the Spark expressions it replaced on
  * the driver. `Ccd.toJson` against the `to_json(struct(...))`
  * projection the control publish used: under a UTC session the two
  * must agree byte for byte, so control topics written by either
  * decode alike and compact under the same values. `Ccd.fromJson`
  * against `from_json(value, Ccd.jsonSchema)`, the decode the control
  * loop used: the same 8 fields for every value, odd ones included. */
class CcdJsonSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  /** The former publish projection, kept as the reference encoding. */
  private def projected(ccds: Seq[Ccd]): Seq[String] = {
    import spark.implicits._
    ccds.zipWithIndex.toDS().toDF("c", "seq")
      .select(
        to_json(struct(
          col("c.table").as("table"), col("c.queue").as("queue"),
          col("c.queueTable").as("queue-table"),
          col("c.tableAlias").as("table-alias"),
          col("c.status").as("status"),
          date_format(col("c.timestamp"), "yyyy-MM-dd HH:mm:ss.SSS").as("timestamp"),
          col("c.progress").as("progress"), col("c.error").as("error"))).as("value"),
        col("seq"))
      .orderBy("seq").collect().map(_.getString(0)).toSeq
  }

  private val base = Ccd("tpch.nation", "q_nation", "mq_q_nation", None, Status.Submitted,
    new Timestamp(1700000001234L))

  private val cases: Seq[Ccd] =
    Status.all.map(s => base.copy(status = s)) ++ Seq(
      base.copy(tableAlias = Some("nat")),
      base.copy(status = Status.Seeding, progress = Some(Seq(0L, 25L))),
      base.copy(status = Status.Seeding, progress = Some(Seq(9000000000L, 9000000001L))),
      base.copy(status = Status.Seeding, progress = Some(Seq.empty)),
      base.copy(status = Status.Error,
        error = Some("bad \"quote\" \\ back\nslash\ttab \u0001 é ünï 日本 𝄞 / end")),
      base.copy(table = null, status = Status.Error, error = Some("invalid specification")),
      // pre-epoch instant with a sub-millisecond part and a leap day
      base.copy(timestamp = { val t = new Timestamp(-1000L * 86400 * 365); t.setNanos(999999999); t }),
      base.copy(timestamp = Timestamp.valueOf("2024-02-29 23:59:59.5")))

  test("toJson equals the to_json(struct(...)) projection byte for byte under a UTC session") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    val expected = projected(cases)
    cases.map(Ccd.toJson).zip(expected).foreach { case (got, want) =>
      assert(got.getBytes("UTF-8").sameElements(want.getBytes("UTF-8")), s"\n got $got\nwant $want")
    }
    assert(expected.size == cases.size)
  }

  /** The former decode expression, kept as the reference decoder: each
    * value's 8 fields, nulls for a value `from_json` cannot read. */
  private def fromJsonExpr(values: Seq[String]): Seq[Seq[Any]] = {
    import spark.implicits._
    values.zipWithIndex.toDF("value", "seq")
      .select(from_json(col("value"), Ccd.jsonSchema).as("c"), col("seq"))
      .select(col("c.*"), col("seq"))
      .orderBy("seq").collect().map(_.toSeq.dropRight(1)).toSeq
  }

  private val decodeCases: Seq[String] = cases.map(Ccd.toJson) ++ Seq(
    // not a JSON object, or not JSON at all
    null, "", "   ", "null", "[]", """[{"table":"t","status":"active"}]""", "42", "\"submitted\"",
    "true", "{not json at all", """{"table":"t"""", """{"table":"t",}""",
    """{"table":"t","status":}""",
    // trailing content after the object is ignored
    """{"table":"t","status":"active"} trailing""", """{"table":"t"}{"table":"u"}""",
    // a non-string where a string is expected keeps its JSON text
    """{"table":5,"queue":1.50,"status":true,"error":false,"timestamp":-0.0e3}""",
    """{"table":{"a" : [1, "x", {"b":null}]},"queue":[ 1,2 ],"status":"active"}""",
    "{\"table\":\"t\",\"queue\":{\"q\":\"\\u00e9\\/\\u0001\"},\"error\":[\"\\n\"]}",
    """{"table":"t","timestamp":12345678901234567890123}""",
    // progress: strings, floats, nulls, overflow and nesting
    """{"table":"t","progress":["1","2"],"status":"seeding"}""",
    """{"table":"t","progress":"1","status":"seeding"}""",
    """{"table":"t","progress":[1.5],"status":"seeding"}""",
    """{"table":"t","progress":[1,null,3],"status":"seeding"}""",
    """{"table":"t","progress":[9223372036854775807,-9223372036854775808]}""",
    """{"table":"t","progress":[9223372036854775808],"status":"seeding"}""",
    """{"table":"t","progress":[[1]],"status":"seeding"}""",
    """{"table":"t","progress":["x",{"table":"u"},7],"status":"seeding"}""",
    """{"table":"t","progress":{"a":1},"status":"seeding"}""",
    """{"table":"t","progress":[],"status":"seeding"}""",
    """{"table":"t","progress":null,"status":null}""",
    // duplicate keys (last wins), unknown and nested extra keys
    """{"table":"t","table":"u","status":"a","status":"b"}""",
    """{"progress":[1],"progress":"x","table":"t"}""",
    """{"table":"t","status":"active","extra":{"table":"x","deep":[{"status":"y"}]},"n":1}""",
    """{"Table":"t","STATUS":"active","queue-table":"mq"}""",
    // Spark's default read features: single quotes and NaN are allowed
    """{'table':'t','status':'active'}""", """{"table":NaN,"queue":Infinity}""",
    // comments, unquoted names and leading zeros are not
    """{"table":"t" /* c */}""", """{table:"t"}""", """{"table":"t","progress":[007]}""",
    """  {"table":"t"}  """, "\t{\"table\":\"\u65e5\u672c\"}\n")

  test("fromJson returns the 8 fields from_json(value, jsonSchema) returns, odd values included") {
    val expected = fromJsonExpr(decodeCases)
    assert(expected.size == decodeCases.size)
    decodeCases.zip(expected).foreach { case (value, want) =>
      val got = Ccd.fromJson(value)
      assert(got.schema == Ccd.jsonSchema)
      assert(got.toSeq == want, s"\nvalue $value\n  got ${got.toSeq}\n want $want")
    }
    // every status and field round-trips through toJson
    cases.foreach { c =>
      val r = Ccd.fromJson(Ccd.toJson(c))
      assert(r.getAs[String]("status") == c.status && r.getAs[String]("table") == c.table)
      assert(Option(r.getAs[Seq[Long]]("progress")) == c.progress)
      assert(Option(r.getAs[String]("error")) == c.error)
    }
  }
}
