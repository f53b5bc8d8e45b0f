package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.model.{Ccd, Status}

/** `Ccd.toJson` against the `to_json(struct(...))` projection the
  * control publish used before it encoded on the driver: under a UTC
  * session the two must agree byte for byte, so control topics written
  * by either decode alike and compact under the same values. */
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
}
