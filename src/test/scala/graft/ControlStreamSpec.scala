package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.graft.JobCount
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.cdc.{InMemoryControlPlane, Initializer, SeedViews}
import graft.engine.model.{Ccd, Status}
import graft.engine.streaming.ControlStream
import graft.engine.topics.FileTopicStore

/** Streaming control path: submissions tail → foreachBatch
  * orchestration → status write-back; flatMapGroupsWithState status
  * machine; watermarked streaming aggregates. */
class ControlStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("submissions stream drives the initializer end-to-end") {
    val root = Files.createTempDirectory("graft-stream").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val plane = new InMemoryControlPlane()
    val seedView = (table: String) =>
      if (table == "tpch.nation")
        Some(SeedViews.forTable(
          spark.read.parquet(s"$sf/nation.parquet"), table, Seq("n_nationkey")))
      else None
    val init = new Initializer(spark, plane, store, "control", seedView)
    store.create("control")
    // a submission and an already-active CCD (must be ignored)
    init.publish(Ccd("tpch.nation", "q_nation", "mq_q", None, Status.Submitted,
      new Timestamp(1700000000000L)))
    init.publish(Ccd("tpch.other", "q_other", "mq_o", None, Status.Active,
      new Timestamp(1700000000000L)))

    ControlStream.runSubmissions(store, "control", init,
      Files.createTempDirectory("graft-ckpt").toString)

    assert(store.exists("q_nation") && store.readAll("q_nation").count() == 25)
    assert(!store.exists("q_other"), "non-submitted status ignored by the tail")
    // final state on the control topic is active (write-back happened)
    val last = store.readCompacted("control")
      .filter($"key" === "tpch.nation").select("value").first.getString(0)
    assert(last.contains(s""""status":"${Status.Active}""""))
  }

  test("checkpoint recovery: a second run processes only new submissions") {
    val root = Files.createTempDirectory("graft-ckpt-rec").toString
    val ckpt = Files.createTempDirectory("graft-ckpt-rec-cp").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val plane = new InMemoryControlPlane()
    val seedView = (table: String) =>
      if (table == "tpch.nation")
        Some(SeedViews.forTable(
          spark.read.parquet(s"$sf/nation.parquet"), table, Seq("n_nationkey")))
      else if (table == "tpch.region")
        Some(SeedViews.forTable(
          spark.read.parquet(s"$sf/region.parquet"), table, Seq("r_regionkey")))
      else None
    val init = new Initializer(spark, plane, store, "control", seedView)
    store.create("control")
    init.publish(Ccd("tpch.nation", "q_n1", "mq_n", None, Status.Submitted,
      new Timestamp(1700000000000L)))
    ControlStream.runSubmissions(store, "control", init, ckpt)
    val nationMsgs = store.readAll("control")
      .filter($"key" === "tpch.nation").count()
    // second run, SAME checkpoint, one NEW submission
    init.publish(Ccd("tpch.region", "q_r1", "mq_r", None, Status.Submitted,
      new Timestamp(1700000001000L)))
    ControlStream.runSubmissions(store, "control", init, ckpt)
    assert(store.exists("q_r1") && store.readAll("q_r1").count() == 5,
      "new submission processed")
    val nationMsgsAfter = store.readAll("control")
      .filter($"key" === "tpch.nation").count()
    assert(nationMsgsAfter == nationMsgs,
      "already-processed submission not replayed from the checkpointed offset")
  }

  test("runLive picks up submissions appended after the query starts") {
    val root = Files.createTempDirectory("graft-live").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val plane = new InMemoryControlPlane()
    val seedView = (table: String) =>
      if (table == "tpch.region")
        Some(SeedViews.forTable(
          spark.read.parquet(s"$sf/region.parquet"), table, Seq("r_regionkey")))
      else None
    val init = new Initializer(spark, plane, store, "control", seedView)
    store.create("control")
    val q = ControlStream.runLive(store, "control", init,
      Files.createTempDirectory("graft-live-ckpt").toString, cadence = "1 second")
    try {
      // append AFTER the live query started — the tail must pick it up
      init.publish(Ccd("tpch.region", "q_region_live", "mq_r", None,
        Status.Submitted, new Timestamp(1700000000000L)))
      q.processAllAvailable()
      assert(store.exists("q_region_live") &&
        store.readAll("q_region_live").count() == 5)
    } finally { q.stop(); q.awaitTermination() }
  }

  test("the control tail reads the topic through the connector") {
    val root = Files.createTempDirectory("graft-tail").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    store.create("control")
    val plan = ControlStream.controlTail(store, "control").queryExecution.analyzed
    val tables = plan
      .collect { case r: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2 =>
        r.table.name() }
    assert(tables == Seq(s"graft_topic(${java.nio.file.Paths.get(root, "control")})"),
      s"the tail must scan one TopicTable: $tables")
    // the loop streams raw messages: no decode, no filter in the plan
    assert(plan.output.map(_.name) == FileTopicStore.schema.fieldNames.toSeq)
    assert(plan.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isEmpty)
    assert(!plan.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.JsonToStructs])), plan.treeString)
  }

  test("processBatch over a multi-file micro-batch launches exactly one Spark job") {
    val root = Files.createTempDirectory("graft-batch-jobs").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val publisher = new Initializer(spark, new InMemoryControlPlane(), store,
      "control", _ => None)
    store.create("control")
    val ts = new Timestamp(1700000000000L)
    // three publishes: three control-topic files, one of them not a submission
    publisher.publish(Ccd("tpch.nation", "q_n", "mq", None, Status.Submitted, ts))
    publisher.publish(Ccd("tpch.region", "q_r", "mq", None, Status.Submitted, ts))
    publisher.publish(Ccd("tpch.part", "q_p", "mq", None, Status.Active, ts))
    assert(Files.list(java.nio.file.Paths.get(root, "control")).toArray
      .count(_.toString.endsWith(".json")) == 3)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val recording = new Initializer(spark, new InMemoryControlPlane(), store,
      "control", _ => None) {
      override def process(ccd: Ccd): Seq[Ccd] = { seen += ccd.table; Seq.empty }
    }
    val jobs = scala.collection.mutable.ArrayBuffer[Int]()
    ControlStream.controlTail(store, "control").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("graft-batch-jobs-ckpt").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        jobs += JobCount(spark)(ControlStream.processBatch(recording)(b)); ()
      }
      .start().awaitTermination()
    assert(jobs.toSeq == Seq(1), s"jobs per micro-batch: $jobs")
    assert(seen.toSeq == Seq("tpch.nation", "tpch.region"))
  }

  test("flatMapGroupsWithState emits only genuine transitions") {
    import ControlStream.{KeyedStatus, Transition}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[KeyedStatus]
    val q = ControlStream.transitions(in.toDS())
      .writeStream.format("memory").queryName("transitions")
      .outputMode("append").start()
    in.addData(
      KeyedStatus("a", 0, "submitted"), KeyedStatus("a", 1, "submitted"),
      KeyedStatus("a", 2, "prepared"), KeyedStatus("b", 0, "submitted"))
    q.processAllAvailable()
    in.addData(KeyedStatus("a", 3, "prepared"), KeyedStatus("a", 4, "active"))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("transitions").as[Transition].collect()
      .sortBy(t => (t.key, t.offset)).toSeq
    assert(got == Seq(
      Transition("a", null, "submitted", 0),
      Transition("a", "submitted", "prepared", 2),
      Transition("a", "prepared", "active", 4), // duplicate 'prepared' at 3 dropped
      Transition("b", null, "submitted", 0)))
  }

  test("session windows close under watermark in a live stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val events = in.toDS().toDF("user_id", "ts")
    val q = events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id", $"n")
      .writeStream.format("memory").queryName("session_stream")
      .outputMode("append").start()
    val t0 = 1700000000000L
    // two events 10 min apart (one session), then an event 2h later that
    // advances the watermark far enough to close and emit the session
    in.addData((7L, new java.sql.Timestamp(t0)),
      (7L, new java.sql.Timestamp(t0 + 10 * 60 * 1000)))
    q.processAllAvailable()
    in.addData((7L, new java.sql.Timestamp(t0 + 2 * 3600 * 1000)))
    q.processAllAvailable()
    q.stop()
    val closed = spark.table("session_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(closed == Seq((7L, 2L)), s"first session closed with 2 events, got $closed")
  }

  test("streaming dedup drops replayed events within the watermark") {
    import ControlStream.KeyedStatus
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val events = in.toDS().toDF("event_id", "ts")
    val q = ControlStream.streamingDedup(events, "10 minutes")
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    val t0 = 1700000000000L
    in.addData((1L, new java.sql.Timestamp(t0)), (2L, new java.sql.Timestamp(t0 + 1000)))
    q.processAllAvailable()
    in.addData((1L, new java.sql.Timestamp(t0 + 2000)), // replay of id 1 → dropped
      (3L, new java.sql.Timestamp(t0 + 3000)))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("dedup_stream").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("watermarked windowed counts run as a stream over the events table") {
    // stream the real events through a file source by pointing at the
    // parquet directly (batch schema == stream schema)
    val events = graft.engine.Tables.events(spark, sf)
    val batchSchema = spark.read.parquet(s"$sf/events.parquet").schema
    val raw = spark.readStream.schema(batchSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(sf)
    // same schema dispatch as Tables.events: nanos-as-long generations
    // need the DIV truncation, micros generations arrive as
    // TIMESTAMP_NTZ — cast to TIMESTAMP (session tz is UTC, values
    // identical) because EventTimeWatermark rejects NTZ event time
    val streamed = batchSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case _ =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
    }
    val q = ControlStream.windowedCounts(streamed)
      .writeStream.format("memory").queryName("win_counts")
      .outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val streamTotal = spark.table("win_counts")
      .agg(org.apache.spark.sql.functions.sum("n")).first.getLong(0)
    assert(streamTotal == events.count(), "every event lands in exactly one window")
  }

  test("same-millisecond same-key submissions process in topic-offset " +
    "order even when the batch arrives offset-reversed") {
    // Two submissions of ONE table within the same millisecond: the
    // batch's collect order is partition order, NOT pinned, and the
    // stable timestamp sort alone cannot break the tie — whichever
    // lifecycle ran first would win (the at-least-once recheck drops
    // the second), a nondeterministic surviving config. processBatch
    // must therefore order by topic offset. Feed it the batch rows
    // offset-REVERSED to prove the contract does not ride on readAll's
    // natural order.
    val root = Files.createTempDirectory("graft-order").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val init0 = new Initializer(spark, new InMemoryControlPlane(), store,
      "control", _ => None)
    store.create("control")
    val ts = new Timestamp(1700000000000L)
    // one publishAll → one append; the seq column pins offsets 0,1
    init0.publishAll(Seq(
      Ccd("tpch.nation", "q_first", "mq", None, Status.Submitted, ts),
      Ccd("tpch.nation", "q_second", "mq", None, Status.Submitted, ts)))
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val recording = new Initializer(spark, new InMemoryControlPlane(), store,
      "control", _ => None) {
      override def process(ccd: Ccd): Seq[Ccd] = { seen += ccd.queue; Seq.empty }
    }
    val reversed = store.readAll("control")
      .orderBy(org.apache.spark.sql.functions.col("offset").desc)
    ControlStream.processBatch(recording)(reversed)
    assert(seen.toSeq == Seq("q_first", "q_second"),
      s"batch processed out of append order: $seen")
  }
}
