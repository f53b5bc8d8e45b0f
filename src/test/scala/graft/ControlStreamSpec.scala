package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.graft.{ActionCount, JobCount}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.cdc.{InMemoryControlPlane, Initializer, SeedViews}
import graft.engine.model.{Ccd, Status}
import graft.engine.streaming.ControlStream
import graft.engine.topics.FileTopicStore

/** Control path: the submission drain by offset → orchestration →
  * status write-back, its cost and recovery; the live loop;
  * flatMapGroupsWithState status machine; watermarked streaming
  * aggregates. */
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
    assert(!store.exists("q_other"), "non-submitted status ignored by the drain")
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
    // the live tail streams raw messages: no decode, no filter in the plan
    assert(plan.output.map(_.name) == FileTopicStore.schema.fieldNames.toSeq)
    assert(plan.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isEmpty)
    assert(!plan.expressions.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.JsonToStructs])), plan.treeString)
  }

  /** An initializer over `session` seeding nation and region from the
    * sf0.001 tables, recording each table it initializes. */
  private def seeding(session: org.apache.spark.sql.SparkSession, store: FileTopicStore,
      seeded: scala.collection.mutable.Buffer[String]): Initializer = {
    val views = Map("tpch.nation" -> ("nation", "n_nationkey"),
      "tpch.region" -> ("region", "r_regionkey"))
    val seedView = (table: String) => views.get(table).map { case (name, key) =>
      SeedViews.forTable(session.read.parquet(s"$sf/$name.parquet"), table, Seq(key))
    }
    new Initializer(session, new InMemoryControlPlane(), store, "control", seedView) {
      override def initialize(ccd: Ccd): Seq[Ccd] = { seeded += ccd.table; super.initialize(ccd) }
    }
  }

  private def submitted(table: String, queue: String) =
    Ccd(table, queue, "mq", None, Status.Submitted, new Timestamp(System.currentTimeMillis()))

  test("runSubmissions with nothing pending runs no job or query") {
    // a session of its own: its conf keeps the 4 MiB driver-read bound
    // whatever suites alongside set, and its listener hears only it
    val session = spark.newSession()
    val root = Files.createTempDirectory("graft-drain-idle").toString
    val ckpt = Files.createTempDirectory("graft-drain-idle-ckpt").toString
    val store = new FileTopicStore(session, root, sleeper = _ => ())
    val seeded = scala.collection.mutable.ArrayBuffer[String]()
    val init = seeding(session, store, seeded)
    store.create("control")
    init.publish(submitted("tpch.nation", "q_n"))
    init.publish(Ccd("tpch.part", "q_p", "mq", None, Status.Active, new Timestamp(0L)))
    ControlStream.runSubmissions(store, "control", init, ckpt)
    assert(seeded.toSeq == Seq("tpch.nation"))
    var jobs = -1
    val queries = org.apache.spark.graft.QueryStarts(session) {
      jobs = JobCount(session)(ControlStream.runSubmissions(store, "control", init, ckpt))
    }
    assert(jobs == 0, s"an idle drain launched $jobs job(s)")
    assert(queries == 0, s"an idle drain started $queries streaming quer(ies)")
    assert(seeded.toSeq == Seq("tpch.nation"))
    // past the lifecycle's own states, which the first drain published
    val last = store.readAll("control").collect().map(_.getAs[Long]("offset")).max
    assert(ControlStream.position(ckpt) == Map(0 -> last))
  }

  test("a drain of one submission runs only its seed append's jobs") {
    val session = spark.newSession()
    val seeded = scala.collection.mutable.ArrayBuffer[String]()
    // the seed append alone: one initialize of a prepared CCD
    val ref = seeding(session, new FileTopicStore(session,
      Files.createTempDirectory("graft-drain-ref").toString, sleeper = _ => ()), seeded)
    val prepared = ref.prepare(submitted("tpch.nation", "q_n")).last
    var states = Seq.empty[Ccd]
    val seedJobs = JobCount(session) { states = ref.initialize(prepared) }
    assert(states.last.status == Status.Active && seedJobs > 0)
    val store = new FileTopicStore(session,
      Files.createTempDirectory("graft-drain-one").toString, sleeper = _ => ())
    val init = seeding(session, store, seeded)
    store.create("control")
    init.publish(submitted("tpch.nation", "q_n"))
    val jobs = JobCount(session)(ControlStream.runSubmissions(store, "control", init,
      Files.createTempDirectory("graft-drain-one-ckpt").toString))
    assert(jobs == seedJobs, s"drain launched $jobs job(s), its seed append $seedJobs")
    assert(store.readAll("q_n").count() == 25)
  }

  test("compacting the control topic between drains re-runs nothing") {
    val root = Files.createTempDirectory("graft-drain-compact").toString
    val ckpt = Files.createTempDirectory("graft-drain-compact-ckpt").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val seeded = scala.collection.mutable.ArrayBuffer[String]()
    val init = seeding(spark, store, seeded)
    store.create("control")
    init.publish(submitted("tpch.nation", "q_n"))
    ControlStream.runSubmissions(store, "control", init, ckpt)
    def files() = Files.list(java.nio.file.Paths.get(root, "control")).toArray
      .count(_.toString.endsWith(".json"))
    val before = files()
    store.compact("control")
    assert(files() < before, "compaction rewrote nothing")
    ControlStream.runSubmissions(store, "control", init, ckpt)
    assert(seeded.toSeq == Seq("tpch.nation"), "a compacted log re-ran a lifecycle")
    // a submission after the compaction continues the offsets and runs
    init.publish(submitted("tpch.region", "q_r"))
    ControlStream.runSubmissions(store, "control", init, ckpt)
    assert(seeded.toSeq == Seq("tpch.nation", "tpch.region"))
    assert(store.readAll("q_r").count() == 5)
  }

  test("the position holds one offset per control-topic partition") {
    val root = Files.createTempDirectory("graft-drain-parts").toString
    val ckpt = Files.createTempDirectory("graft-drain-parts-ckpt").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = 3)
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val recording = new Initializer(spark, new InMemoryControlPlane(), store,
      "control", _ => None) {
      override private[graft] def process(ccd: Ccd, recheck: Boolean): Seq[Ccd] = {
        seen += ccd.table; Seq.empty
      }
    }
    store.create("control")
    val tables = (1 to 12).map(i => s"tpch.t$i")
    tables.foreach(t => recording.publish(submitted(t, s"q_$t")))
    ControlStream.runSubmissions(store, "control", recording, ckpt)
    assert(seen.sorted == tables.sorted)
    val rows = store.readAll("control").collect()
    val maxes = rows.groupBy(_.getAs[Int]("partition"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("offset")).max }
    assert(maxes.size > 1, "keys must spread over partitions")
    assert(rows.length == 12 && ControlStream.position(ckpt) == maxes,
      "one entry per partition, at its highest offset, however many files")
  }

  test("a drain over a Spark-read control topic keeps the position") {
    // a store whose every compacted read goes through Spark: the drain
    // filters the compacted frame by the position in Spark and collects
    // only the fresh rows
    val root = Files.createTempDirectory("graft-drain-spark").toString
    val ckpt = Files.createTempDirectory("graft-drain-spark-ckpt").toString
    val session = SparkTest.sparkReadSession
    val store = new FileTopicStore(session, root, sleeper = _ => ())
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    val recording = new Initializer(session, new InMemoryControlPlane(), store,
      "control", _ => None) {
      override private[graft] def process(ccd: Ccd, recheck: Boolean): Seq[Ccd] = {
        seen += ccd.table; Seq.empty
      }
    }
    store.create("control")
    recording.publish(submitted("tpch.nation", "q_n"))
    ControlStream.runSubmissions(store, "control", recording, ckpt)
    recording.publish(submitted("tpch.region", "q_r"))
    ControlStream.runSubmissions(store, "control", recording, ckpt)
    assert(seen.toSeq == Seq("tpch.nation", "tpch.region"))
    assert(ControlStream.position(ckpt) == Map(0 -> 1L))
  }

  test("Initializer.after filters a Spark frame by the position before collecting it") {
    val session = spark.newSession()
    val rows = Seq[(String, String, Integer, java.lang.Long)](
      ("a", "v0", 0, 3L), ("b", "v1", 0, 7L), ("c", "v2", 1, 2L),
      ("d", "v3", 2, 0L), ("e", "v4", null, 9L), ("f", "v5", 1, null))
      .toDF("key", "value", "partition", "offset")
    // an RDD-backed frame: not a driver LocalRelation, so after runs Spark
    val df = session.createDataFrame(rows.rdd, rows.schema)
    var out: (org.apache.spark.sql.DataFrame, Map[Int, Long]) = null
    val actions = ActionCount.executions(session) {
      out = Initializer.after(df, Map(0 -> 3L, 1 -> 2L))
    }
    val (fresh, next) = out
    // above partition 0's 3, nothing above partition 1's 2, partition 2
    // has no entry; a row without partition or offset is never fresh
    assert(fresh.collect().map(_.getString(0)).sorted.toSeq == Seq("b", "d"))
    assert(next == Map(0 -> 7L, 1 -> 2L, 2 -> 0L))
    assert(actions.size == 1, s"one action, got ${actions.size}")
    assert(actions.head.analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.nonEmpty, "the position is applied in Spark, before the collect")
  }

  test("a lifecycle that dies mid-drain leaves the position unmoved") {
    val root = Files.createTempDirectory("graft-drain-kill").toString
    val ckpt = Files.createTempDirectory("graft-drain-kill-ckpt").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    var kill = true
    val dying = new Initializer(spark, new InMemoryControlPlane(), store,
      "control", _ => None) {
      override private[graft] def process(ccd: Ccd, recheck: Boolean): Seq[Ccd] = {
        if (ccd.table == "tpch.region" && kill) {
          kill = false
          throw new AssertionError("injected kill")
        }
        seen += ccd.table; Seq.empty
      }
    }
    store.create("control")
    dying.publish(submitted("tpch.nation", "q_n"))
    ControlStream.runSubmissions(store, "control", dying, ckpt)
    val position = ControlStream.position(ckpt)
    assert(position == Map(0 -> 0L))
    dying.publish(submitted("tpch.region", "q_r"))
    intercept[AssertionError](ControlStream.runSubmissions(store, "control", dying, ckpt))
    assert(ControlStream.position(ckpt) == position)
    ControlStream.runSubmissions(store, "control", dying, ckpt)
    assert(seen.toSeq == Seq("tpch.nation", "tpch.region"))
    assert(ControlStream.position(ckpt) == Map(0 -> 1L))
  }

  test("a streaming-tail checkpoint re-runs no finished lifecycle") {
    val root = Files.createTempDirectory("graft-drain-legacy").toString
    val ckpt = Files.createTempDirectory("graft-drain-legacy-ckpt").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val seeded = scala.collection.mutable.ArrayBuffer[String]()
    val init = seeding(spark, store, seeded)
    store.create("control")
    init.publish(submitted("tpch.nation", "q_n"))
    // the former submission loop: an AvailableNow query over the tail
    // whose checkpoint holds file-set offsets and commits, no position
    ControlStream.controlTail(store, "control").writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        ControlStream.processBatch(init)(b) }
      .start().awaitTermination()
    assert(seeded.toSeq == Seq("tpch.nation"))
    assert(Files.isDirectory(java.nio.file.Paths.get(ckpt, "commits")) &&
      ControlStream.position(ckpt).isEmpty)
    ControlStream.runSubmissions(store, "control", init, ckpt)
    assert(seeded.toSeq == Seq("tpch.nation"), "a terminal lifecycle re-ran")
    assert(ControlStream.position(ckpt).nonEmpty)
    init.publish(submitted("tpch.region", "q_r"))
    ControlStream.runSubmissions(store, "control", init, ckpt)
    assert(seeded.toSeq == Seq("tpch.nation", "tpch.region"))
  }

  test("one key submitted twice between drains runs the later spec") {
    val root = Files.createTempDirectory("graft-drain-twice").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val seeded = scala.collection.mutable.ArrayBuffer[String]()
    val init = seeding(spark, store, seeded)
    store.create("control")
    init.publish(submitted("tpch.nation", "q_first"))
    init.publish(submitted("tpch.nation", "q_second"))
    ControlStream.runSubmissions(store, "control", init,
      Files.createTempDirectory("graft-drain-twice-ckpt").toString)
    assert(seeded.toSeq == Seq("tpch.nation"), "one lifecycle per key per drain")
    assert(store.exists("q_second") && store.readAll("q_second").count() == 25)
    assert(!store.exists("q_first"), "the superseded spec must not run")
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
    // Two submissions of ONE table within the same millisecond: a
    // frame's row order is not pinned, and the stable timestamp sort
    // alone cannot break the tie — whichever lifecycle ran first would
    // be superseded by the other, a nondeterministic surviving config.
    // (The drain hands processBatch one message per key; a frame of the
    // full log, as here, holds both.) processBatch must therefore order
    // by topic offset. Feed it the rows offset-REVERSED to prove the
    // contract does not ride on readAll's natural order.
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
      override private[graft] def process(ccd: Ccd, recheck: Boolean): Seq[Ccd] = {
        seen += ccd.queue; Seq.empty
      }
    }
    val reversed = store.readAll("control")
      .orderBy(org.apache.spark.sql.functions.col("offset").desc)
    ControlStream.processBatch(recording)(reversed)
    assert(seen.toSeq == Seq("q_first", "q_second"),
      s"batch processed out of append order: $seen")
  }
}
