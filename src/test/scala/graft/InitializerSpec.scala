package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.graft.{ActionCount, JobCount}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.cdc.{Identifiers, InMemoryControlPlane, Initializer, SeedViews, Transforms}
import graft.engine.model.{Ccd, Status}
import graft.engine.topics.FileTopicStore

/** Batch orchestration invariants — the engine port of the reference's
  * property suite (core_test.clj): preparation creates exactly the
  * missing objects and ends `prepared`; errors surface as `error`
  * states; seeding fills the topic exactly; progress is monotone with
  * bounded cadence; the trigger is enabled after init and disabled on
  * error; restart resumes only non-terminal CCDs. */
class InitializerSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def ccd(table: String = "tpch.nation", queue: String = "q_nation") =
    Ccd(table, queue, s"mq_$queue", None, Status.Submitted,
      new Timestamp(1700000000000L))

  private def nationView(session: SparkSession = spark): DataFrame =
    SeedViews.forTable(
      session.read.parquet(s"$sf/nation.parquet"), "tpch.nation", Seq("n_nationkey"))

  /** `views` adds seed views next to tpch.nation's. */
  private def mkInit(
      failures: String => Boolean = _ => false,
      planeSetup: InMemoryControlPlane => Unit = _ => (),
      views: Map[String, DataFrame] = Map.empty,
      session: SparkSession = spark) = {
    val root = Files.createTempDirectory("graft-init").toString
    val store = new FileTopicStore(session, root, sleeper = _ => ())
    val plane = new InMemoryControlPlane(failures)
    planeSetup(plane)
    val seedView = (table: String) =>
      if (table == "tpch.nation") Some(nationView(session)) else views.get(table)
    val init = new Initializer(session, plane, store, "control", seedView,
      now = () => new Timestamp(1700000001000L))
    store.create("control")
    (init, plane, store)
  }

  test("prepare creates all missing objects and ends prepared (core_test.clj:49-61)") {
    val (init, plane, store) = mkInit()
    val states = init.prepare(ccd())
    assert(states.map(_.status) == Seq(Status.TriggerCreated, Status.QueueCreated,
      Status.TopicCreated, Status.Prepared))
    assert(plane.triggers.contains("tpch.nation"))
    assert(plane.queues.contains("q_nation"))
    assert(store.exists("q_nation"))
  }

  test("prepare creates only missing objects (core_test.clj:68-79)") {
    val (init, plane, store) = mkInit(planeSetup = p => {
      p.createTrigger("tpch.nation"); p.createQueue("q_nation", "mq_q_nation")
    })
    val states = init.prepare(ccd())
    // trigger + queue existed: no creation statuses for them, queue cleared
    assert(states.map(_.status) == Seq(Status.TopicCreated, Status.Prepared))
    assert(plane.cleared.contains("q_nation"))
  }

  test("prepare failure surfaces as error state (core_test.clj:115-124)") {
    val (init, _, _) = mkInit(failures = _ == "create-queue")
    val states = init.prepare(ccd())
    assert(states.last.status == Status.Error)
    assert(states.last.error.exists(_.contains("create-queue")))
  }

  test("invalid CCD is rejected with error (initializer.clj:51-56)") {
    val (init, _, _) = mkInit()
    val bad = ccd(table = "no_schema_qualifier")
    val states = init.process(bad)
    assert(states.map(_.status) == Seq(Status.Error))
    assert(states.head.error.exists(_.contains("invalid specification")))
    // alias required over the 22-char limit (core.clj:50-54)
    val long = ccd(table = "s.a_very_long_table_name_over_limit")
    assert(init.checkCcd(long).exists(_.contains("table-alias")))
    assert(init.checkCcd(long.copy(tableAlias = Some("alias"))).isEmpty)
  }

  test("seeding fills the topic exactly, keyed (core_test.clj:129-139)") {
    val (init, plane, store) = mkInit()
    val states = init.process(ccd())
    assert(states.last.status == Status.Active)
    val expected = spark.read.parquet(s"$sf/nation.parquet").count()
    val msgs = store.readAll("q_nation")
    assert(msgs.count() == expected)
    // keys are the sorted-pair JSON id arrays (seed_store_test.clj:102)
    val key0 = msgs.orderBy($"offset").select("key").first.getString(0)
    assert(key0.startsWith("""["n_nationkey","""))
    // values are full DML messages with nested id/info/data
    val v0 = msgs.orderBy($"offset").select("value").first.getString(0)
    assert(v0.contains(""""type":"insert"""") && v0.contains(""""data":{"""))
    assert(plane.triggerEnabled("tpch.nation"), "trigger enabled after init (core_test.clj:171-178)")
  }

  test("progress ledger: monotone, correct total, bounded cadence (core_test.clj:205-249)") {
    val (init, _, store) = mkInit()
    val states = init.process(ccd())
    val prog = states.filter(_.status == Status.Seeding).flatMap(_.progress)
    assert(prog.nonEmpty && prog.head(0) == 0L, "first report at 0 (core.clj:164)")
    val total = prog.head(1)
    assert(total == store.readAll("q_nation").count(), "total is the rows the seed sent")
    assert(prog.forall(_(1) == total))
    assert(prog.map(_(0)) == prog.map(_(0)).sorted, "monotone")
    assert(prog.size <= 52, "≤50 bucket reports + initial")
  }

  test("one initialize of tpch.nation launches its seed append's jobs and no others") {
    val (init, _, _) = mkInit()
    val prepared = init.prepare(ccd()).last
    val seeding = JobCount(spark)(assert(init.initialize(prepared).last.status == Status.Active))
    // the same append alone, onto the same fresh topic state
    val (_, _, other) = mkInit()
    other.create("q_nation")
    val append = JobCount(spark)(other.append("q_nation",
      Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(nationView()))))
    assert(append >= 1 && seeding == append,
      s"initialize launched $seeding job(s), its append alone $append")
  }

  test("a LocalRelation-backed seed view and an empty one both seed with the exact total") {
    import spark.implicits._
    val rows = SeedViews.forTable(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "name"), "s.rows", Seq("id"))
    val none = SeedViews.forTable(
      Seq.empty[(Long, String)].toDF("id", "name"), "s.none", Seq("id"))
    Seq(rows, none).foreach(v =>
      assert(v.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]))
    val (init, _, store) = mkInit(views = Map("s.rows" -> rows, "s.none" -> none))
    def seeded(table: String, queue: String) = {
      val states = init.process(ccd(table = table, queue = queue))
      assert(states.last.status == Status.Active, states.last.error)
      (states.filter(_.status == Status.Seeding).map(_.progress.get),
        store.readAll(queue).count())
    }
    val (rowsProgress, rowsSent) = seeded("s.rows", "q_rows")
    assert(rowsSent == 3 && rowsProgress.head == Seq(0L, 3L))
    assert(rowsProgress.last == Seq(3L, 3L))
    assert(seeded("s.none", "q_none") == ((Seq(Seq(0L, 0L)), 0L)),
      "an empty seed reports [0, 0] once, then goes active")
  }

  test("a seed whose write fails at execution ends in error without waiting on its count") {
    val failing = SeedViews.forTable(
      spark.read.parquet(s"$sf/nation.parquet")
        .withColumn("boom", raise_error(concat(lit("seed write failed at "), col("n_name")))
          .cast("string")),
      "tpch.failing", Seq("n_nationkey"))
    val (init, plane, _) = mkInit(views = Map("tpch.failing" -> failing))
    val states = Await.result(
      Future(init.process(ccd(table = "tpch.failing", queue = "q_failing"))), 120.seconds)
    assert(states.last.status == Status.Error)
    assert(states.last.error.exists(_.contains("seed write failed")), states.last.error)
    assert(!states.exists(_.status == Status.Seeding), "no progress for a seed that sent nothing")
    assert(!plane.triggerEnabled("tpch.failing"), "compensating disable")
  }

  test("a published timestamp decodes to the same instant on a non-UTC session") {
    // a sibling session carries the zone, so the shared session's conf
    // never changes under concurrently running suites
    val la = spark.newSession()
    la.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    val (init, _, store) = mkInit(session = la)
    val sent = ccd().copy(timestamp = new Timestamp(1700000001234L))
    init.publish(sent)
    assert(init.decodeCcds(store.readAll("control")).map(_.timestamp) == Seq(sent.timestamp))
  }

  test("error during seeding disables trigger, emits error (core_test.clj:180-203)") {
    val (init, plane, store) = mkInit()
    val states = init.process(ccd(table = "tpch.unknown_table", queue = "q_u"))
    assert(states.last.status == Status.Error)
    assert(!plane.triggerEnabled("tpch.unknown_table"), "compensating disable (core.clj:177-179)")
  }

  test("runBacklog resumes only non-terminal CCDs in timestamp order (initializer.clj:27-39)") {
    val (init, _, store) = mkInit()
    // simulate a control topic with one active (terminal), one stale-then-
    // resubmitted, and one prepared CCD
    init.publish(ccd(queue = "q_nation").copy(status = Status.Active))
    init.publish(ccd(table = "tpch.region", queue = "q_region")
      .copy(status = Status.Prepared, timestamp = new Timestamp(1700000002000L)))
    val processed = init.runBacklog()
    assert(processed.map(_._1.table) == Seq("tpch.region"),
      "terminal CCD skipped, non-terminal resumed")
    // the resumed CCD errors (region isn't a known seed view) — and that
    // error state is published, so a SECOND restart resumes nothing
    assert(init.runBacklog().isEmpty)
  }

  test("a table-less submission ends in error once; a restart does not re-run it") {
    val (init, _, store) = mkInit()
    // no table: the submission and its error state are both un-keyed
    init.publish(ccd(table = null, queue = "q_none"))
    val first = init.runBacklog()
    assert(first.size == 1, "the table-less submission surfaces as work once")
    assert(first.head._2.map(_.status) == Seq(Status.Error))
    assert(store.readAll("control").filter($"key".isNull).count() == 2)
    // resume folds every un-keyed message into one group, whose latest
    // state is the terminal error
    assert(init.runBacklog().isEmpty, "restart must not reprocess a table-less CCD")
  }

  test("malformed dotted table refs become error states, never throws (poison message)") {
    val (init, _, _) = mkInit()
    Seq("tpch.line-item", "a.b.c", "1pch.foo").foreach { bad =>
      val states = init.process(ccd(table = bad, queue = "q_bad"))
      assert(states.map(_.status) == Seq(Status.Error), s"for '$bad'")
      assert(states.head.error.exists(_.contains("invalid specification")))
    }
  }

  test("malformed timestamp in a control message degrades to epoch, never throws") {
    val (init, _, _) = mkInit()
    val df = Seq(
      ("tpch.nation", """{"table":"tpch.nation","queue":"q","queue-table":"mq_q",
        |"status":"submitted","timestamp":"not-a-timestamp"}""".stripMargin.replace("\n", "")),
      ("tpch.region", """{"table":"tpch.region","queue":"q2","queue-table":"mq_q2",
        |"status":"submitted"}""".stripMargin.replace("\n", "")))
      .toDF("key", "value")
    val ccds = init.decodeCcds(df)
    assert(ccds.size == 2, "poison timestamps must not crash the decode")
    assert(ccds.forall(_.timestamp.getTime == 0L), "malformed/missing → epoch default")
  }

  test("unparseable control message reaches a terminal error under its ORIGINAL key") {
    val (init, _, store) = mkInit()
    // a poison message: valid key, garbage value
    store.append("control", Seq(("tpch.broken", "{not json at all"))
      .toDF("key", "value"))
    val first = init.runBacklog()
    assert(first.size == 1, "poison message surfaces as work exactly once")
    assert(first.head._2.last.status == Status.Error)
    // the error state must compact OVER the poison message (same key) so
    // a restart sees a terminal state and does nothing
    val second = init.runBacklog()
    assert(second.isEmpty, "restart must not reprocess the poison message")
    val last = store.readCompacted("control")
      .filter($"key" === "tpch.broken").select("value").first.getString(0)
    assert(last.contains(s""""status":"${Status.Error}""""))
  }

  test("replayed submission for a terminal CCD is skipped (at-least-once guard)") {
    val (init, plane, store) = mkInit()
    val first = init.process(ccd())
    assert(first.last.status == Status.Active)
    val seeded = store.readAll("q_nation").count()
    // replay the ORIGINAL submitted message (fresh checkpoint scenario)
    val replay = init.process(ccd())
    assert(replay.isEmpty, "terminal state on the control topic blocks re-processing")
    assert(store.readAll("q_nation").count() == seeded, "live queue untouched")
  }

  test("currentStatus on a control topic below the read bound launches no Spark job; " +
    "with the bound at 0 it runs through Spark") {
    val root = Files.createTempDirectory("graft-init-jobs").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val init = new Initializer(spark, new InMemoryControlPlane(), store, "control", _ => None)
    store.create("control")
    init.publishAll(Seq(ccd(), ccd(table = "tpch.region", queue = "q_region"))
      .map(_.copy(status = Status.Active)))
    // the shared session's conf picks the path: see SparkTest.confLock
    val local = SparkTest.confLock.synchronized {
      JobCount(spark)(assert(init.currentStatus("tpch.nation").contains(Status.Active)))
    }
    assert(local == 0, s"a driver-path recheck launched $local job(s)")
    val sparkStore = new FileTopicStore(SparkTest.sparkReadSession, root, sleeper = _ => ())
    val sparkInit = new Initializer(SparkTest.sparkReadSession, new InMemoryControlPlane(),
      sparkStore, "control", _ => None)
    val distributed =
      JobCount(spark)(assert(sparkInit.currentStatus("tpch.region").contains(Status.Active)))
    assert(distributed >= 1, "openCostInBytes = 0 must select the Spark read path")
  }

  test("backlog and currentStatus on a control topic below the read bound run no Dataset " +
    "action and no job; above it they decode the same CCDs") {
    // an own session: its conf is the default bound, and the action
    // listener hears only this test's queries
    val session = spark.newSession()
    val root = Files.createTempDirectory("graft-init-actions").toString
    val store = new FileTopicStore(session, root, sleeper = _ => ())
    val init = new Initializer(session, new InMemoryControlPlane(), store, "control", _ => None)
    store.create("control")
    init.publishAll(Seq(ccd(), ccd(table = "tpch.region", queue = "q_region"))
      .map(_.copy(status = Status.Active)))
    init.publish(ccd(table = "tpch.part", queue = "q_part").copy(status = Status.Prepared))
    init.publish(ccd(table = null, queue = "q_none"))
    init.publish(ccd(table = null, queue = "q_none").copy(status = Status.Error))
    var resumed = Seq.empty[Ccd]
    var statuses = Seq.empty[Option[String]]
    val tables = Seq("tpch.nation", "tpch.region", "tpch.part", "tpch.missing", null)
    val jobs = JobCount(session) {
      val actions = ActionCount(session) {
        resumed = init.backlog()
        statuses = tables.map(init.currentStatus)
      }
      assert(actions == 0, s"driver-path backlog and rechecks ran $actions Dataset action(s)")
    }
    assert(jobs == 0, s"driver-path backlog and rechecks launched $jobs job(s)")
    assert(resumed.map(_.table) == Seq("tpch.part"))
    assert(statuses == Seq(Some(Status.Active), Some(Status.Active), Some(Status.Prepared), None, None))
    // the listener does hear an action on this session
    assert(ActionCount(session)(store.readAll("control").collect()) == 1)
    // the Spark read path decodes the same
    val sparkInit = new Initializer(SparkTest.sparkReadSession, new InMemoryControlPlane(),
      new FileTopicStore(SparkTest.sparkReadSession, root, sleeper = _ => ()), "control", _ => None)
    assert(sparkInit.backlog() == resumed)
    assert(tables.map(sparkInit.currentStatus) == statuses)
  }

  test("identifier utilities port (sql/util.clj:31-57)") {
    assert(Identifiers.splitTableRef("s.t") == (("s", "t")))
    assert(Identifiers.stripSchema("schema.obj") == "obj")
    assert(Identifiers.mqTable("schema.obj") == "mq_obj")
    intercept[IllegalArgumentException](Identifiers.splitTableRef("noschema"))
  }

  test("releaseSeed fires after initialize on success AND on error, " +
    "exactly once each (seed_store finally-drop parity)") {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val root = Files.createTempDirectory("graft-init-rel").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    val plane = new InMemoryControlPlane()
    val seedView = (table: String) =>
      if (table == "tpch.nation")
        Some(SeedViews.forTable(
          spark.read.parquet(s"$sf/nation.parquet"), table, Seq("n_nationkey")))
      else None
    val init = new Initializer(spark, plane, store, "control", seedView,
      releaseSeed = released += _,
      now = () => new Timestamp(1700000001000L))
    store.create("control")

    val ok = init.process(ccd())
    assert(ok.last.status == Status.Active)
    assert(released.toSeq == Seq("tpch.nation"),
      "the view must be released exactly once after a successful seed")

    // error path: unknown table fails INSIDE initialize (post-prepare)
    val bad = init.process(ccd(table = "tpch.missing", queue = "q_missing"))
    assert(bad.last.status == Status.Error)
    assert(released.toSeq == Seq("tpch.nation", "tpch.missing"),
      "the view must be released on the error path too (finally-drop)")
  }
}
