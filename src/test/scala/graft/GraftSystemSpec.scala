package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSystem
import graft.engine.cdc.{InMemoryControlPlane, Initializer, SeedViews, Transforms}
import graft.engine.model.{Ccd, Status}
import graft.engine.streaming.ControlStream
import graft.engine.topics.FileTopicStore

/** End-to-end system lifecycle: submit → drain → active; restart
  * resumes nothing (terminal states skipped) — the reference's full
  * service loop (system.clj + initializer.clj) in one test. */
class GraftSystemSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  test("submit → runOnce → active; restart resumes nothing") {
    val root = Files.createTempDirectory("graft-sys").toString
    val sys = new GraftSystem(spark, root, "/root/testdata/sf0.001",
      Map("nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey")))

    sys.submit("tpch.nation", "q_nation", "mq_nation")
    sys.submit("tpch.region", "q_region", "mq_region")
    sys.runOnce()

    // both seeded topics filled
    assert(sys.topics.readAll("q_nation").count() == 25)
    assert(sys.topics.readAll("q_region").count() == 5)
    // control state compacted to active for both
    val states = sys.controlState().collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(states.keySet == Set("tpch.nation", "tpch.region"))
    assert(states.values.forall(_.contains(s""""status":"${Status.Active}"""")))

    // a fresh system over the same root sees only terminal states → no work
    val sys2 = new GraftSystem(spark, root, "/root/testdata/sf0.001",
      Map("nation" -> Seq("n_nationkey"), "region" -> Seq("r_regionkey")))
    assert(sys2.start().isEmpty)
  }

  // ---------------------------------------------------------------
  // Crash-resume under failure injection: the reference's core
  // operational promise (initializer.clj:27-39) — a process killed
  // mid-seed leaves only durable state (control-topic files, partial
  // seed files, the drain's checkpointed position), and a restarted system must
  // re-run exactly the non-terminal CCDs, skip terminal ones, and
  // converge the seed topic via keyed compaction with no loss and no
  // duplicate identity beyond at-least-once.
  // ---------------------------------------------------------------

  private def ts() = new Timestamp(System.currentTimeMillis())
  private def nationView(sfDir: String): String => Option[org.apache.spark.sql.DataFrame] = {
    case table @ "tpch.nation" =>
      Some(SeedViews.forTable(
        spark.read.parquet(s"$sfDir/nation.parquet"), table, Seq("n_nationkey")))
    case table @ "tpch.region" =>
      Some(SeedViews.forTable(
        spark.read.parquet(s"$sfDir/region.parquet"), table, Seq("r_regionkey")))
    case _ => None
  }

  test("stream killed mid-seed (fatal error, nothing published): restart " +
    "re-runs the CCD from the backlog and converges") {
    val root = Files.createTempDirectory("graft-crash-kill").toString
    val sfDir = "/root/testdata/sf0.001"
    val plane = new InMemoryControlPlane() // shared: the catalog survives a worker death
    val seedView = nationView(sfDir)

    // the kill: the first append to the seed topic dies with an ERROR —
    // NOT an Exception, so initialize()'s compensation catch never runs,
    // exactly like a process kill: no error state, no trigger-disable,
    // no status published at all (publishAll batches at end of process())
    var killed = false
    val faulty = new FileTopicStore(spark, root,
      failures = (op, topic) => {
        if (op == "append" && topic == "q_nation" && !killed) {
          killed = true
          throw new AssertionError("injected kill: process died mid-seed")
        }
        false
      })
    val init = new Initializer(spark, plane, faulty, "cdc-control", seedView)
    init.publish(Ccd("tpch.nation", "q_nation", "mq_nation", None,
      Status.Submitted, ts()))
    // SAME checkpoint path GraftSystem derives, so the restarted
    // system's drain starts from the position this drain left
    val checkpoint = java.nio.file.Paths.get(root, "__checkpoint")
    Files.createDirectories(checkpoint)
    val position = ControlStream.position(checkpoint.toString)
    // the drain runs on the calling thread: the kill reaches the caller
    // as thrown, with no streaming query to wrap it
    val died = intercept[AssertionError] {
      ControlStream.runSubmissions(faulty, "cdc-control", init, checkpoint.toString)
    }
    assert(Iterator.iterate(died: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("injected kill"))),
      s"drain died for an unexpected reason: $died")
    assert(ControlStream.position(checkpoint.toString) == position,
      "a drain that died must leave its position unmoved")

    // durable mid-crash state: control topic still shows the NON-terminal
    // submitted state (the lifecycle's states were never published) and
    // the seed topic exists but holds nothing
    val sys2 = new GraftSystem(spark, root, seedView = seedView, plane = plane)
    val before = sys2.controlState().collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(before("tpch.nation").contains(s""""status":"${Status.Submitted}""""))
    assert(sys2.topics.exists("q_nation") &&
      sys2.topics.readAll("q_nation").count() == 0)

    // restart: backlog resumes exactly the non-terminal CCD to active
    val resumed = sys2.start()
    assert(resumed.map(_._1.table) == Seq("tpch.nation"))
    val states = resumed.head._2.map(_.status)
    assert(states.last == Status.Active)
    // idempotent re-prepare: trigger/queue/topic already exist (created
    // before the kill), so NO creation statuses are re-emitted
    assert(!states.exists(Set(Status.TriggerCreated, Status.QueueCreated,
      Status.TopicCreated)))
    assert(sys2.topics.readAll("q_nation").count() == 25)

    // the killed drain never advanced its position, so the restarted
    // drain reads the submission's key again — and finds its latest
    // state terminal (the resume above published it), so nothing is
    // seeded a second time; the position then moves past it
    sys2.runOnce()
    assert(ControlStream.position(checkpoint.toString) != position)
    assert(sys2.topics.readAll("q_nation").count() == 25)
    val after = sys2.controlState().collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(after("tpch.nation").contains(s""""status":"${Status.Active}""""))
  }

  test("killed after a partial seed with seeding published: restart wipes " +
    "the partial seed, re-seeds in full, and skips terminal CCDs") {
    val root = Files.createTempDirectory("graft-crash-partial").toString
    val sfDir = "/root/testdata/sf0.001"
    val plane = new InMemoryControlPlane()
    val seedView = nationView(sfDir)
    val sys = new GraftSystem(spark, root, seedView = seedView, plane = plane)

    // region completes BEFORE the crash — the terminal CCD the restart
    // must skip
    sys.submit("tpch.region", "q_region", "mq_region")
    sys.runOnce()

    // nation dies mid-seed, through the real components: prepared
    // published, a PARTIAL seed append on disk (the files a killed
    // distributed write leaves behind), seeding [0, 25] published —
    // then nothing: no active, no error, no compensation
    sys.submit("tpch.nation", "q_nation", "mq_nation")
    val ccd = Ccd("tpch.nation", "q_nation", "mq_nation", None,
      Status.Submitted, ts())
    val prep = sys.initializer.prepare(ccd)
    assert(prep.last.status == Status.Prepared)
    sys.initializer.publishAll(prep)
    val partial = Transforms.dmlMsgToSeedMsg(
      Transforms.seedRowToDmlMsg(seedView("tpch.nation").get)).limit(10)
    sys.topics.append("q_nation", partial)
    sys.initializer.publishAll(Seq(prep.last.copy(status = Status.Seeding,
      progress = Some(Seq(0L, 25L)), timestamp = ts())))
    assert(sys.topics.readAll("q_nation").count() == 10)

    // restart over the same root: ONLY nation resumes (region terminal),
    // re-prepare wipes the partial seed, the snapshot re-seeds in full
    val sys2 = new GraftSystem(spark, root, seedView = seedView, plane = plane)
    val resumed = sys2.start()
    assert(resumed.map(_._1.table) == Seq("tpch.nation"))
    assert(resumed.head._2.last.status == Status.Active)
    // exactly one message per snapshot row: the 10 partial messages are
    // gone (cleared by re-prepare), not duplicated under the fresh seed
    assert(sys2.topics.readAll("q_nation").count() == 25)
    val keys = sys2.topics.readCompacted("q_nation")
      .select(org.apache.spark.sql.functions.col("key"))
      .collect().map(_.getString(0))
    assert(keys.length == 25 && keys.distinct.length == 25,
      "seed topic must converge to one compacted state per key")
    // the drain reads nation's latest state (active, published by the
    // resume), not its submission, so nothing re-runs; region stays
    // untouched
    sys2.runOnce()
    assert(sys2.topics.readAll("q_nation").count() == 25)
    assert(sys2.topics.readAll("q_region").count() == 5)
    val states = sys2.controlState().collect()
      .map(r => r.getAs[String]("key") -> r.getAs[String]("value")).toMap
    assert(states("tpch.nation").contains(s""""status":"${Status.Active}""""))
    assert(states("tpch.region").contains(s""""status":"${Status.Active}""""))
  }

  test("multi-partition data path: seeded topic spreads keys, per-key order holds") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-sys-p").toString
    val sfDir = "/root/testdata/sf0.001"
    val sys = new GraftSystem(spark, root, "cdc-control",
      (table: String) =>
        if (table == "tpch.nation")
          Some(graft.engine.cdc.SeedViews.forTable(
            spark.read.parquet(s"$sfDir/nation.parquet"), table, Seq("n_nationkey")))
        else None,
      topicPartitions = 8)
    sys.submit("tpch.nation", "q_nation", "mq_nation")
    sys.runOnce()
    val rows = sys.topics.readAll("q_nation").collect()
    assert(rows.length == 25)
    val partsUsed = rows.map(_.getAs[Int]("partition")).distinct
    assert(partsUsed.length > 1, "keys spread over multiple topic partitions")
    // per-partition offsets dense from 0; a key lives in one partition
    rows.groupBy(_.getAs[Int]("partition")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("offset")).sorted.toSeq ==
        (0L until rs.length).toSeq)
    }
    // compacted read still sees every key exactly once
    assert(sys.topics.readCompacted("q_nation")
      .select(col("key")).distinct().count() == 25)
  }

  test("releaseSeed threads through GraftSystem to every initialize (the " +
    "reference's finally-drop seat)") {
    val root = Files.createTempDirectory("graft-release").toString
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    val sys = new GraftSystem(spark, root,
      seedView = nationView("/root/testdata/sf0.001"),
      plane = new InMemoryControlPlane(),
      releaseSeed = released += _)
    sys.submit("tpch.nation", "q_nation", "mq_nation")
    sys.runOnce()
    assert(released.toSeq == Seq("tpch.nation"),
      "the hook must fire exactly once per initialize, success path included")
  }

  test("killed during seed-topic compaction, both crash windows, reader " +
    "concurrent: no seed row lost or duplicated; restart restores clean") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val root = Files.createTempDirectory("graft-compact-kill").toString
    val sfDir = "/root/testdata/sf0.001"
    val plane = new InMemoryControlPlane()
    val seedView = nationView(sfDir)
    val sys = new GraftSystem(spark, root, seedView = seedView, plane = plane)
    sys.submit("tpch.nation", "q_nation", "mq_nation")
    sys.runOnce()

    // CDC updates for 10 of the 25 keys → superseded rows on file, so
    // compaction has real work (a no-op compact can't prove the windows)
    val seed = Transforms.dmlMsgToSeedMsg(
      Transforms.seedRowToDmlMsg(seedView("tpch.nation").get))
    sys.topics.append("q_nation",
      seed.withColumn("value", concat(col("value"), lit("-v2")))
        .orderBy("key").limit(10))
    val expected = sys.topics.readCompacted("q_nation")
      .select("key", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(expected.size == 25 && expected.values.count(_.endsWith("-v2")) == 10)

    // maintenance compaction killed in EACH crash window (a process
    // kill, not an error — AssertionError from the hook), with a reader
    // over the crashed on-disk state each time: the compacted view must
    // be bit-identical to the pre-crash one — nothing lost (window 1:
    // staging hidden, old intact) and nothing duplicated beyond what
    // keyed compaction collapses (window 2: old + new visible together)
    Seq("compact-staged", "compact-flipped").foreach { window =>
      var fired = false
      val killer = new FileTopicStore(spark, root,
        failures = (op, t) => {
          if (op == window && t == "q_nation") {
            fired = true
            throw new AssertionError(s"injected kill: $window")
          }
          false
        })
      intercept[AssertionError] { killer.compact("q_nation") }
      assert(fired, s"$window fault point never fired — test proves nothing")
      val seen = sys.topics.readCompacted("q_nation")
        .select("key", "value").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(seen == expected,
        s"reader over the $window crash state diverged from the pre-crash view")
    }

    // restart over the same root: the CCD is terminal (no re-seed), and
    // the next maintenance compact() restores a clean duplicate-free log
    val sys2 = new GraftSystem(spark, root, seedView = seedView, plane = plane)
    assert(sys2.start().isEmpty, "terminal CCD must not re-run after the kill")
    new FileTopicStore(spark, root).compact("q_nation")
    val rows = sys2.topics.readAll("q_nation")
      .select("key", "value").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(rows.length == 25, s"clean log holds exactly one row per key")
    assert(rows.toMap == expected, "post-restart log must keep latest per key")
  }
}
