package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.graft.JobCount
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.max
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.cdc.{InMemoryControlPlane, Initializer}
import graft.engine.model.{Ccd, Status}
import graft.engine.topics.FileTopicStore

/** FileTopicStore semantics (reference topic_store.clj): keyed append
  * on both write modes (driver-local and distributed), offset ordering
  * and the per-file offset memo, compaction-on-read, ensure/clear,
  * delete retry with cube-law backoff. */
class TopicStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private def freshStore(): (FileTopicStore, String) = {
    val root = Files.createTempDirectory("graft-topics").toString
    (new FileTopicStore(spark, root, sleeper = _ => ()), root)
  }

  /** A store over `root` whose readCompacted always takes the Spark path. */
  private def sparkReadStore(root: String, numPartitions: Int = 1): FileTopicStore =
    new FileTopicStore(SparkTest.sparkReadSession, root, sleeper = _ => (),
      numPartitions = numPartitions)

  private def isLocal(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  test("create / exists / clear lifecycle") {
    val (store, _) = freshStore()
    assert(!store.exists("t1"))
    store.create("t1")
    assert(store.exists("t1"))
    store.clear("t1")
    assert(store.exists("t1") && store.readAll("t1").count() == 0)
  }

  test("append assigns contiguous offsets across appends") {
    val (store, root) = freshStore()
    store.create("t")
    store.append("t", Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value"))
    store.append("t", Seq.empty[(String, String)].toDF("key", "value"))
    store.append("t", Seq(("k1", "v3")).toDF("key", "value"))
    val files = {
      val ls = Files.list(java.nio.file.Paths.get(root, "t"))
      try ls.toArray.map(_.toString).count(f => f.endsWith(".json") &&
        !java.nio.file.Paths.get(f).getFileName.toString.startsWith("."))
      finally ls.close()
    }
    assert(files == 2, "one file per non-empty append; an empty one writes nothing")
    val rows = store.readAll("t").select("key", "value", "offset")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._3).toSeq == Seq(0L, 1L, 2L))
    assert(rows.last == (("k1", "v3", 2L)))
  }

  test("readCompacted keeps latest value per key (log compaction)") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq(("a", "1"), ("b", "1")).toDF("key", "value"))
    store.append("t", Seq(("a", "2")).toDF("key", "value"))
    val m = store.readCompacted("t").select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "2", "b" -> "1"))
  }

  test("ARBITRARY append sequences: compaction keeps exactly last-per-key " +
    "plus all un-keyed, offsets stay contiguous") {
    // the fixed-data tests pin each behavior once; this fuzzes the
    // combination — random interleavings of keyed/unkeyed appends with
    // key reuse across and within appends, checked against a
    // driver-side fold of the log contract
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val msgGen = for {
      k <- Gen.oneOf(Gen.const(null: String), Gen.oneOf("a", "b", "c"))
      v <- Gen.chooseNum(0, 999).map(_.toString)
    } yield (k, v)
    val appendsGen = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(m => Gen.listOfN(m, msgGen))))
    // forAllNoShrink: the default String shrinker NPEs on null keys
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(appendsGen) { appends =>
        val (store, root) = freshStore()
        store.create("t")
        appends.foreach(batch => store.append("t", batch.toDF("key", "value")))
        val log = appends.flatten
        val all = store.readAll("t").select("key", "value", "offset")
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
          .sortBy(_._3)
        val offsetsOk = all.map(_._3).toSeq == log.indices.map(_.toLong)
        val orderOk = all.map(t => (t._1, t._2)).toSeq == log
        val wantKeyed = log.zipWithIndex.filter(_._1._1 != null)
          .groupBy(_._1._1).map { case (_, ms) => ms.maxBy(_._2)._1 }.toSet
        val wantUnkeyed = log.filter(_._1 == null)
        // on both read paths: this store compacts the tiny log on the
        // driver, one over the Spark-read session through Spark
        val readers = Seq(store, sparkReadStore(root))
        offsetsOk && orderOk && readers.forall { reader =>
          val compacted = reader.readCompacted("t").select("key", "value")
            .collect().map(r => (r.getString(0), r.getString(1)))
          compacted.filter(_._1 != null).toSet == wantKeyed &&
            compacted.filter(_._1 == null).map(_._2).sorted.toSeq == wantUnkeyed.map(_._2).sorted
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("un-keyed (null-key) messages land and survive reads (core.clj:171-174)") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq((null: String, "bare1"), (null, "bare2"), ("k", "keyed"))
      .toDF("key", "value"))
    val rows = store.readAll("t").select("key", "value").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(rows.count(_._1 == null) == 2, "non-map seeds sent un-keyed")
    assert(rows.map(_._2).toSet == Set("bare1", "bare2", "keyed"))
  }

  test("storage compaction keeps latest per key + all un-keyed, preserves offsets") {
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq(("a", "1"), ("b", "1"), (null: String, "bare")).toDF("key", "value"))
    store.append("t", Seq(("a", "2")).toDF("key", "value"))
    store.compact("t")
    val rows = store.readAll("t").select("key", "value", "offset").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == Set(("a", "2", 3L), ("b", "1", 1L), (null, "bare", 2L)))
    // appends continue past the surviving max offset
    store.append("t", Seq(("c", "1")).toDF("key", "value"))
    assert(store.readAll("t").agg(org.apache.spark.sql.functions.max($"offset"))
      .first.getLong(0) == 4L)
  }

  test("partitioned topics: key-hash routing, per-partition offsets, compaction") {
    val root = Files.createTempDirectory("graft-topics-p").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = 8)
    store.create("t")
    val keys = (1 to 100).map(i => (s"k$i", s"v$i"))
    store.append("t", keys.toDF("key", "value"))
    store.append("t", Seq(("k1", "v1b"), ("k2", "v2b")).toDF("key", "value"))
    val all = store.readAll("t").collect()
    // every key is always in the same partition; offsets are dense per partition
    val byPartition = all.groupBy(_.getInt(2))
    byPartition.foreach { case (_, rows) =>
      val offs = rows.map(_.getLong(3)).sorted.toSeq
      assert(offs == (0L until offs.size).toSeq, "per-partition offsets dense from 0")
    }
    val k1parts = all.filter(_.getString(0) == "k1").map(_.getInt(2)).distinct
    assert(k1parts.length == 1, "a key lives in exactly one partition")
    // compaction keeps the replays' latest values across partitions
    val m = store.readCompacted("t").select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == 100 && m("k1") == "v1b" && m("k2") == "v2b" && m("k3") == "v3")
  }

  test("cube-law backoff curve matches the reference (topic_store.clj:21-27)") {
    // n=0 → 0: the first retry is immediate, exactly as the reference's
    // (-> n (pow 3) (/ 2) round (* 2) (* 1000)) evaluates at n=0
    val got = (0 to 5).map(FileTopicStore.backoffMs)
    assert(got == Seq(0L, 2000L, 8000L, 28000L, 64000L, 126000L))
  }

  test("append with a seq column pins intra-append offset order (multi-partition source)") {
    val (store, _) = freshStore()
    store.create("t")
    // same key, several states in one append, source spread over many
    // partitions — without the seq contract the final offset order would
    // depend on task layout
    val states = (0 until 8).map(i => ("tbl", s"state$i", i))
    store.append("t", states.toDF("key", "value", "seq").repartition(8))
    val vals = store.readAll("t").orderBy($"offset")
      .select("value").collect().map(_.getString(0)).toSeq
    assert(vals == (0 until 8).map(i => s"state$i"))
    // compaction therefore keeps the LAST published state
    val m = store.readCompacted("t").select("key", "value")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("tbl" -> "state7"))
  }

  test("dirty-ratio policy self-compacts a busy keyed topic") {
    val root = Files.createTempDirectory("graft-topics-dr").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => (),
      dirtyRatio = Some(0.75))
    store.create("t")
    // generations of the same key: the policy evaluates the log AS OF
    // THE PREVIOUS append (one scan per append), so with 4 superseded
    // states on file — ratio 3/4 ≥ 0.75 — the 5th append self-compacts
    (1 to 5).foreach(i => store.append("t", Seq(("k", s"v$i")).toDF("key", "value")))
    val rows = store.readAll("t").select("key", "value").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("k", "v5")), s"expected self-compacted single row, got $rows")
    // appends continue past the surviving offset
    store.append("t", Seq(("k2", "x")).toDF("key", "value"))
    assert(store.readAll("t").count() == 2)
  }

  test("compaction's crash window is loss-free: old + compacted files " +
    "visible together still read correctly, next compact() restores clean") {
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-compact-crash").toString
    val store = new FileTopicStore(spark, root)
    store.create("t")
    store.append("t", Seq(("a", "1"), ("b", "1")).toDF("key", "value"))
    store.append("t", Seq(("a", "2")).toDF("key", "value"))
    val before = store.readCompacted("t")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap

    // simulate the crash-between-flip-and-delete state the compact()
    // comment documents: ALL old files still present, plus a complete
    // visible compacted copy (duplicate rows, identical offsets)
    val dirT = java.nio.file.Paths.get(root, "t")
    val olds = {
      val ls = java.nio.file.Files.list(dirT)
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.filter(_.toString.endsWith(".json")).toVector
      } finally ls.close()
    }
    olds.zipWithIndex.foreach { case (p, i) =>
      java.nio.file.Files.copy(p, dirT.resolve(s"compacted-crash-$i.json"))
    }
    // keyed duplicates collapse on read: same compacted view as before
    val after = store.readCompacted("t")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(after == before, "duplicated files must not change the compacted view")
    // the next compact() restores a clean, duplicate-free log
    store.compact("t")
    assert(store.readAll("t").count() == 2) // a→2, b→1, exactly once each
    assert(store.readCompacted("t")
      .select(col("key"), col("value")).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap == before)
  }

  test("hidden (dot-prefixed) staging files are invisible to reads and " +
    "cleared by the next compact()") {
    val root = java.nio.file.Files.createTempDirectory("graft-compact-hidden").toString
    val store = new FileTopicStore(spark, root)
    store.create("t")
    store.append("t", Seq(("a", "1")).toDF("key", "value"))
    val n = store.readAll("t").count()
    // a compaction that died in step 1 leaves dot-prefixed files behind
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root, "t", ".compacted-dead-0.json"),
      """{"key":"zz","value":"GHOST","partition":0,"offset":99}""")
    assert(store.readAll("t").count() == n,
      "hidden staging files must never be read")
    store.compact("t")
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(root, "t"))
    try {
      import scala.jdk.CollectionConverters._
      assert(!ls.iterator().asScala.exists(_.getFileName.toString.startsWith(".")),
        "stale staging files must be cleared by compact()")
    } finally ls.close()
    assert(store.readAll("t").count() == n)
  }

  test("deleteWithRetry retries with backoff until gone, then can re-create") {
    val root = Files.createTempDirectory("graft-topics").toString
    val slept = scala.collection.mutable.Buffer[Long]()
    // fail the first two delete attempts to exercise the retry loop
    var deletes = 0
    val store: FileTopicStore = new FileTopicStore(spark, root,
      sleeper = ms => slept += ms,
      failures = (op, _) => op == "delete" && { deletes += 1; deletes <= 2 })
    store.create("t")
    intercept[RuntimeException](store.delete("t")) // first injected failure
    store.deleteWithRetry("t") // fails once more inside, then succeeds
    assert(!store.exists("t"))
    assert(slept.nonEmpty && slept.head == 0L, "first retry is immediate (n=0 → 0ms)")
  }

  test("Initializer.publishAll onto a topic this store already wrote launches no Spark job") {
    val (store, root) = freshStore()
    val init = new Initializer(spark, new InMemoryControlPlane(), store, "control", _ => None)
    store.create("control")
    val ccd = Ccd("tpch.nation", "q", "mq", None, Status.Submitted, new Timestamp(0L))
    init.publish(ccd)
    val jobs = JobCount(spark)(init.publishAll(
      Seq(ccd.copy(status = Status.Prepared), ccd.copy(status = Status.Active))))
    assert(jobs == 0, s"a control append on a known topic launched $jobs job(s)")
    assert(init.currentStatus("tpch.nation").contains(Status.Active))
    // a second store over the same root has not seen those files: its
    // first append scans them in one job, the next one needs none
    val other = new FileTopicStore(spark, root, sleeper = _ => ())
    val init2 = new Initializer(spark, new InMemoryControlPlane(), other, "control", _ => None)
    assert(JobCount(spark)(init2.publish(ccd.copy(table = "tpch.region"))) == 1)
    assert(JobCount(spark)(init2.publish(ccd.copy(table = "tpch.part"))) == 0)
    val offsets = store.readAll("control").collect().map(_.getLong(3)).toSeq
    assert(offsets == (0L until 5L), s"offsets must stay contiguous: $offsets")
  }

  test("a distributed append onto a known topic launches at most 3 Spark jobs") {
    // 3 is what the former RDD writer (repartition + mapPartitions +
    // write.json) launched here; the connector's planned exchange, sort
    // and task commit must not cost more
    val (store, _) = freshStore()
    store.create("t")
    store.append("t", Seq(("a", "1")).toDF("key", "value"))
    val kv = Seq(("a", "2"), ("b", "1"), ("c", "1")).toDF("key", "value").repartition(2)
    val jobs = JobCount(spark)(store.append("t", kv))
    assert(jobs <= 3, s"a distributed append on a known topic launched $jobs jobs")
    assert(store.readAll("t").collect().map(_.getLong(3)).toSeq == (0L until 4L))
  }

  test("dirty-ratio stats never run for an exempt topic, on either append path") {
    def store(dirty: Option[Double]) = new FileTopicStore(spark,
      Files.createTempDirectory("graft-topics-ex").toString, sleeper = _ => (),
      dirtyRatio = dirty, dirtyRatioExempt = Set("c"))
    val exempt = store(Some(0.75))
    val plain = store(None)
    def history(s: FileTopicStore, topic: String): Unit = {
      s.create(topic)
      (1 to 4).foreach(i => s.append(topic, Seq(("k", s"v$i")).toDF("key", "value")))
      s.append(topic, Seq(("k", "w0")).toDF("key", "value").repartition(2))
      // the memo scans the distributed append's file
      s.append(topic, Seq(("k", "v5")).toDF("key", "value"))
    }
    Seq(exempt -> "c", plain -> "c", exempt -> "d").foreach { case (s, t) => history(s, t) }
    // the memo now knows every file, so a local append needs no job; a
    // stats pass would launch at least one
    assert(JobCount(spark)(exempt.append("c", Seq(("k", "v6")).toDF("key", "value"))) == 0)
    plain.append("c", Seq(("k", "v6")).toDF("key", "value"))
    val jobs = Seq(exempt -> "c", plain -> "c", exempt -> "d").map { case (s, t) =>
      JobCount(spark)(s.append(t, Seq(("k", "w1")).toDF("key", "value").repartition(2)))
    }
    assert(jobs(0) == jobs(1), s"a distributed append to an exempt topic ran extra jobs: $jobs")
    assert(jobs(2) > jobs(1), s"a non-exempt topic must still pay the stats pass: $jobs")
    assert(exempt.readAll("c").count() == 8, "an exempt topic is never compacted")
  }

  test("ARBITRARY mixes of local and distributed appends from two stores: " +
    "per-partition offsets unique and monotone, compaction is last-per-key") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // (messages, distributed?, written by the second store?)
    val appendGen = for {
      n <- Gen.chooseNum(1, 5)
      msgs <- Gen.listOfN(n, Gen.zip(Gen.oneOf("a", "b", "c", "d", "e"), Gen.chooseNum(0, 99)))
      distributed <- Gen.oneOf(true, false)
      second <- Gen.oneOf(true, false)
    } yield (msgs, distributed, second)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(Gen.chooseNum(2, 5).flatMap(Gen.listOfN(_, appendGen))) { appends =>
        val root = Files.createTempDirectory("graft-topics-mix").toString
        val stores = Seq.fill(2)(
          new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = 3))
        stores.head.create("t")
        // value = "append:seq:payload", so the log order is checkable
        val log = appends.zipWithIndex.map { case ((msgs, _, _), i) =>
          msgs.zipWithIndex.map { case ((k, v), j) => (k, s"$i:$j:$v", j) }
        }
        appends.zip(log).foreach { case ((_, distributed, second), rows) =>
          // rows arrive reversed: only `seq` defines the intra-append order
          val kv = rows.reverse.toDF("key", "value", "seq")
          stores(if (second) 1 else 0).append("t", if (distributed) kv.repartition(8) else kv)
        }
        val all = stores.head.readAll("t").collect()
          .map(r => (r.getString(1), r.getInt(2), r.getLong(3)))
        def rank(v: String): Long = { val Array(i, j, _) = v.split(':'); i.toLong * 1000 + j.toLong }
        val monotone = all.groupBy(_._2).values.forall { rs =>
          val byOffset = rs.sortBy(_._3)
          val ranks = byOffset.map(r => rank(r._1))
          byOffset.map(_._3).distinct.length == rs.length &&
            ranks.zip(ranks.drop(1)).forall { case (x, y) => x < y }
        }
        val model = log.flatten.map { case (k, v, _) => k -> v }.toMap // later wins
        val compacted = stores(1).readCompacted("t").select("key", "value").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        all.length == log.flatten.size && monotone && compacted == model
      })
    assert(res.passed, res.status.toString)
  }

  test("an append right after compact() continues past the surviving max offset, on both paths") {
    val (store, _) = freshStore()
    store.create("t")
    def local(k: String, v: String): Unit =
      store.append("t", Seq((k, v)).toDF("key", "value"))
    def distributed(k: String, v: String): Unit =
      store.append("t", Seq((k, v)).toDF("key", "value").repartition(2))
    def maxOffset: Long = store.readAll("t").agg(max($"offset")).first.getLong(0)
    local("a", "1"); distributed("a", "2"); local("b", "1") // offsets 0, 1, 2
    // compaction retires every file the memo knows; the survivors (a@1,
    // b@2) live in a file it has never seen
    store.compact("t")
    local("c", "1")
    assert(maxOffset == 3L)
    store.compact("t")
    distributed("d", "1")
    assert(maxOffset == 4L)
    val m = store.readCompacted("t").select("key", "value").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m == Map("a" -> "2", "b" -> "1", "c" -> "1", "d" -> "1"))
  }

  // after every step of an arbitrary sequence of appends, compact() and clear()
  // calls, so the driver path's parse memo carries over each of them
  test("ARBITRARY appends: readCompacted gives the same rows on the driver " +
    "path and the Spark path, partition, offset and ts included") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val msgGen = Gen.zip(
      Gen.oneOf(Gen.const(null: String), Gen.oneOf("a", "b", "c", "d", "e")),
      Gen.chooseNum(0, 99).map(_.toString))
    val appendGen = Gen.zip(Gen.chooseNum(1, 6).flatMap(Gen.listOfN(_, msgGen)),
      Gen.oneOf(true, false))
    // Right = an append (messages, distributed?); Left = "compact" or "clear"
    val stepGen: Gen[Either[String, (List[(String, String)], Boolean)]] = Gen.frequency(
      4 -> appendGen.map(Right(_)),
      1 -> Gen.const(Left("compact")),
      1 -> Gen.const(Left("clear")))
    // forAllNoShrink: the default String shrinker NPEs on null keys
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(Gen.chooseNum(1, 7).flatMap(Gen.listOfN(_, stepGen))) { steps =>
        val root = Files.createTempDirectory("graft-topics-paths").toString
        // ONE driver-path store across the whole sequence: its parse memo
        // carries over every read, compaction and clear
        val store = new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = 3)
        store.create("t")
        var live = List.empty[(String, String)]
        steps.forall { step =>
          step match {
            case Right((msgs, distributed)) =>
              val kv = msgs.toDF("key", "value")
              store.append("t", if (distributed) kv.repartition(4) else kv)
              live = live ++ msgs
            case Left("compact") => store.compact("t")
            case Left(_) => store.clear("t"); live = Nil
          }
          // the shared session's conf picks the path: see SparkTest.confLock
          val local = SparkTest.confLock.synchronized(store.readCompacted("t"))
          val remote = sparkReadStore(root, numPartitions = 3).readCompacted("t")
          def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
          // an empty log is 0 bytes, within even a 0 bound: both read it locally
          val ok = isLocal(local) && isLocal(remote) == live.isEmpty &&
            local.schema == remote.schema &&
            rows(local) == rows(remote) &&
            rows(local).size == live.map(_._1).filter(_ != null).distinct.size +
              live.count(_._1 == null)
          if (!ok) println(s"after $step: driver ${rows(local)} spark ${rows(remote)}")
          ok
        }
      })
    assert(res.passed, res.status.toString)
  }
}
