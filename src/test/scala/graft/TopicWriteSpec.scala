package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.topics.FileTopicStore

/** DataSource V2 write path ([[graft.engine.sources.TopicSource]]), the
  * writer of every distributed `FileTopicStore.append`: key-hash
  * routing, per-partition contiguous offsets
  * continuing the existing log (whichever append mode wrote it),
  * seq-ordered intra-append offsets, one `v2-*.json` file per task that
  * got rows — and interoperation with every reader and with compaction.
  * A `Seq(...).toDF` frame is a `LocalRelation` and takes the
  * driver-local mode, so the batch tests here `.repartition` it. */
class TopicWriteSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private def newStore(parts: Int = 4): (FileTopicStore, String) = {
    val root = Files.createTempDirectory("graft-v2-write").toString
    (new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = parts), root)
  }

  /** A topic's visible data files (hidden staging files excluded). */
  private def dataFiles(root: String, topic: String): Seq[Path] = {
    val ls = Files.list(Paths.get(root, topic))
    try ls.iterator().asScala
      .filter { p =>
        val name = p.getFileName.toString
        name.endsWith(".json") && !name.startsWith(".")
      }.toVector
    finally ls.close()
  }

  test("distributed append round-trips with contiguous offsets") {
    val (store, root) = newStore()
    store.create("t")
    import spark.implicits._
    store.append("t", Seq(("a", "1"), ("b", "2"), ("c", "3"), (null, "4"))
      .toDF("key", "value").repartition(2))
    // the connector wrote it: its files, not Spark's JSON writer's part-*
    val names = dataFiles(root, "t").map(_.getFileName.toString)
    assert(names.nonEmpty && names.forall(n => n.startsWith("v2-") && n.endsWith(".json")),
      s"a distributed append must write only v2-*.json data files: $names")
    val rows = store.readAll("t").collect()
    assert(rows.length == 4)
    // per-partition offsets are 0..n-1 with no gaps
    rows.groupBy(_.getInt(2)).foreach { case (_, rs) =>
      assert(rs.map(_.getLong(3)).sorted.sameElements(0L until rs.length))
    }
    // null key routes to partition 0
    assert(rows.filter(_.isNullAt(0)).forall(_.getInt(2) == 0))
    // the unordered connector read sees the same content
    val v2 = spark.read.format(classOf[graft.engine.sources.TopicSource].getName)
      .load(Paths.get(root, "t").toString)
      .orderBy(col("partition"), col("offset")).collect()
    assert(v2.map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq ==
      rows.sortBy(r => (r.getInt(2), r.getLong(3)))
        .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq)
  }

  test("distributed and local appends share one offset order") {
    val (store, _) = newStore()
    store.create("t")
    import spark.implicits._
    store.append("t", Seq(("k1", "a"), ("k2", "b")).toDF("key", "value"))
    store.append("t", Seq(("k1", "c")).toDF("key", "value").repartition(2))
    store.append("t", Seq(("k1", "d")).toDF("key", "value"))
    // k1's messages are one partition, offsets strictly increasing in
    // append order regardless of which mode wrote them
    val k1 = store.readAll("t").filter(col("key") === "k1")
      .orderBy(col("offset")).collect()
    assert(k1.map(_.getString(1)).toSeq == Seq("a", "c", "d"))
    assert(k1.map(_.getLong(3)).toSeq == k1.map(_.getLong(3)).toSeq.sorted)
    assert(k1.map(_.getInt(2)).distinct.length == 1)
    // compacted read keeps the V2-aware latest state
    val last = store.readCompacted("t").filter(col("key") === "k1").collect()
    assert(last.map(_.getString(1)).toSeq == Seq("d"))
  }

  test("distributed append honors the seq column per key") {
    val (store, _) = newStore(parts = 1)
    store.create("t")
    import spark.implicits._
    // deliberately shuffled input order; seq defines the lifecycle order
    val kv = Seq(("ccd", "active", 2L), ("ccd", "preparing", 0L), ("ccd", "seeding", 1L))
      .toDF("key", "value", "seq")
      .repartition(3) // multiple input partitions: arrival order is NOT seq order
    store.append("t", kv)
    val vals = store.readAll("t").orderBy(col("offset")).collect().map(_.getString(1))
    assert(vals.toSeq == Seq("preparing", "seeding", "active"))
    // compaction (keyed max-offset) lands on the lifecycle's final state
    assert(store.readCompacted("t").collect().map(_.getString(1)).toSeq == Seq("active"))
  }

  test("compaction works on a V2-written topic") {
    val (store, _) = newStore()
    store.create("t")
    import spark.implicits._
    (1 to 3).foreach { i =>
      store.append("t", Seq(("k1", s"v$i"), ("k2", s"w$i")).toDF("key", "value").repartition(2))
    }
    store.compact("t")
    val rows = store.readAll("t").collect()
    assert(rows.length == 2) // one live message per key
    assert(rows.map(r => r.getString(0) -> r.getString(1)).toMap ==
      Map("k1" -> "v3", "k2" -> "w3"))
  }

  test("V2 topic-to-topic relay: stream-read source, transform, stream-write sink") {
    // the full connector loop (Kafka-Streams shape): micro-batch tail of
    // topic A (file-set offsets) → transform → keyed append of each
    // micro-batch into topic B
    val (store, root) = newStore()
    store.create("a")
    store.create("b")
    import spark.implicits._
    store.append("a", Seq(("k1", "1"), ("k2", "2")).toDF("key", "value").repartition(2))
    val in = spark.readStream
      .format(classOf[graft.engine.sources.TopicSource].getName)
      .load(java.nio.file.Paths.get(root, "a").toString)
      .select(col("key"), concat(lit("relayed:"), col("value")).as("value"))
    val q = in.writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => store.append("b", b) }
      .option("checkpointLocation", Files.createTempDirectory("graft-relay-ckpt").toString)
      .start()
    try {
      q.processAllAvailable()
      store.append("a", Seq(("k1", "3")).toDF("key", "value").repartition(2))
      q.processAllAvailable()
    } finally q.stop()
    val out = store.readCompacted("b").filter(col("key").isNotNull).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("k1" -> "relayed:3", "k2" -> "relayed:2"),
      "relay must deliver every message exactly once per key with last-state wins")
  }

  test("raw V2 write with a LongType partition column cannot corrupt offsets") {
    // the analyzer's store-assignment inserts a checked LONG→INT cast
    // before the connector sees the rows, so the raw path routes
    // correctly rather than reading half a long's UnsafeRow bytes; a
    // caller that BYPASSES analysis is stopped by the builder's own
    // type check (TopicWriteBuilderSpec) — either way, never corruption
    val (store, root) = newStore()
    store.create("t")
    import spark.implicits._
    val widened = Seq(("k", "v", 0L, 0L, new java.sql.Timestamp(0L)))
      .toDF("key", "value", "partition", "offset", "ts") // partition: LONG
    widened.write.format(classOf[graft.engine.sources.TopicSource].getName)
      .mode("append").save(java.nio.file.Paths.get(root, "t").toString)
    val rows = store.readAll("t").collect()
    assert(rows.length == 1 && rows.head.getInt(2) == 0 &&
      rows.head.getLong(3) == 0L,
      "the cast row must land exactly where an IntegerType one would")
  }

  test("no staging files survive a committed append") {
    val (store, root) = newStore()
    store.create("t")
    import spark.implicits._
    store.append("t", Seq(("a", "1")).toDF("key", "value").repartition(2))
    val ls = Files.list(java.nio.file.Paths.get(root, "t"))
    try {
      val names = ls.iterator()
      val bad = scala.jdk.CollectionConverters.IteratorHasAsScala(names).asScala
        .map(_.getFileName.toString).filter(_.startsWith(".staging")).toList
      assert(bad.isEmpty, s"staging leftovers: $bad")
    } finally ls.close()
  }

  test("a distributed append writes no empty data file for a task without rows") {
    // AQE off, so none of the 4 shuffle partitions is coalesced away and
    // three of the write's tasks get no rows (numPartitions = 1); a
    // sibling session, so the shared session's conf never changes
    val session = SparkTest.session.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    session.conf.set("spark.sql.shuffle.partitions", "4")
    val root = Files.createTempDirectory("graft-v2-empty").toString
    val store = new FileTopicStore(session, root, sleeper = _ => ())
    store.create("t")
    import session.implicits._
    (0 until 2).foreach { i =>
      store.append("t", Seq(("a", s"$i"), ("b", s"$i"), ("c", s"$i")).toDF("key", "value")
        .repartition(3))
    }
    val files = dataFiles(root, "t")
    assert(files.size == 2 && files.forall(Files.size(_) > 0),
      s"one non-empty file per append expected: ${files.map(f => f -> Files.size(f))}")
    val offsets = store.readAll("t").collect().map(_.getLong(3)).toSeq
    assert(offsets == (0L until 6L), s"offsets must stay contiguous: $offsets")
  }
}
