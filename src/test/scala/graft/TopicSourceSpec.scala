package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.engine.sources.TopicSource
import graft.engine.topics.FileTopicStore

/** DataSource V2 topic connector, the store's only topic-file reader:
  * result parity with Spark's JSON reader (the reference parser, kept
  * in the test tree only), per-file scan parallelism, offset/partition
  * predicate pushdown and column pruning visible in the physical plan,
  * and the store's reads over it (snapshot, missing topic, corrupt
  * lines). */
class TopicSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val fmt = classOf[TopicSource].getName

  private def seeded(): (FileTopicStore, String) = {
    val root = Files.createTempDirectory("graft-v2").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => (), numPartitions = 4)
    store.create("t")
    store.append("t", (1 to 40).map(i => (s"k$i", s"v$i")).toDF("key", "value"))
    store.append("t", Seq(("k1", "v1b"), (null: String, "bare")).toDF("key", "value"))
    (store, Paths.get(root, "t").toString)
  }

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select($"key", $"value", $"partition", $"offset", $"ts")
      .collect().map(_.toString).sorted.toSeq

  private val allNull = "[null,null,null,null,null]"

  /** A cut-off record whose key parses before the error, a blank line
    * and a line that is not JSON at all. */
  private def writeCorrupt(dir: String): Unit =
    Files.writeString(Paths.get(dir, "hand-written.json"),
      "{\"key\":\"k2\",\"value\":\"cut off\n  \nnot json at all\n")

  test("V2 read equals the JSON-reader read, row for row") {
    val (store, dir) = seeded()
    // a compacted file, whose ts Spark's JSON writer wrote, then more
    // connector appends and the corrupt-line file
    store.compact("t")
    store.append("t", Seq(("k2", "v2b"), ("k41", "v41")).toDF("key", "value"))
    writeCorrupt(dir)
    val v2 = spark.read.format(fmt).load(dir)
    assert(v2.schema == FileTopicStore.schema)
    // Spark's JSON reader is the reference parser
    val json = spark.read.schema(FileTopicStore.schema).json(dir)
    assert(sorted(v2) == sorted(json))
    assert(sorted(v2).count(_ == allNull) == 2)
    assert(v2.rdd.getNumPartitions >= 2, "one input partition per log file")
  }

  test("offset/partition predicates push into the scan; residuals stay above") {
    val (store, dir) = seeded()
    val df = spark.read.format(fmt).load(dir)
      .filter($"offset" >= 1 && $"partition" === 2 && $"value".startsWith("v"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=[GreaterThanOrEqual(offset,1)"), plan)
    assert(plan.contains("EqualTo(partition,2)"), plan)
    val expected = store.readAll("t")
      .filter($"offset" >= 1 && $"partition" === 2 && $"value".startsWith("v"))
      .count()
    assert(df.count() == expected && expected > 0)
  }

  test("a corrupt line reads as an all-null row, as spark.read.json does; " +
    "appends and compacted reads go on past it") {
    val (store, dir) = seeded()
    writeCorrupt(dir)
    val v2 = sorted(spark.read.format(fmt).load(dir))
    assert(v2 == sorted(store.readAll("t")))
    assert(v2.count(_ == allNull) == 2, v2)
    // the offset memo parses the new file with the same reader
    store.append("t", Seq(("k1", "v1c")).toDF("key", "value"))
    val k1 = store.readAll("t").filter($"key" === "k1").orderBy($"offset")
      .select("value").collect().map(_.getString(0)).toSeq
    assert(k1 == Seq("v1", "v1b", "v1c"))
    val sparkPath = new FileTopicStore(SparkTest.sparkReadSession,
      Paths.get(dir).getParent.toString, numPartitions = 4)
    // the shared session's conf picks the path: see SparkTest.confLock
    val local = SparkTest.confLock.synchronized(store.readCompacted("t"))
    assert(local.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(sorted(local).count(_ == allNull) == 2, "both corrupt lines pass through un-keyed")
    // both modes parse with the connector's reader, so they agree row
    // for row, the cut-off line whose key parsed before the error included
    assert(sorted(sparkPath.readCompacted("t")) == sorted(local))
  }

  test("readAll and Spark-mode readCompacted frames do not see a later append") {
    val (store, dir) = seeded()
    val sparkPath = new FileTopicStore(SparkTest.sparkReadSession,
      Paths.get(dir).getParent.toString, numPartitions = 4)
    val all = store.readAll("t")
    val compacted = sparkPath.readCompacted("t")
    val (allBefore, compactedBefore) = (sorted(all), sorted(compacted))
    store.append("t", Seq(("k1", "v1-late"), ("k99", "v99")).toDF("key", "value"))
    assert(sorted(all) == allBefore && allBefore.size == 42)
    assert(sorted(compacted) == compactedBefore && compactedBefore.size == 41)
    assert(sorted(store.readAll("t")).size == 44, "a fresh read sees the append")
  }

  test("readAll and readCompacted on a missing topic throw") {
    val (store, _) = seeded()
    intercept[Exception](store.readAll("missing"))
    intercept[Exception](store.readCompacted("missing"))
  }

  test("column pruning reaches the reader") {
    val (store, dir) = seeded()
    val df = spark.read.format(fmt).load(dir).select($"key")
    assert(df.queryExecution.executedPlan.toString.contains("columns=[key]"))
    assert(df.collect().map(_.getString(0)).count(_ != null) == 41)
    assert(store.readAll("t").count() == 42) // incl. the null-key row
  }
}
