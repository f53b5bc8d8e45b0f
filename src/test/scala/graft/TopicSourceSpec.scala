package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.engine.sources.TopicSource
import graft.engine.topics.FileTopicStore

/** DataSource V2 topic connector: result parity with the JSON reader,
  * per-file scan parallelism, offset/partition predicate pushdown, and
  * column pruning — all visible in the physical plan. */
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

  test("V2 read equals the JSON-reader read, row for row") {
    val (store, dir) = seeded()
    val v2 = spark.read.format(fmt).load(dir)
    assert(v2.schema == FileTopicStore.schema)
    val a = v2.collect().map(_.toString).sorted.toSeq
    val b = store.readAll("t")
      .select($"key", $"value", $"partition", $"offset", $"ts")
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
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
    Files.writeString(Paths.get(dir, "hand-written.json"),
      "{\"key\":\"k2\",\"value\":\"cut off\n  \nnot json at all\n")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select($"key", $"value", $"partition", $"offset", $"ts")
        .collect().map(_.toString).sorted.toSeq
    val v2 = sorted(spark.read.format(fmt).load(dir))
    assert(v2 == sorted(store.readAll("t")))
    assert(v2.count(_ == "[null,null,null,null,null]") == 2, v2)
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
    val allNull = "[null,null,null,null,null]"
    assert(sorted(local).count(_ == allNull) == 2, "both corrupt lines pass through un-keyed")
    // Known gap of the Spark path (its code is unchanged): Spark's JSON
    // filter pushdown evaluates the un-keyed branch's `key IS NULL` on
    // the partial record of the cut-off line, whose key parsed before
    // the error, and drops it. The line that fails at its first token
    // and every other row agree.
    assert(sorted(sparkPath.readCompacted("t")) == sorted(local).diff(Seq(allNull)))
  }

  test("column pruning reaches the reader") {
    val (store, dir) = seeded()
    val df = spark.read.format(fmt).load(dir).select($"key")
    assert(df.queryExecution.executedPlan.toString.contains("columns=[key]"))
    assert(df.collect().map(_.getString(0)).count(_ != null) == 41)
    assert(store.readAll("t").count() == 42) // incl. the null-key row
  }
}
