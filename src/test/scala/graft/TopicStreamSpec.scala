package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.sources.TopicSource
import graft.engine.topics.FileTopicStore

/** V2 MicroBatchStream over a topic: micro-batches deliver exactly the
  * appended messages, and a restart from the checkpoint resumes where
  * the first run stopped (set-difference offsets — no re-reads, no
  * skips). */
class TopicStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val fmt = classOf[TopicSource].getName

  test("streaming tail delivers appends incrementally and survives restart") {
    val root = Files.createTempDirectory("graft-v2s").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    store.create("t")
    store.append("t", Seq(("k1", "v1"), ("k2", "v2")).toDF("key", "value"))
    val dir = Paths.get(root, "t").toString
    val ckpt = Files.createTempDirectory("graft-v2s-ckpt").toString

    val outDir = Files.createTempDirectory("graft-v2s-out").toString
    def runBatch(): Unit = {
      val q = spark.readStream.format(fmt)
        .schema(FileTopicStore.schema).load(dir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    runBatch()
    assert(spark.read.parquet(outDir).select($"value").collect()
      .map(_.getString(0)).sorted.toSeq == Seq("v1", "v2"))

    // new appends between runs; a restart from the same checkpoint must
    // deliver ONLY them (each message lands exactly once in the sink)
    store.append("t", Seq(("k1", "v1b"), ("k3", "v3")).toDF("key", "value"))
    runBatch()
    val all = spark.read.parquet(outDir).collect()
    assert(all.map(_.getAs[String]("value")).sorted.toSeq ==
      Seq("v1", "v1b", "v2", "v3"), "no re-reads, no skips across restart")
    // offsets arrive intact through the stream; replays continue the log
    assert(all.filter(_.getAs[String]("value") == "v1b")
      .forall(_.getAs[Long]("offset") >= 2L))
  }

  test("maxFilesPerTrigger admits a backlog over multiple micro-batches") {
    val root = Files.createTempDirectory("graft-v2s-adm").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    store.create("t")
    // 4 appends → ≥4 log files of backlog
    (1 to 4).foreach(i => store.append("t", Seq((s"k$i", s"v$i")).toDF("key", "value")))
    val dir = Paths.get(root, "t").toString
    var batches = 0
    val q = spark.readStream.format(fmt)
      .schema(FileTopicStore.schema)
      .option("maxFilesPerTrigger", 1)
      .load(dir)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        if (b.count() > 0) batches += 1; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-v2s-adm-ckpt").toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 4, s"backlog must drain one file per trigger, got $batches batches")
  }

  test("Trigger.AvailableNow drains a backlog beyond maxFilesPerTrigger in several " +
    "batches, every message once") {
    val root = Files.createTempDirectory("graft-v2s-now").toString
    val store = new FileTopicStore(spark, root, sleeper = _ => ())
    store.create("t")
    // 150 appends → 150 log files pending, above the tail's 100 per trigger
    (1 to 150).foreach(i => store.append("t", Seq((s"k$i", s"v$i")).toDF("key", "value")))
    val batches = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    store.readStream("t")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches += b.select("value").collect().map(_.getString(0)).toSeq; ()
      }
      .option("checkpointLocation",
        Files.createTempDirectory("graft-v2s-now-ckpt").toString)
      .start().awaitTermination()
    assert(batches.size >= 2 && batches.forall(_.size <= 100),
      s"batch sizes ${batches.map(_.size)}")
    assert(batches.flatten.sorted == (1 to 150).map(i => s"v$i").sorted)
  }
}
