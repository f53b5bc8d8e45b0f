package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.GraftSystem
import graft.engine.cdc.{ControlPlane, Transforms}
import graft.engine.model.{Ccd, Status}
import graft.engine.streaming.ControlStream
import graft.engine.topics.{FileTopicStore, TopicStore}

/** The CDC system as the benchmark drives it: submit, drain, resume.
  * Untraced, this is a plain [[GraftSystem]]. Traced, it is the same
  * assembly (file topic store with the control topic exempt from
  * self-compaction, initializer, per-root stream checkpoint) built from
  * the same public parts, with [[Traced]] decorators around the topic
  * store, control plane, initializer, seed views and release hook.
  */
trait Cdc {
  def topics: TopicStore
  def submit(table: String, queue: String, queueTable: String, alias: Option[String]): Unit
  def runOnce(): Unit
  def start(): Seq[(Ccd, Seq[Ccd])]
}

object Cdc {
  val ControlTopic = "cdc-control"

  def apply(
      spark: SparkSession,
      root: String,
      seedView: String => Option[DataFrame],
      plane: ControlPlane,
      releaseSeed: String => Unit,
      t: Tracer): Cdc =
    if (!t.enabled) {
      val sys = new GraftSystem(spark, root, ControlTopic, seedView, plane,
        releaseSeed = releaseSeed)
      new Cdc {
        def topics: TopicStore = sys.topics
        def submit(table: String, queue: String, queueTable: String, alias: Option[String]): Unit =
          sys.submit(table, queue, queueTable, alias)
        def runOnce(): Unit = sys.runOnce()
        def start(): Seq[(Ccd, Seq[Ccd])] = sys.start()
      }
    } else {
      val clock = new Traced.Clock
      val store = new Traced.Topics(
        new FileTopicStore(spark, root, dirtyRatioExempt = Set(ControlTopic)),
        t, ControlTopic, clock)
      val init = new Traced.Init(spark, new Traced.Plane(plane, t), store, ControlTopic,
        Traced.seedView(seedView, t, clock), Traced.release(releaseSeed, t), t, clock)
      val checkpoint = Files.createDirectories(Paths.get(root, "__checkpoint")).toString
      new Cdc {
        def topics: TopicStore = store
        def submit(table: String, queue: String, queueTable: String, alias: Option[String]): Unit = {
          if (!store.exists(ControlTopic)) store.create(ControlTopic)
          init.publish(Ccd(table, queue, queueTable, alias, Status.Submitted,
            new Timestamp(System.currentTimeMillis())))
        }
        def runOnce(): Unit = {
          clock.runOnceAt = System.nanoTime()
          t.span("streaming.run_once")(
            ControlStream.runSubmissions(store, ControlTopic, init, checkpoint))
        }
        def start(): Seq[(Ccd, Seq[Ccd])] = init.runBacklog()
      }
    }

  /** One control-topic message, decoded. */
  final case class Msg(key: String, offset: Long, status: String, tsMs: Long,
      progress: Seq[Long])

  /** The whole control log in offset order (read outside timed regions). */
  def controlLog(topics: TopicStore): Seq[Msg] =
    topics.readAll(ControlTopic)
      .select(col("key"), col("offset"), from_json(col("value"), Ccd.jsonSchema).as("c"))
      .select(col("key"), col("offset"), col("c.status"), col("c.timestamp"), col("c.progress"))
      .collect().toSeq
      .map { r =>
        val ts = java.time.LocalDateTime.parse(r.getString(3).replace(' ', 'T'))
          .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        Msg(r.getString(0), r.getLong(1), r.getString(2), ts,
          Option(r.getSeq[Long](4)).getOrElse(Nil))
      }
      .sortBy(_.offset)

  /** Every lifecycle of every key, oldest first: a key's messages split
    * at each `submitted`. */
  def lifecycles(log: Seq[Msg]): Map[String, Seq[Seq[Msg]]] =
    log.groupBy(_.key).map { case (k, ms) =>
      val starts = ms.indices.filter(i => ms(i).status == Status.Submitted)
      val bounds = (if (starts.headOption.contains(0)) starts else 0 +: starts) :+ ms.size
      k -> bounds.sliding(2).map(b => ms.slice(b(0), b(1))).toSeq
    }

  /** Problems with one lifecycle, empty when valid: statuses follow the
    * state machine's order, the first progress report is [0, total] with
    * the expected total, at most 50 reports follow it, counts only grow,
    * and the lifecycle ends in the expected terminal state. */
  def checkLifecycle(ms: Seq[Msg], expectTerminal: String,
      expectTotal: Option[Long]): Seq[String] = {
    val st = ms.map(_.status)
    val seeding = ms.filter(_.status == Status.Seeding)
    val problems = Seq.newBuilder[String]
    if (st.headOption.contains(Status.Submitted) == false) problems += "does not start submitted"
    if (st.lastOption.contains(expectTerminal) == false)
      problems += s"ends ${st.lastOption.getOrElse("empty")}, expected $expectTerminal"
    if (st.map(s => Status.rank.getOrElse(s, -1)).sliding(2).exists(p => p.size == 2 && p(1) < p(0)))
      problems += s"status order broken: ${st.mkString(">")}"
    if (expectTerminal == Status.Active) {
      seeding.headOption match {
        case None => problems += "no progress reports"
        case Some(first) =>
          val total = first.progress.lift(1).getOrElse(-1L)
          if (first.progress.headOption.contains(0L) == false) problems += "first progress not [0,total]"
          expectTotal.foreach(n => if (total != n) problems += s"progress total $total, expected $n")
          if (seeding.size - 1 > 50) problems += s"${seeding.size - 1} progress reports"
          val counts = seeding.map(_.progress.headOption.getOrElse(-1L))
          if (counts.sliding(2).exists(p => p.size == 2 && p(1) <= p(0)) || counts.exists(_ > total))
            problems += "progress counts not increasing within total"
      }
    }
    problems.result()
  }

  /** Per-CCD service times of one drain, in seconds: from the previous
    * CCD's terminal state (or the drain's start) to this CCD's, over the
    * terminal states the drain's keys reached within [start, end]. */
  def serviceTimes(log: Seq[Msg], keys: Set[String], startMs: Long, endMs: Long): Seq[Double] = {
    val ends = log.filter(m => keys(m.key) && Status.terminal(m.status) &&
      m.tsMs >= startMs && m.tsMs <= endMs).map(_.tsMs).sorted
    ends.zip(startMs +: ends).map { case (e, prev) => (e - math.max(prev, startMs)) / 1e3 }
  }

  /** (rows, order-independent hash) of a (key, value) frame. */
  def fingerprint(kv: DataFrame): (Long, BigDecimal) = {
    val r = kv.agg(count(lit(1)),
        sum(xxhash64(col("key"), col("value")).cast("decimal(38,0)")))
      .collect().head
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** The seeded topic's compacted content must equal the transforms'
    * encoding of its own seed view. */
  def contentMatches(topics: TopicStore, topic: String, view: DataFrame): Boolean =
    fingerprint(topics.readCompacted(topic).select("key", "value")) ==
      fingerprint(Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(view)))

  /** Bytes and file count under a directory tree (topic storage). */
  def diskUsage(dir: java.nio.file.Path): (Long, Long) =
    if (!Files.isDirectory(dir)) (0L, 0L)
    else {
      val walk = Files.walk(dir)
      try {
        val files = walk.filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith(".") &&
          !p.getFileName.toString.startsWith("_")).toArray.toSeq
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.map(Files.size).sum, files.size.toLong)
      } finally walk.close()
    }

  /** Probe that splits the seed data path without writing: materialize
    * the seed view alone (scan), then through the two transforms
    * (scan + encode). Returns (scan_s, encode_s). */
  def scanEncodeProbe(view: DataFrame): (Double, Double) = {
    val t0 = System.nanoTime()
    view.queryExecution.toRdd.count()
    val t1 = System.nanoTime()
    Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(view)).queryExecution.toRdd.count()
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, math.max(0L, (t2 - t1) - (t1 - t0)) / 1e9)
  }
}
