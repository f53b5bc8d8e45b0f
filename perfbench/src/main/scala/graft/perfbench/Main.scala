package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine.GraftSession

/** One benchmark run of one workload in a fresh JVM:
  *
  *   set-up (three times: session + the workload's own set-up; the
  *   median counts) → warm-up → host probes → measured window (Spark
  *   and streaming listeners open) → host probes → output checks →
  *   one JSON document written to `--out`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --data DIR --work DIR --out FILE
  */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = Files.createDirectories(Paths.get(opt("work")))
    System.setProperty("derby.stream.error.file", work.resolve("derby.log").toString)
    System.setProperty("derby.system.home", work.toString)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd", org.apache.logging.log4j.Level.ERROR)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def mark(phase: String): Unit = phases(phase) = (System.currentTimeMillis() - jvmStart) / 1e3
    mark("jvm")
    val workload = Workload(name)
    var spark: SparkSession = null
    var env: Env = null
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = GraftSession.get()
      val created = Workload.secs(t0)
      env = Env(spark, opt("data"), work, seed, opt("seconds").toDouble,
        spark.sparkContext.defaultParallelism)
      workload.setUp(env)
      (created, Workload.secs(t0))
    }
    val w0 = System.nanoTime()
    workload.warmUp(env)
    val warmS = Workload.secs(w0)
    mark("warm")

    val hostStart = HostProbe.sample(spark, env.cores)
    val tracer = new Tracer(traced, s"$name-$seed")
    val stats = new SparkStats(spark, env.cores)
    val r = new Result
    val origin = System.nanoTime()
    mark("probe")
    stats.open()
    workload.measure(env, tracer, stats, r)
    stats.close()
    mark("measure")
    val hostEnd = HostProbe.sample(spark, env.cores)
    workload.check(env, r)
    mark("check")

    r.e2e("setup_s") = (Workload.median(setups.map(_._2)) + warmS, "s")
    val host = Map(
      "host.ctl_scan_s" -> Workload.median(Seq(hostStart._1, hostEnd._1)),
      "host.ctl_shuffle_s" -> Workload.median(Seq(hostStart._2, hostEnd._2)))
    if (traced) {
      tracer.write(work.resolve(s"trace-$name-$seed.jsonl"), origin)
      Layers.fill(r, tracer, stats, work, Workload.median(setups.map(_._1)), warmS, host)
    }
    val doc = Json.obj(
      "workload" -> Json.str(name), "seed" -> seed.toString, "trace" -> (if (traced) "1" else "0"),
      "cores" -> env.cores.toString,
      "correct" -> (r.failed == 0).toString, "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString, "ops" -> r.ops.toString,
      "problems" -> r.problems.map(Json.str).mkString("[", ",", "]"),
      "e2e" -> Json.metrics(r.e2e.toSeq),
      "detail" -> Json.metrics(r.detail.toSeq),
      "layer" -> Json.obj(r.layer.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "self_s" -> Json.obj(tracer.selfTimes.toSeq.sorted.map { case (k, v) => k -> Json.num(v) }: _*),
      "host" -> Json.obj(
        "scan_start_s" -> Json.num(hostStart._1), "scan_end_s" -> Json.num(hostEnd._1),
        "shuffle_start_s" -> Json.num(hostStart._2), "shuffle_end_s" -> Json.num(hostEnd._2)),
      "setup_reps_s" -> setups.map(s => Json.num(s._2)).mkString("[", ",", "]"),
      "warm_s" -> Json.num(warmS),
      "phases_s" -> Json.obj(phases.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "query_results" -> (workload match {
        case q: QueryMix => q.resultsWritten.map(Json.str).mkString("[", ",", "]")
        case _ => "[]"
      }))
    Files.write(Paths.get(opt("out")), (doc + "\n").getBytes("UTF-8"))
    // the run is over: skip the orderly Spark shutdown (seconds per run,
    // nothing left to flush; the caller deletes the work directory)
    Runtime.getRuntime.halt(0)
  }
}

/** The fixed-work host probes of `graft.Bench`, scaled to the core
  * count: a scan probe (range → xxhash64 → bit_xor) and a shuffle probe
  * (range → hash aggregate over 2^18 keys). Provenance only. */
object HostProbe {
  private def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; Workload.secs(t0) }

  private def scan(spark: SparkSession, cores: Int): Double = time(
    spark.range(0L, 8000000L * cores, 1L, cores)
      .selectExpr("bit_xor(xxhash64(id)) AS x").queryExecution.toRdd.count())

  private def shuffle(spark: SparkSession, cores: Int): Double = time(
    spark.range(0L, 250000L * cores, 1L, cores)
      .selectExpr("xxhash64(id) % 262144 AS k", "id AS v")
      .groupBy("k").agg(org.apache.spark.sql.functions.expr("bit_xor(v)").as("x"))
      .queryExecution.toRdd.count())

  /** (scan_s, shuffle_s) */
  def sample(spark: SparkSession, cores: Int): (Double, Double) =
    (scan(spark, cores), shuffle(spark, cores))
}

/** Assembles the per-layer metrics of a traced run. Every name is
  * reported on every workload; a layer the workload leaves idle reads 0. */
object Layers {
  val names: Seq[String] = Seq(
    "session.create_s", "session.warm_s",
    "streaming.batches", "streaming.start_s", "streaming.overhead_s",
    "cdc.recheck_s", "cdc.publish_s", "cdc.decode_s", "cdc.backlog_s", "cdc.prepare_s",
    "cdc.plane_calls", "cdc.plane_s", "cdc.release_s", "cdc.initialize_s", "cdc.seed_count_s",
    "cdc.seed_view_s", "cdc.scan_s", "cdc.encode_s",
    "topics.control.append_calls", "topics.control.append_s", "topics.control.read_calls",
    "topics.control.read_s", "topics.control.files",
    "topics.data.append_s", "topics.data.read_s", "topics.data.bytes", "topics.data.files",
    "topics.clear_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_s", "spark.gc_s", "spark.busy_frac",
    "spark.jobs_per_ccd", "spark.driver_gap_s", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.spill_bytes", "spark.task_skew",
    "query.construct_s", "query.construct_jobs", "query.analysis_s", "query.optimization_s",
    "query.planning_s", "query.exec_s", "query.jobs",
    "host.ctl_scan_s", "host.ctl_shuffle_s")

  private val spanned = Seq("cdc.recheck", "cdc.publish", "cdc.decode", "cdc.backlog",
    "cdc.prepare", "cdc.plane", "cdc.release", "cdc.initialize", "cdc.seed_view",
    "topics.control.append", "topics.control.read", "topics.data.append", "topics.clear",
    "query.construct", "query.exec")
  private val counted = Seq("streaming.start_s", "cdc.plane_calls", "cdc.seed_count_s",
    "topics.control.append_calls", "topics.control.read_calls")

  /** Files and bytes of the measured topics: data topics are named
    * `q_*`; warm-up roots are left out. */
  private def topicUsage(work: Path, data: Boolean): (Long, Long) = {
    val walk = Files.walk(work, 3)
    try walk.toArray.toSeq.map(_.asInstanceOf[Path])
      .filter(p => Files.isDirectory(p) && !work.relativize(p).toString.startsWith("warm"))
      .filter(p => if (data) p.getFileName.toString.startsWith("q_")
        else p.getFileName.toString == Cdc.ControlTopic)
      .map(Cdc.diskUsage)
      .foldLeft((0L, 0L)) { case ((b, f), (b2, f2)) => (b + b2, f + f2) }
    finally walk.close()
  }

  def fill(r: Result, t: Tracer, stats: SparkStats, work: Path, createS: Double,
      warmS: Double, host: Map[String, Double]): Unit = {
    val own = r.layer.toMap
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    names.foreach(n => m(n) = 0.0)
    m("session.create_s") = createS
    m("session.warm_s") = warmS
    spanned.foreach(s => m(s + "_s") = t.total(s))
    counted.foreach(c => m(c) = t.counter(c))
    stats.metrics.foreach { case (k, v) => if (m.contains(k)) m(k) = v }
    if (r.ops > 0 && own.keySet.forall(!_.startsWith("query."))) m("spark.jobs_per_ccd") = m("spark.jobs") / r.ops
    val (cb, cf) = topicUsage(work, data = false)
    val (db, df) = topicUsage(work, data = true)
    m("topics.control.files") = cf.toDouble
    m("topics.data.bytes") = db.toDouble
    m("topics.data.files") = df.toDouble
    own.foreach { case (k, v) => m(k) = v }
    host.foreach { case (k, v) => m(k) = v }
    r.layer.clear()
    r.layer ++= m
  }
}

/** Minimal JSON rendering for the run document. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def metrics(kv: Seq[(String, (Double, String))]): String =
    obj(kv.map { case (k, (v, u)) => k -> obj("value" -> num(v), "unit" -> str(u)) }: _*)
}
