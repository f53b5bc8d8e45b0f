package graft.engine.topics

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._


/** Keyed, compacted, offset-ordered message topics (the reference's
  * Kafka surface: topic_store.clj + protocols.clj:6-22), backed by
  * directories of JSON-lines files — the environment ships no Kafka
  * jar, and a file-backed topic is readable both batch
  * (`spark.read.json`) and as a Structured Streaming file source
  * (`spark.readStream`), which is all the reference's dataflow needs.
  *
  * Message schema: (key, value, offset, ts). `offset` is a
  * per-append-ordered total order used for last-state-per-key
  * compaction on read (the stand-in for Kafka's
  * `cleanup.policy=compact`, reference topic_store.clj:13-16); a
  * production store would keep Kafka-style per-partition offsets and
  * compact per partition — read-side semantics are identical because
  * keys hash to exactly one partition.
  */
trait TopicStore {
  def exists(topic: String): Boolean
  def create(topic: String): Unit
  /** Clear if exists, else create — reference core.clj:92-95 ensure-op. */
  def clear(topic: String): Unit
  def delete(topic: String): Unit
  /** Keyed at-least-once append of a (key, value) frame. */
  def append(topic: String, kv: DataFrame): Unit
  /** Full log in offset order: (key, value, offset, ts). */
  def readAll(topic: String): DataFrame
  /** Log-compaction read: latest (key, value, offset, ts) per key. */
  def readCompacted(topic: String): DataFrame
  /** Streaming tail (file source). */
  def readStream(topic: String): DataFrame
}

object FileTopicStore {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType),
    StructField("value", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("ts", TimestampType)))

  /** Cube-law backoff in ms: 2·round(n³/2)·1000 — the reference's
    * delete-retry curve (topic_store.clj:21-27). n=0 returns 0 (the
    * first retry is immediate), matching the reference exactly. */
  def backoffMs(attempt: Int): Long =
    2L * math.round(attempt.toDouble * attempt * attempt / 2.0) * 1000L
}

/** @param root          directory holding one subdirectory per topic
  * @param sleeper       injectable so tests don't actually sleep
  * @param failures      injectable fault hook: ops that should throw,
  *                      keyed by (op, topic) — mirrors the reference
  *                      test dummies' `error-on!` (test_dummies.clj)
  * @param numPartitions Kafka-model topic partitions: a key hashes to
  *                      exactly one partition and offsets are
  *                      per-partition sequences — so per-key ordering
  *                      (all compaction needs) holds with no global
  *                      coordination. The reference configures
  *                      partitions=1 (topic_store.clj:13-16); >1 is
  *                      the scale path. Null keys go to partition 0.
  * @param dirtyRatio    when set, append() self-compacts the topic once
  *                      the fraction of superseded keyed messages
  *                      reaches this threshold — the engine analog of
  *                      Kafka's `min.cleanable.dirty.ratio=0.75` that
  *                      makes compaction an invariant rather than a
  *                      maintenance chore (reference topic_store.clj:13-16).
  * @param dirtyRatioExempt topics the policy must never touch — any
  *                      topic with a live streaming tail (the file
  *                      source would re-read the rewritten log; see
  *                      [[compact]]). GraftSystem exempts its control
  *                      topic. */
class FileTopicStore(
    spark: SparkSession,
    root: String,
    sleeper: Long => Unit = Thread.sleep,
    failures: (String, String) => Boolean = (_, _) => false,
    numPartitions: Int = 1,
    dirtyRatio: Option[Double] = None,
    dirtyRatioExempt: Set[String] = Set.empty)
  extends TopicStore {

  private def dir(topic: String): Path = Paths.get(root, topic)
  private def check(op: String, topic: String): Unit =
    if (failures(op, topic)) throw new RuntimeException(s"injected failure: $op $topic")

  def exists(topic: String): Boolean = {
    check("exists", topic)
    Files.isDirectory(dir(topic))
  }

  def create(topic: String): Unit = {
    check("create", topic)
    Files.createDirectories(dir(topic))
  }

  def clear(topic: String): Unit = {
    check("clear", topic)
    if (exists(topic)) deleteWithRetry(topic)
    create(topic)
  }

  def delete(topic: String): Unit = {
    check("delete", topic)
    val d = dir(topic)
    if (Files.isDirectory(d)) {
      val walk = Files.walk(d)
      try walk.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  /** Delete and poll until gone, cube-law backoff, ≤ 10 attempts
    * (reference topic_store.clj:72-82) — on a real broker deletion is
    * async; here the retry guards against concurrent writers
    * re-creating files mid-walk. */
  def deleteWithRetry(topic: String, maxAttempts: Int = 10): Unit = {
    def attemptDelete(): Unit =
      try delete(topic) catch { case _: Exception => () } // poll-until-gone below
    // exactly maxAttempts total (doc, error message and reference all
    // say ≤ 10): attempt 1 immediate, retry n waits backoffMs(n-1) —
    // so the first RETRY is also immediate (backoffMs(0) = 0), like
    // the reference's curve
    attemptDelete()
    var attempt = 1
    while (exists(topic) && attempt < maxAttempts) {
      sleeper(FileTopicStore.backoffMs(attempt - 1))
      attemptDelete()
      attempt += 1
    }
    if (exists(topic))
      throw new IllegalStateException(s"topic $topic not deleted after $maxAttempts attempts")
  }

  /** Topic partition of a key: murmur-hash routing like Kafka's
    * default partitioner; null keys pin to 0 (deterministic stand-in
    * for Kafka's sticky round-robin). */
  private def partitionOf(key: Column): Column =
    when(key.isNull, lit(0))
      .otherwise(pmod(hash(key), lit(numPartitions)).cast("int"))

  /** Append (key, value): route each row to its key's partition, then
    * continue that partition's offset sequence from the bases the
    * store's per-file offset memo supplies (see [[bases]]).
    *
    * Two write modes, picked by the frame's plan alone:
    *  - **driver-local** — the routed frame optimizes to a
    *    `LocalRelation` (every control-topic publish: a handful of
    *    rows built on the driver). Its rows are collected with no job
    *    (`LocalTableScanExec` returns them on the driver), ordered by
    *    (partition, seq) and written as ONE file through the V2
    *    connector's writer ([[graft.engine.sources.TopicLog.writeLocal]]:
    *    hidden staging file, atomic rename); the memo records that
    *    file's offsets directly, so a steady-state control append
    *    launches no Spark job at all.
    *  - **distributed** — anything else (a seed scan of any size).
    *    Offsets are assigned per partition with a `mapPartitions`
    *    counter after a `repartition` on the topic partition (narrow
    *    jobs, no global ordering point), so a 100 TB seed append stays
    *    fully parallel. One of the few sanctioned RDD uses: genuine
    *    per-partition indexing.
    *
    * Intra-append ordering: a shuffle does NOT preserve row order, so
    * when the caller's frame carries a `seq` column (any numeric — see
    * [[graft.engine.cdc.Initializer.publishAll]]) rows are ordered
    * within each partition by it before offsets are assigned, on both
    * paths; offsets then follow the caller's sequence BY CONTRACT, not
    * by accident of task layout. Without `seq`, intra-append order is
    * unspecified — valid only for appends carrying at most one message
    * per key (the snapshot-seed path); cross-append ordering is always
    * guaranteed by the per-partition base offsets, and a key lives in
    * exactly one partition. */
  def append(topic: String, kv: DataFrame): Unit = {
    check("append", topic) // same injectable-fault point as appendV2
    if (!exists(topic)) create(topic)
    val stats = dirtyRatioStats(topic)
    val session = kv.sparkSession
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val frame = routed(kv)
    localRows(frame) match {
      case Some(rows) =>
        // bases, write and memo update under the memo's lock: a client's
        // submit and a live submission loop publishing through one store
        // cannot claim the same offsets
        offsetMemo.synchronized {
          graft.engine.sources.TopicLog.writeLocal(dir(topic).toString, rows.toSeq,
              bases(topic, session), now.getTime)
            .foreach { case (file, maxes) => remember(topic, file, maxes) }
        }
      case None =>
        val b = bases(topic, session)
        val rows = frame
          .repartition(numPartitions.min(64), col("partition"))
          .sortWithinPartitions(col("partition"), col("offset"))
          .rdd.mapPartitions { it =>
            // rows of several topic-partitions may share a task; index
            // each topic-partition's rows independently (per-task counts
            // suffice: repartition(col) sends each topic-partition to
            // exactly one task)
            val counters = scala.collection.mutable.Map.empty[Int, Long]
            it.map { r =>
              val p = r.getInt(2)
              val i = counters.getOrElse(p, 0L); counters(p) = i + 1
              org.apache.spark.sql.Row(r.getString(0), r.getString(1), p,
                b.getOrElse(p, -1L) + 1L + i, now)
            }
          }
        session.createDataFrame(rows, FileTopicStore.schema)
          .write.mode("append").json(dir(topic).toString)
    }
    // dirty ratio = superseded keyed messages / keyed messages, from the
    // stats of the pre-append scan above (a production store keeps
    // running per-segment counters instead of scanning at all)
    stats.foreach(maybeCompact(topic, _))
  }

  /** The rows of a frame whose optimized plan is a driver-side
    * `LocalRelation`, collected with no job; None for any other plan. */
  private def localRows(df: DataFrame): Option[Array[InternalRow]] =
    df.queryExecution.optimizedPlan match {
      case l: LocalRelation if !l.isStreaming =>
        Some(df.queryExecution.executedPlan.executeCollect())
      case _ => None
    }

  // Per-file offset memo, per topic: data file -> its per-partition max
  // offset. Topic files are immutable once visible and every writer
  // names them fresh (UUIDs), so a file's maxima never change; files
  // deleted by compaction or clear() drop out of the next listing.
  private val offsetMemo =
    scala.collection.mutable.Map.empty[String, Map[String, Map[Int, Long]]]

  /** Per-partition base offsets (max offset on file) of a topic: only
    * the data files this store has not seen yet are scanned — one job
    * on the first append per store instance or after another writer
    * (a distributed append, a second store, a compaction) added files,
    * none otherwise. */
  private def bases(topic: String, session: SparkSession): Map[Int, Long] =
    offsetMemo.synchronized {
      val listed = graft.engine.sources.TopicLog.dataFiles(dir(topic).toString)
      val live = listed.toSet
      val known = offsetMemo.getOrElse(topic, Map.empty).filter { case (f, _) => live(f) }
      val all = known ++ graft.engine.sources.TopicLog.fileMaxes(session,
        listed.filterNot(known.contains))
      offsetMemo(topic) = all
      graft.engine.sources.TopicLog.merge(all.values)
    }

  private def remember(topic: String, file: String, maxes: Map[Int, Long]): Unit =
    offsetMemo.synchronized {
      offsetMemo(topic) = offsetMemo.getOrElse(topic, Map.empty) + (file -> maxes)
    }

  private case class TopicStats(keyedTotal: Long, keyedLive: Long)

  /** Pre-append dirty-ratio inputs, only when the policy can act on
    * them: a topic in `dirtyRatioExempt` can never be compacted by it,
    * so its appends skip the full-log stats pass entirely. */
  private def dirtyRatioStats(topic: String): Option[TopicStats] =
    if (dirtyRatio.isEmpty || dirtyRatioExempt.contains(topic)) None
    else Some(topicStats(topic))

  /** The one dirty-ratio compaction policy, shared by both append
    * paths so they cannot diverge. */
  private def maybeCompact(topic: String, stats: TopicStats): Unit =
    dirtyRatio.foreach { threshold =>
      if (stats.keyedTotal > 0 &&
        (stats.keyedTotal - stats.keyedLive).toDouble / stats.keyedTotal >= threshold)
        compact(topic)
    }

  /** One aggregate pass over the log: keyed total/distinct counts (the
    * dirty-ratio inputs). */
  private def topicStats(topic: String): TopicStats = {
    if (!hasFiles(topic)) TopicStats(0L, 0L)
    else {
      val r = spark.read.schema(FileTopicStore.schema)
        .json(dir(topic).toString)
        .agg(count(col("key")), // count() skips nulls
          countDistinct(col("key")))
        .head()
      TopicStats(r.getLong(0), r.getLong(1))
    }
  }

  // shared listing contract (excludes dot-prefixed staging artifacts)
  private def hasFiles(topic: String): Boolean =
    graft.engine.sources.TopicLog.nonEmpty(dir(topic).toString)

  /** Storage-side compaction: rewrite the log keeping only the latest
    * message per key (Kafka's background log cleaner, triggered
    * explicitly — the reference relies on `cleanup.policy=compact` +
    * `min.cleanable.dirty.ratio`, topic_store.clj:13-16). Offsets and
    * partitions are preserved, so batch readers see consistent
    * positions; null-keyed messages are all retained (Kafka semantics:
    * compaction needs a key).
    *
    * Do NOT compact a topic while a streaming tail is attached: the
    * file source tracks FILES, so it would re-read the rewritten log
    * as new input (duplicate deliveries — convergent under keyed
    * compaction semantics, but wasteful). Run compaction as batch-side
    * maintenance between streaming sessions, like Kafka's cleaner runs
    * outside the fetch path. */
  def compact(topic: String): Unit = {
    // Stale artifacts of a compaction that DIED mid-flight (hidden by
    // construction — dot-prefixed names are invisible to Spark's file
    // listing, so they never polluted a read): clear them first.
    locally {
      val ls = Files.list(dir(topic))
      try ls.filter(_.getFileName.toString.startsWith("."))
        .forEach(p => Files.deleteIfExists(p))
      finally ls.close()
    }
    // Old files to retire — captured up front. compact() runs under the
    // store's single-writer contract (it is called from append() itself
    // or as explicit maintenance), so no file appears between this
    // listing and the survivor frame's.
    val old: Seq[Path] =
      graft.engine.sources.TopicLog.dataFiles(dir(topic).toString)
        .map(Paths.get(_))
    // Survivor set from ONE pinned listing — readCompacted IS the
    // survivor semantics (latest per key ∪ all un-keyed rows). Deriving
    // the un-keyed half from a second spark.read would list the
    // directory at a different instant and could tear the snapshot
    // between the two halves.
    val survivors = readCompacted(topic)
      .select(FileTopicStore.schema.fieldNames.map(col).toIndexedSeq: _*)
    // Stage the new log as a SIBLING under root: same filesystem, so
    // every move below is an atomic rename — the former staging under
    // java.io.tmpdir copied across volumes and, worse, deleted the
    // live log BEFORE the copy, so a crash in between lost the topic
    // entirely (the only copy stranded in /tmp where no restart looks).
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = Paths.get(root, s".compact-$topic-$nonce")
    survivors
      .repartition(numPartitions.min(64), col("partition"))
      .write.mode("overwrite").json(tmp.toString)
    // Crash-safe swap, loss-free at EVERY point (the old log is intact
    // until the new one is fully in place):
    //  1) move the new files into the topic dir DOT-PREFIXED (atomic
    //     renames; still invisible to readers — a crash here leaves
    //     the old log exactly as it was, plus hidden garbage that the
    //     next compact() clears);
    //  2) flip each visible (atomic rename per file);
    //  3) delete the old files.
    // A crash inside 2) or 3) leaves old + new visible together:
    // never a loss — keyed duplicates collapse on read (lastStatePerKey
    // is a per-key max_by), and the next compact() restores the clean
    // state. The residual anomaly is duplicated UN-KEYED rows in that
    // crash window — engine topics are always keyed (control: table;
    // seed: row key), and a production store compacts segment-by-
    // segment behind a manifest precisely to close this last gap.
    val staged: Seq[(Path, Path)] = {
      val ls = Files.list(tmp)
      try ls.filter(_.toString.endsWith(".json")).iterator().asScala
        .toVector.zipWithIndex.map { case (p, i) =>
          val hidden = dir(topic).resolve(s".compacted-$nonce-$i.json")
          val visible = dir(topic).resolve(s"compacted-$nonce-$i.json")
          Files.move(p, hidden, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          (hidden, visible)
        }
      finally ls.close()
    }
    // injectable kill between the two crash windows (tests only; the
    // default hook is inert): "compact-staged" = hidden staging moved
    // in, old log untouched; "compact-flipped" = old + new visible
    // together, old not yet deleted
    check("compact-staged", topic)
    staged.foreach { case (hidden, visible) =>
      Files.move(hidden, visible, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    check("compact-flipped", topic)
    old.foreach(Files.deleteIfExists(_))
    val rm = Files.walk(tmp)
    try rm.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally rm.close()
  }

  def readAll(topic: String): DataFrame =
    spark.read.schema(FileTopicStore.schema).json(dir(topic).toString)
      .orderBy(col("partition"), col("offset"))

  /** DataSource V2 read of the full log
    * ([[graft.engine.sources.TopicSource]]): per-file scan splits,
    * offset/partition predicate pushdown, column pruning. Unordered —
    * consumers that need offset order sort explicitly. */
  def readV2(topic: String): DataFrame =
    spark.read.format(classOf[graft.engine.sources.TopicSource].getName)
      .load(dir(topic).toString)

  /** DataSource V2 append ([[graft.engine.sources.TopicSource]] write
    * path): same contract as [[append]] — key-hash routing, optional
    * `seq` intra-append ordering, per-partition offset continuation —
    * but fully plan-level: the connector's Write declares
    * `RequiresDistributionAndOrdering` (clustered by partition, sorted
    * by sequence), so Spark plans the routing exchange + sort and each
    * task streams its partitions' rows out with task-commit atomicity.
    * No RDD hop, no driver-side rows. */
  def appendV2(topic: String, kv: DataFrame): Unit = {
    check("append", topic)
    if (!exists(topic)) create(topic)
    // same pre-append dirty-ratio stats and offset memo as append(); the
    // memo's bases ride the connector option, skipping its own scan
    val stats = dirtyRatioStats(topic)
    routed(kv)
      .write.format(classOf[graft.engine.sources.TopicSource].getName)
      .option(graft.engine.sources.TopicSource.BasesOption,
        graft.engine.sources.TopicSource.encodeBases(bases(topic, kv.sparkSession)))
      .mode("append")
      .save(dir(topic).toString)
    stats.foreach(maybeCompact(topic, _))
  }

  /** Route a (key, value[, seq]) frame into the connector's write
    * schema: key-hash topic-partition + intra-append sequence in the
    * `offset` column (real offsets are assigned by the writer,
    * broker-side). */
  private def routed(kv: DataFrame): DataFrame = {
    val seqCol =
      if (kv.columns.contains("seq")) col("seq").cast("long") else lit(0L)
    kv.select(
      col("key").cast("string").as("key"),
      col("value").cast("string").as("value"),
      partitionOf(col("key")).as("partition"),
      seqCol.as("offset"),
      lit(null).cast("timestamp").as("ts"))
  }

  /** Streaming producer: run a streaming (key, value) frame into the
    * topic through the connector's STREAMING_WRITE path — the
    * `writeStream → topic` half of the V2 connector, replacing
    * foreachBatch+append for simple keyed sinks. At-least-once; offsets
    * are per-partition monotone across epochs (epoch-block scheme, see
    * TopicStreamingWrite). */
  def writeStreamV2(topic: String, kv: DataFrame,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    check("append", topic)
    if (!exists(topic)) create(topic)
    routed(kv)
      .writeStream.format(classOf[graft.engine.sources.TopicSource].getName)
      .option("checkpointLocation", checkpoint)
      .start(dir(topic).toString)
  }

  /** Compaction-on-read: latest row per KEY, with every un-keyed row
    * passed through — the same contract as [[compactStorage]] (a
    * groupBy over `key` would collapse all null keys into one
    * surviving row, which no log compactor does: un-keyed records
    * have no identity to compact under). Round-9 fuzzing caught the
    * read side diverging from the storage side here; live callers
    * only compact the (always-keyed) control topic, so the fix
    * changes no engine behavior. */
  def readCompacted(topic: String): DataFrame = {
    // ONE DataFrameReader call pins the snapshot: resolving the file
    // relation lists the topic directory EAGERLY (InMemoryFileIndex
    // captures the FileStatus set — names and lengths — right here),
    // and both union branches below share that one relation, so a
    // concurrent append (always a NEW file in this store) is invisible
    // to every action on the returned frame — no record set can split
    // inconsistently across the branches. This replaces an eager
    // Checkpoints.cut that paid a full materialization per read and,
    // in default localCheckpoint mode, truncated lineage onto
    // non-replicated executor blocks (executor loss → unrecoverable
    // snapshot); the pinned listing keeps lineage recomputable from
    // the exact same files. A surrogate-key single-pass variant was
    // rejected earlier: it collapsed distinct un-keyed rows whenever
    // partition/offset were NULL (concat_ws skips NULLs) — violating
    // "un-keyed records have no identity to compact under".
    //
    // CONTRACT: consume the returned frame promptly. The pinned
    // listing is append-safe but NOT compaction-safe — a log
    // compaction ([[compact]]/the dirty-ratio policy) REWRITES files,
    // and an action on a frame held across one fails loudly on the
    // missing files (ignoreMissingFiles is off; never silently
    // wrong). Every engine caller collects within the same call
    // chain; a caller that must hold results across maintenance
    // should persist or collect them first.
    val raw = spark.read.schema(FileTopicStore.schema).json(dir(topic).toString)
    graft.engine.cdc.Transforms.lastStatePerKey(Seq("key"), Seq("offset"))(
        raw.filter(col("key").isNotNull))
      .unionAll(raw.filter(col("key").isNull))
  }

  def readStream(topic: String): DataFrame = readStream(topic, 100)

  /** @param maxFilesPerTrigger admission control per micro-batch — the
    *   engine analog of the reference's bounded work queue
    *   (initializer.clj:87, buffer 100): limits how much backlog one
    *   trigger admits so a large catch-up can't starve the loop. */
  def readStream(topic: String, maxFilesPerTrigger: Int): DataFrame =
    spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .schema(FileTopicStore.schema).json(dir(topic).toString)
}
