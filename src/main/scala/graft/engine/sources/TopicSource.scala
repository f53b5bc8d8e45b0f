package graft.engine.sources

import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.engine.topics.FileTopicStore

/** DataSource V2 connector for file-backed topics — the engine's
  * native `sources/` surface (Kafka-consumer analog of reference
  * topic reads, topic_store.clj + protocols.clj:6-22):
  *
  * {{{
  *   spark.read.format("graft.engine.sources.TopicSource")
  *     .load(topicDir)          // (key, value, partition, offset, ts)
  * }}}
  *
  *  - **one pinned listing per relation** — the table lists the
  *    topic's data files once, when `load()` creates it, and every
  *    batch scan of that relation plans from that listing: a frame is
  *    a snapshot, and later appends (always new files) are invisible
  *    to every action on it
  *  - **one InputPartition per log file** — scan parallelism follows
  *    the append history, no single-task reads
  *  - **predicate pushdown** on `partition` and `offset`
  *    (`SupportsPushDownFilters`): a consumer's "seek to offset /
  *    read one partition" never deserializes skipped messages — the
  *    reader drops them at parse time, before row materialization
  *  - **column pruning** (`SupportsPushDownRequiredColumns`): a
  *    key-only compaction scan materializes one column, not five
  *
  * Readers parse with Jackson directly (no inner Spark session) and
  * emit `InternalRow`s in the pruned schema; this is the only parser of
  * topic files ([[FileTopicStore]]'s batch reads and its streaming
  * tail). TopicSourceSpec proves row equality with Spark's JSON reader
  * and asserts the pushdown reaches the scan.
  */
object TopicSource {
  /** Write option carrying known per-partition base offsets
    * ("p:off,p:off"), so a caller that already knows them (the store's
    * per-file offset memo) saves the write path's scan. */
  val BasesOption = "graft.bases"

  def encodeBases(b: Map[Int, Long]): String =
    b.toSeq.sorted.map { case (p, o) => s"$p:$o" }.mkString(",")

  def decodeBases(s: String): Map[Int, Long] =
    if (s.isEmpty) Map.empty
    else s.split(',').map { kv =>
      val Array(p, o) = kv.split(':'); p.toInt -> o.toLong
    }.toMap
}

class TopicSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FileTopicStore.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new TopicTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = true
}

private[sources] class TopicTable(dir: String) extends Table
  with SupportsRead with SupportsWrite {
  // the batch snapshot: listed once, when the relation is created, so
  // every action on one frame (and both branches of a self-union) scans
  // one file set, as Spark's eager InMemoryFileIndex does for file sources
  private val files: Seq[String] = TopicLog.dataFiles(dir)
  override def name(): String = s"graft_topic($dir)"
  override def schema(): StructType = FileTopicStore.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TopicScanBuilder(dir, files,
      Option(options.get("maxFilesPerTrigger")).map(_.toInt))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TopicWriteBuilder(dir, info.schema(),
      Option(info.options.get(TopicSource.BasesOption)))
}

private[sources] class TopicScanBuilder(dir: String, files: Seq[String],
    maxFilesPerTrigger: Option[Int]) extends ScanBuilder
  with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

  private var required: StructType = FileTopicStore.schema
  private var pushed: Array[Filter] = Array.empty

  /** A filter is pushable when the reader can evaluate it exactly on
    * the (partition, offset) coordinates before row materialization. */
  private def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => a == "partition" || a == "offset"
    case GreaterThan("offset", _) | GreaterThanOrEqual("offset", _) => true
    case LessThan("offset", _) | LessThanOrEqual("offset", _) => true
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (p, rest) = filters.partition(pushable)
    pushed = p
    rest // Spark keeps evaluating these above the scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new TopicScan(dir, files, required, pushed, maxFilesPerTrigger)
}

/** @param files the table's pinned listing, which a batch scan plans
  *   from; a micro-batch stream lists the directory on every trigger */
private[sources] class TopicScan(dir: String, files: Seq[String], required: StructType,
    pushed: Array[Filter], maxFilesPerTrigger: Option[Int]) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_topic dir=$dir, columns=[${required.fieldNames.mkString(",")}], " +
      s"pushed=[${pushed.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(f => TopicFilePartition(f): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory(required.fieldNames, pushed)

  override def toMicroBatchStream(checkpointLocation: String)
      : rstreaming.MicroBatchStream =
    new TopicMicroBatchStream(dir, required.fieldNames, pushed, maxFilesPerTrigger)
}

/** Streaming tail of a topic directory as a V2 MicroBatchStream: the
  * offset is the SET of consumed log files (serialized into the
  * checkpoint, like the Kafka source's partition-offset map), and each
  * micro-batch plans exactly the set difference end − start — so
  * recovery is ordering-independent: however a restarted stream
  * re-lists the directory, already-committed files are never
  * re-planned and new ones never skipped. Admission control applies
  * under every trigger, `Trigger.AvailableNow` included. Appends only
  * add files; storage compaction must not run under a live tail (see
  * FileTopicStore.compact). Pushed offset/partition predicates apply
  * inside the readers exactly as in batch. */
private[sources] class TopicMicroBatchStream(dir: String, columns: Array[String],
    pushed: Array[Filter], maxFilesPerTrigger: Option[Int])
  extends rstreaming.MicroBatchStream with rstreaming.SupportsTriggerAvailableNow {
  import com.fasterxml.jackson.databind.ObjectMapper

  private val mapper = new ObjectMapper()

  /** Backlog files in APPEND order — (mtime, name), not bare name
    * order: append files carry random-uuid names, so lexicographic
    * admission under maxFilesPerTrigger could deliver a NEWER append's
    * offsets before an older one's, and any consumer using the
    * documented max-seen-offset redelivery guard (ControlStream.
    * transitions) would permanently discard the older messages as
    * presumed duplicates. mtime is the staging file's write time,
    * preserved by the commit's atomic rename, so cross-append order
    * holds — compared at FULL FileTime precision (nanoseconds where
    * the FS provides them), not truncated millis, so the name
    * tiebreak only decides genuinely same-instant commits (which can
    * only be tasks of one distributed append — disjoint
    * topic-partitions, order-free). A file can be retired by
    * dirty-ratio compaction (which may run inside a concurrent append)
    * between the listing and its stat — such a file's rows were
    * re-written into the compacted log a reader would pick up instead,
    * so it is dropped, not an error. */
  private def listFiles(): Seq[String] =
    TopicLog.dataFiles(dir)
      .flatMap { f =>
        try Some((Files.getLastModifiedTime(Paths.get(f)), f))
        catch {
          case _: java.nio.file.NoSuchFileException =>
            // tolerated by design for compaction-retired files — but a
            // file vanishing for ANY other reason (manual deletion,
            // partial restore, FS corruption) would be silently dropped
            // from the stream's offsets too, so leave a trace: the one
            // diagnostic distinguishing "compacted away" from "lost"
            org.apache.logging.log4j.LogManager.getLogger(getClass).warn(
              s"topic data file vanished between listing and stat " +
                s"(expected only under concurrent compaction): $f")
            None
        }
      }
      .sortBy { case (t, f) => (t, f) }.map(_._2)

  override def initialOffset(): rstreaming.Offset = TopicStreamOffset(Seq.empty)
  override def latestOffset(): rstreaming.Offset = TopicStreamOffset(listFiles())

  /** Admission control (`maxFilesPerTrigger` option; the store's
    * control tail sets 100): a large backlog is admitted N files per
    * micro-batch instead of flooding the first one, the engine analog
    * of the reference's bounded work queue (initializer.clj:87). It
    * holds under `Trigger.AvailableNow` too, which this stream supports
    * natively: see [[prepareForTriggerAvailableNow]]. */
  override def getDefaultReadLimit: rstreaming.ReadLimit =
    maxFilesPerTrigger.map(rstreaming.ReadLimit.maxFiles)
      .getOrElse(rstreaming.ReadLimit.allAvailable())

  // the listing an AvailableNow query drains up to; None for other triggers
  @volatile private var availableNow: Option[Set[String]] = None

  /** `Trigger.AvailableNow`: record the file listing at query start;
    * batches then admit only those files, still at most
    * `maxFilesPerTrigger` each, and the query ends once they are all
    * consumed. Files appended later wait for the next query. */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(listFiles().toSet)

  override def latestOffset(start: rstreaming.Offset,
      limit: rstreaming.ReadLimit): rstreaming.Offset = {
    val seen = start.asInstanceOf[TopicStreamOffset].files
    val newFiles = listFiles().filterNot(seen.toSet).filter(f => availableNow.forall(_(f)))
    val admitted = limit match {
      case m: rstreaming.ReadMaxFiles => newFiles.take(m.maxFiles)
      case _ => newFiles
    }
    TopicStreamOffset(seen ++ admitted)
  }

  override def reportLatestOffset(): rstreaming.Offset =
    TopicStreamOffset(listFiles())

  override def deserializeOffset(json: String): rstreaming.Offset =
    TopicStreamOffset(
      mapper.readValue(json, classOf[Array[String]]).toSeq)

  override def planInputPartitions(start: rstreaming.Offset,
      end: rstreaming.Offset): Array[InputPartition] = {
    val seen = start.asInstanceOf[TopicStreamOffset].files.toSet
    end.asInstanceOf[TopicStreamOffset].files
      .filterNot(seen)
      .map(f => TopicFilePartition(f): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TopicReaderFactory(columns, pushed)

  override def commit(end: rstreaming.Offset): Unit = ()
  override def stop(): Unit = ()
}

private[sources] case class TopicStreamOffset(files: Seq[String])
  extends rstreaming.Offset {
  override def json(): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    mapper.writeValueAsString(files.toArray)
  }
}

private[sources] case class TopicFilePartition(file: String) extends InputPartition

private[sources] class TopicReaderFactory(columns: Array[String],
    pushed: Array[Filter]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TopicFileReader(partition.asInstanceOf[TopicFilePartition].file,
      columns, pushed)
}

private[sources] class TopicFileReader(file: String, columns: Array[String],
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {
  import com.fasterxml.jackson.core.JsonProcessingException
  import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

  private val mapper = new ObjectMapper()
  private val lines = Files.lines(Paths.get(file))
  private val it = lines.iterator()
  private var current: InternalRow = _

  private def longOf(v: Any): Long = v match {
    case n: Number => n.longValue()
    case other => other.toString.toLong
  }

  /** SQL comparison semantics: a predicate on a MISSING field is null,
    * i.e. the row is dropped — never matched via a sentinel. */
  private def accept(partition: Option[Int], offset: Option[Long]): Boolean =
    pushed.forall {
      case EqualTo("partition", v) => partition.exists(_ == longOf(v))
      case EqualTo("offset", v) => offset.exists(_ == longOf(v))
      case GreaterThan("offset", v) => offset.exists(_ > longOf(v))
      case GreaterThanOrEqual("offset", v) => offset.exists(_ >= longOf(v))
      case LessThan("offset", v) => offset.exists(_ < longOf(v))
      case LessThanOrEqual("offset", v) => offset.exists(_ <= longOf(v))
      case _ => true
    }

  /** Timestamp → Spark micros; Spark's JSON writer emits ISO-8601 with
    * offset (UTC session), e.g. 2026-08-12T10:05:27.123Z. */
  private def tsMicros(s: String): Long = {
    val instant =
      try java.time.OffsetDateTime.parse(s).toInstant
      catch {
        case _: java.time.format.DateTimeParseException =>
          java.time.LocalDateTime.parse(s.replace(' ', 'T'))
            .toInstant(java.time.ZoneOffset.UTC)
      }
    instant.getEpochSecond * 1000000L + instant.getNano / 1000L
  }

  override def next(): Boolean = {
    current = null
    while (current == null && it.hasNext) {
      val line = it.next()
      // blank lines hold no record and a line Jackson cannot parse reads
      // as an all-null row: both as spark.read.json (PERMISSIVE) does
      if (!line.isBlank) {
        val node: JsonNode =
          try mapper.readTree(line)
          catch { case _: JsonProcessingException => mapper.missingNode() }
        // absent fields stay null all the way to the output row, exactly
        // like the spark.read.json path — no sentinels
        val partition =
          if (node.hasNonNull("partition")) Some(node.get("partition").asInt) else None
        val offset =
          if (node.hasNonNull("offset")) Some(node.get("offset").asLong) else None
        if (accept(partition, offset)) {
          val values: Array[Any] = columns.map {
            case "key" =>
              if (node.hasNonNull("key")) UTF8String.fromString(node.get("key").asText) else null
            case "value" =>
              if (node.hasNonNull("value")) UTF8String.fromString(node.get("value").asText) else null
            case "partition" => partition.map(Int.box).orNull
            case "offset" => offset.map(Long.box).orNull
            case "ts" =>
              if (node.hasNonNull("ts")) tsMicros(node.get("ts").asText): java.lang.Long else null
          }
          current = InternalRow.fromSeq(values.toIndexedSeq)
        }
      }
    }
    current != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = lines.close()
}

// --------------------------------------------------------------- write path

/** DataSource V2 batch APPEND to a topic directory (the producer half of
  * the connector — reference topic_store.clj's `send!`, Kafka-producer
  * analog):
  *
  * {{{
  *   routed.write.format("graft.engine.sources.TopicSource")
  *     .mode("append").save(topicDir)   // via FileTopicStore.append
  * }}}
  *
  * Input must be the topic schema; the caller routes each row to its
  * key's partition and carries the intra-append sequence IN the
  * `offset` column (the store assigns real offsets — a Kafka producer
  * likewise never picks offsets, the broker's partition leader does).
  *
  * Scale/correctness design, all V2-native:
  *  - the Write declares [[RequiresDistributionAndOrdering]]: clustered
  *    by `partition`, sorted by (partition, offset) — SPARK plans the
  *    exchange and in-task sort, so each topic-partition is owned by
  *    exactly one task and rows arrive in the caller's sequence. No
  *    driver-side routing, no RDD zipWithIndex: a 100 TB append is one
  *    shuffle + streaming writes.
  *  - per-partition base offsets (max in the existing log) are computed
  *    once on the driver ([[TopicLog.partitionBases]], or handed in by
  *    the store's per-file offset memo); each task continues its
  *    partitions' sequences locally.
  *  - task commit protocol: rows stream to a hidden `.staging-*` file
  *    (invisible to the topic listing, [[TopicLog.dataFiles]]),
  *    atomically renamed to `v2-*.json` on task commit, deleted on
  *    abort — a failed/retried task never leaves visible partial data,
  *    and a task that gets no rows creates no file at all.
  */
private[sources] class TopicWriteBuilder(dir: String, schema: StructType,
    bases: Option[String]) extends WriteBuilder {
  override def build(): Write = {
    require(schema.fieldNames.sameElements(FileTopicStore.schema.fieldNames),
      s"topic append expects columns ${FileTopicStore.schema.fieldNames.mkString(",")} " +
        s"(got ${schema.fieldNames.mkString(",")}); use FileTopicStore.append")
    // types too, not just names: a LongType partition column would reach
    // TopicDataWriter's row.getInt as 4 of 8 UnsafeRow bytes — silent
    // misrouting/garbage offsets instead of a planning-time error
    schema.fields.zip(FileTopicStore.schema.fields).foreach { case (got, want) =>
      require(got.dataType == want.dataType,
        s"topic append column ${want.name} must be ${want.dataType} " +
          s"(got ${got.dataType}); use FileTopicStore.append")
    }
    new TopicWrite(dir, bases)
  }
}

private[sources] class TopicWrite(dir: String, bases: Option[String] = None)
  extends Write with RequiresDistributionAndOrdering {

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.identity("partition")))

  override def requiredOrdering(): Array[SortOrder] = Array(
    Expressions.sort(Expressions.identity("partition"), SortDirection.ASCENDING),
    Expressions.sort(Expressions.identity("offset"), SortDirection.ASCENDING))

  override def toBatch: BatchWrite = new TopicBatchWrite(dir, bases)
}

/** The topic log's driver-side helpers: the data-file listing every
  * read path shares, the per-file offset scan every write path
  * continues from (the broker-metadata lookup), and the driver-local
  * read of a small log and write of a small already-routed append. */
private[engine] object TopicLog {
  /** The one "data files of a topic dir" listing, shared by every V2
    * read path and the store's emptiness checks: `*.json`, EXCLUDING
    * dot-prefixed names. Hidden files are staging/compaction
    * artifacts by convention (FileTopicStore.compact stages its
    * crash-safe swap dot-prefixed; the V2 writer stages as
    * `.staging-*`), as Spark's own InMemoryFileIndex hides them from
    * its file sources — a listing that matched bare
    * `endsWith(".json")` would read a crashed compaction's staged
    * copies as data (every surviving row delivered twice) and could
    * open a hidden file mid-rename. Previously four call sites each
    * re-implemented this filter, which is exactly how three of them
    * missed the hidden-file rule at once. */
  def dataFiles(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val ls = Files.list(p)
      try ls.iterator().asScala
        .filter { f =>
          val name = f.getFileName.toString
          name.endsWith(".json") && !name.startsWith(".")
        }
        .map(_.toString).toVector
      finally ls.close()
    }
  }

  def nonEmpty(dir: String): Boolean = dataFiles(dir).nonEmpty

  /** Every row of one data file, in line order, read on the driver by
    * the connector's own reader in the full topic schema: no Spark job.
    * For logs small enough that one task's worth of work is cheaper
    * than scheduling it (FileTopicStore.readCompacted). */
  def readLocal(file: String): Vector[InternalRow] = {
    val reader = new TopicFileReader(file, FileTopicStore.schema.fieldNames, Array.empty)
    try Iterator.continually(reader.next()).takeWhile(identity).map(_ => reader.get()).toVector
    finally reader.close()
  }

  /** Per-partition max offset of each given data file: ONE job, a task
    * per group of files, each parsed by the connector's own reader
    * with only (partition, offset) materialized. Rows missing either
    * coordinate are skipped; a file without rows maps to no offsets. */
  def fileMaxes(session: org.apache.spark.sql.SparkSession,
      files: Seq[String]): Map[String, Map[Int, Long]] =
    if (files.isEmpty) Map.empty
    else {
      val sc = session.sparkContext
      sc.parallelize(files, files.size.min(sc.defaultParallelism)).map { f =>
        val reader = new TopicFileReader(f, Array("partition", "offset"), Array.empty)
        val maxes = scala.collection.mutable.Map.empty[Int, Long]
        try while (reader.next()) {
          val row = reader.get()
          if (!row.isNullAt(0) && !row.isNullAt(1)) {
            val p = row.getInt(0)
            maxes(p) = math.max(maxes.getOrElse(p, Long.MinValue), row.getLong(1))
          }
        } finally reader.close()
        f -> maxes.toMap
      }.collect().toMap
    }

  /** Per-partition max over several files' maxima. */
  def merge(maxes: Iterable[Map[Int, Long]]): Map[Int, Long] =
    maxes.flatten.groupMapReduce(_._1)(_._2)(math.max)

  /** Per-partition max offset of a whole topic log. Called driver-side
    * inside a V2 write, where the active session IS the writing one. */
  def partitionBases(dir: String): Map[Int, Long] =
    merge(fileMaxes(org.apache.spark.sql.SparkSession.active, dataFiles(dir)).values)

  /** Driver-local append: write already-routed rows in the connector's
    * write schema (key, value, partition, offset = intra-append
    * sequence, ts ignored) as ONE file through [[TopicDataWriter]] —
    * the same encoder, staging name and atomic rename as a V2 task
    * commit. Rows are ordered by (partition, sequence) first, the
    * ordering the V2 Write requires of Spark (null sequences first,
    * like the planned sort). Returns the visible file and its
    * per-partition max offsets; no rows write nothing. */
  def writeLocal(dir: String, rows: Seq[InternalRow], bases: Map[Int, Long],
      nowMillis: Long): Option[(String, Map[Int, Long])] =
    if (rows.isEmpty) None
    else {
      val writer = new TopicDataWriter(dir, p => bases.getOrElse(p, -1L), nowMillis)
      try {
        rows.sortBy(r => (r.getInt(2), if (r.isNullAt(3)) Long.MinValue else r.getLong(3)))
          .foreach(writer.write)
        writer.commit()
      } catch {
        case e: Throwable => writer.abort(); throw e
      }
      Some(writer.file -> writer.lastOffsets)
    }
}

private[sources] class TopicBatchWrite(dir: String, bases: Option[String])
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    // per-partition base offsets: one scan of the existing log (the
    // broker-metadata lookup), computed ONCE per append — or passed in
    // by a caller that already knows them (FileTopicStore.append's
    // per-file offset memo)
    val b = bases.map(TopicSource.decodeBases)
      .getOrElse(TopicLog.partitionBases(dir))
    new TopicWriterFactory(dir, b, System.currentTimeMillis())
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] class TopicWriterFactory(dir: String, bases: Map[Int, Long],
    nowMillis: Long) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TopicDataWriter(dir, p => bases.getOrElse(p, -1L), nowMillis)
}

private[sources] case class TopicWriteDone() extends WriterCommitMessage

private[sources] class TopicDataWriter(dir: String, baseOf: Int => Long,
    nowMillis: Long) extends DataWriter[InternalRow] {
  import com.fasterxml.jackson.databind.ObjectMapper

  private val mapper = new ObjectMapper()
  private val uuid = java.util.UUID.randomUUID().toString
  private val staging = Paths.get(dir, s".staging-$uuid")
  /** The data file [[commit]] makes visible once a row was written. */
  val file: String = Paths.get(dir, s"v2-$uuid.json").toString
  // opened on the first row, so a task that gets none leaves no empty
  // file behind for every later read and offset scan to list
  private var out: java.io.BufferedWriter = null
  // ISO-8601 UTC, same shape the Spark JSON writer emits (UTC session)
  private val ts = java.time.Instant.ofEpochMilli(nowMillis).toString
  private val counters = scala.collection.mutable.Map.empty[Int, Long]

  /** Input row = (key, value, partition, offset=seq, ts ignored); the
    * required clustering guarantees this task owns `partition`. */
  override def write(row: InternalRow): Unit = {
    val p = row.getInt(2)
    val i = counters.getOrElse(p, 0L); counters(p) = i + 1
    // UTF-8 explicitly: the reader (Files.lines) decodes UTF-8
    // regardless of the JVM's default charset
    if (out == null)
      out = Files.newBufferedWriter(staging, java.nio.charset.StandardCharsets.UTF_8)
    val node = mapper.createObjectNode()
    if (!row.isNullAt(0)) node.put("key", row.getUTF8String(0).toString)
    if (!row.isNullAt(1)) node.put("value", row.getUTF8String(1).toString)
    node.put("partition", p)
    node.put("offset", baseOf(p) + 1L + i)
    node.put("ts", ts)
    out.write(mapper.writeValueAsString(node))
    out.newLine()
  }

  /** Per-partition last offset written so far. */
  def lastOffsets: Map[Int, Long] =
    counters.iterator.map { case (p, n) => p -> (baseOf(p) + n) }.toMap

  override def commit(): WriterCommitMessage = {
    if (out != null) {
      out.close()
      Files.move(staging, Paths.get(file),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    TopicWriteDone()
  }

  override def abort(): Unit =
    if (out != null) {
      out.close()
      Files.deleteIfExists(staging)
    }

  override def close(): Unit = ()
}
