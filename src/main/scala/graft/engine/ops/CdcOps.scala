package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.engine.cdc.Transforms

/** CDC-semantic queries (SURVEY.md §2.B "CDC-semantic transforms") —
  * ports of the reference's row transforms exercised over the driver
  * testdata so they are DuckDB-checkable.
  */
object CdcOps {
  type Q = (SparkSession, String) => DataFrame

  /** The compacted-topic key for lineitem's PK (reference
    * seed_store.clj:50-55): JSON array of [col, val, …] pairs sorted by
    * column name. Built with explicit concat (not to_json) so the
    * oracle compares byte-identically (SURVEY §7.3f). */
  val cdcSeedKey: Q = (s, d) =>
    // dedup on the two narrow PK columns BEFORE building the key string:
    // a full-row dropDuplicates after the concat shuffles the wide
    // seed_key string and hash-aggregates on it (~30× slower at sf0.1);
    // deduping first moves only two longs through the exchange and the
    // string is built map-side after
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber")
      // the single-row-group parquet file scans as ONE task; repartition
      // on the dedup keys parallelizes the aggregate (the exchange
      // satisfies dropDuplicates' distribution, so no second shuffle)
      .repartition($"l_orderkey", $"l_linenumber")
      .dropDuplicates("l_orderkey", "l_linenumber")
      .select(
        $"l_orderkey", $"l_linenumber",
        concat(
          lit("[\"l_linenumber\",\""), $"l_linenumber".cast("string"),
          lit("\",\"l_orderkey\",\""), $"l_orderkey".cast("string"),
          lit("\"]")).as("seed_key"))
      .orderBy($"l_orderkey", $"l_linenumber")

  /** Nested DML document built from a flat row by the `cdc.`-prefix
    * name convention (reference seed_store.clj:38-48). Oracle-checked:
    * Spark's `to_json(struct(...))` emits fields in select order, so
    * the DuckDB oracle mirrors the exact field order with
    * `struct_pack` — both engines produce byte-identical compact JSON
    * (golden fixture FIXTURES.md A.3 still covers the combinators).
    * The query synthesizes a seed-view-shaped frame from lineitem,
    * applies the combinators, and returns (key, value) sorted by
    * key. */
  val cdcDmlMsg: Q = (s, d) => {
    val seedView = Tables.lineitem(s, d)
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .limit(1000)
      .select(
        lit("insert").as("cdc.type"),
        lit("tpch.lineitem").as("cdc.table"),
        lit("loader").as("cdc.info.user_id"),
        $"l_orderkey".cast("string").as("cdc.id.l_orderkey"),
        $"l_linenumber".cast("string").as("cdc.id.l_linenumber"),
        $"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
    // order by key AND value: the testdata's (l_orderkey, l_linenumber)
    // is not unique, so same-key rows need the value as tie-break for a
    // deterministic cross-engine row order
    Transforms.dmlMsgToSeedMsg(Transforms.seedRowToDmlMsg(seedView))
      .orderBy($"key", $"value")
  }

  /** 2%-bucket progress ledger (reference core.clj:162-175): over the
    * event log in (ts, event_id) order, emit the rows where the running
    * count crosses a 2% bucket of the total. The batch analog of the
    * reference's conflated progress channel (live path:
    * [[graft.engine.streaming.ProgressTracker]]).
    *
    * The global ordered index is the [[graft.engine.ops.ZipIndex]]
    * rank in ledger order — one range exchange, never a single-task
    * `Window.orderBy` (which would drag the whole log through one
    * task, exactly the kind of plan that dies at 100 TB) and never a
    * second exchange just to rank. */
  val cdcProgress: Q = (s, d) => {
    val (idxed, total) = graft.engine.ops.ZipIndex.ranked(
      Tables.events(s, d).select($"event_id", $"ts"),
      Seq($"ts", $"event_id"), "idx0")
    idxed
      .withColumn("seeded", $"idx0" + 1L)
      .withColumn("total", lit(total))
      .filter(expr("(seeded * 50) DIV total > ((seeded - 1) * 50) DIV total"))
      .select($"seeded", $"total", $"event_id")
      .orderBy($"seeded")
  }

  /** Log-compaction read: latest event per user — the reference's
    * topic->last-known-ccd-states (initializer.clj:27-39) over the
    * events table. */
  val cdcLastState: Q = (s, d) =>
    Transforms.lastStatePerKey(Seq("user_id"), Seq("ts", "event_id"))(
      Tables.events(s, d))
      .select($"user_id", $"event_id", $"event_type", $"value")
      .orderBy($"user_id")

  /** MERGE-style change classification (the upsert planning step a
    * CDC consumer runs before applying a batch): the stream is split
    * at a cut instant into SNAPSHOT (last state per user before) and
    * INCOMING (last state per user at/after); each incoming change is
    * classified against the snapshot — tombstone ('error') → delete,
    * unseen key → insert, otherwise update. Both compactions are the
    * engine's `lastStatePerKey` aggregate; the classify join is
    * key-partitioned on the same user hash. */
  val cdcMergeClasses: Q = (s, d) => {
    val cut = "TIMESTAMP_NTZ '2024-01-16 00:00:00'"
    val ev = Tables.events(s, d)
    def last(df: DataFrame) =
      Transforms.lastStatePerKey(Seq("user_id"), Seq("ts", "event_id"))(df)
    val snapshot = last(ev.filter(expr(s"ts < $cut")))
      .select($"user_id", $"event_type".as("old_type"))
    val incoming = last(ev.filter(expr(s"ts >= $cut")))
      .select($"user_id", $"event_type".as("new_type"))
    incoming.join(snapshot, Seq("user_id"), "left")
      .select($"user_id",
        when($"new_type" === "error", "delete")
          .when($"old_type".isNull, "insert")
          .otherwise("update").as("action"),
        $"old_type", $"new_type")
      .orderBy($"user_id")
  }

  /** Full control-path read: compaction ∘ terminal-status rejection ∘
    * timestamp ordering (reference ops 7, 9, 10 composed) over a
    * control log synthesized from events (event_type stands in for the
    * CCD status; 'error'/'purchase' are the terminal analogs). */
  val cdcStatusFilter: Q = (s, d) => {
    val compacted = Transforms.lastStatePerKey(Seq("user_id"), Seq("ts", "event_id"))(
      Tables.events(s, d))
    Transforms.dropTerminal("event_type", Set("error", "purchase"))(compacted)
      .select($"user_id", $"event_id", $"event_type", $"ts")
      .orderBy($"ts", $"event_id")
      .drop("ts")
  }

  /** Changelog materialization — apply a CDC stream to produce current
    * table state, the consumer-side twin of the reference's compaction
    * (which keeps the last message per key but leaves tombstones as
    * values): last-writer-wins per key in (ts, event_id) order, and a
    * trailing DELETE ('error' here) removes the row entirely. Scales as
    * one partitioned window (key-partitioned, never global); at 100 TB
    * this is the standard snapshot-maintenance shuffle on the
    * replication key. */
  val cdcApply: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts".desc, $"event_id".desc)
    Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id", $"event_type", $"value")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1 && $"event_type" =!= "error")
      .select($"user_id", $"event_id".as("last_event"),
        $"ts".cast("timestamp").cast("long").as("state_ts"),
        $"value".as("state_value"))
      .orderBy($"user_id")
  }

  /** SCD-type-2 history from a changelog: every state a key passed
    * through becomes a validity interval — `valid_from` = its change
    * time, `valid_to` = the next change's time (null while current).
    * The standard "time-travel" dimension build downstream of CDC;
    * one key-partitioned window (lead), integer epoch output, fully
    * parallel at any scale. */
  val cdcScd2: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"event_type",
        $"ts".cast("timestamp").cast("long").as("valid_from"), $"ts")
      .withColumn("valid_to", lead($"valid_from", 1).over(w))
      .withColumn("is_current", $"valid_to".isNull)
      .select($"user_id", $"event_id", $"event_type",
        $"valid_from", $"valid_to", $"is_current")
      .orderBy($"user_id", $"valid_from", $"event_id")
  }

  /** DuckDB oracles. cdc_dml_msg is checkable because both engines emit
    * deterministic-field-order compact JSON (Spark: select order;
    * DuckDB: struct_pack order). */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("cdc_scd2", cdcScd2, Some(
      """SELECT user_id, event_id, event_type,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS valid_from,
        |  lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) IS NULL AS is_current
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin)),

    QueryDef("cdc_apply", cdcApply, Some(
      """SELECT user_id, event_id AS last_event,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS state_ts, value AS state_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin)),

    QueryDef("cdc_merge_classes", cdcMergeClasses, Some(
      """WITH snap AS (
        |  SELECT user_id, event_type AS old_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1),
        | inc AS (
        |  SELECT user_id, event_type AS new_type FROM (
        |    SELECT user_id, event_type,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1)
        |SELECT inc.user_id,
        |  CASE WHEN inc.new_type = 'error' THEN 'delete'
        |       WHEN snap.old_type IS NULL THEN 'insert'
        |       ELSE 'update' END AS action,
        |  snap.old_type, inc.new_type
        |FROM inc LEFT JOIN snap ON snap.user_id = inc.user_id
        |ORDER BY inc.user_id""".stripMargin)),

    QueryDef("cdc_seed_key", cdcSeedKey, Some(
      """SELECT DISTINCT l_orderkey, l_linenumber,
        |  '["l_linenumber","' || CAST(l_linenumber AS VARCHAR)
        |    || '","l_orderkey","' || CAST(l_orderkey AS VARCHAR) || '"]' AS seed_key
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef("cdc_dml_msg", cdcDmlMsg, Some(
      """WITH sv AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |  FROM lineitem
        |  ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |  LIMIT 1000)
        |SELECT
        |  to_json(['l_linenumber', CAST(l_linenumber AS VARCHAR),
        |           'l_orderkey', CAST(l_orderkey AS VARCHAR)]) AS key,
        |  to_json(struct_pack(
        |    "type" := 'insert',
        |    "table" := 'tpch.lineitem',
        |    info := struct_pack(user_id := 'loader'),
        |    id := struct_pack(l_orderkey := CAST(l_orderkey AS VARCHAR),
        |                      l_linenumber := CAST(l_linenumber AS VARCHAR)),
        |    data := struct_pack(l_orderkey := l_orderkey,
        |                        l_linenumber := l_linenumber,
        |                        l_quantity := l_quantity,
        |                        l_extendedprice := l_extendedprice))) AS value
        |FROM sv ORDER BY key, value""".stripMargin)),

    QueryDef("cdc_progress", cdcProgress, Some(
      """WITH numbered AS (
        |  SELECT event_id,
        |    row_number() OVER (ORDER BY ts, event_id) AS seeded,
        |    count(1) OVER () AS total
        |  FROM events)
        |SELECT seeded, total, event_id FROM numbered
        |WHERE (seeded * 50) // total > ((seeded - 1) * 50) // total
        |ORDER BY seeded""".stripMargin)),

    QueryDef("cdc_last_state", cdcLastState, Some(
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    QueryDef("cdc_status_filter", cdcStatusFilter, Some(
      """SELECT user_id, event_id, event_type FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1 AND event_type NOT IN ('error', 'purchase')
        |ORDER BY ts, event_id""".stripMargin)),
  )
}
