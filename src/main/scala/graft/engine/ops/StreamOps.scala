package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables

/** Streaming-semantic queries run in batch mode (SURVEY.md §2.B
  * "streaming-as-batch"). Each uses the exact Structured Streaming
  * primitive (`window`, `session_window`, watermark arithmetic) so the
  * same expression tree runs under `readStream` unchanged — the batch
  * form exists because it is DuckDB-oracle-checkable, and the streaming
  * form is exercised by ScalaTest (graft.engine.streaming).
  *
  * Window starts are emitted as epoch-second BIGINTs (not timestamps) so
  * the cross-engine compare is free of timestamp-unit ambiguity; events
  * timestamps carry microsecond precision (driver data), and both
  * engines floor to seconds identically.
  *
  * Scale: all four are single-shuffle grouped aggregations with map-side
  * partial aggregation; the session window additionally sorts within the
  * user partition (Spark plans session_window as a sort-based
  * aggregation per group) — at 100 TB this is the standard
  * sessionization shape, partitioned by user.
  */
object StreamOps {
  type Q = (SparkSession, String) => DataFrame
  private val dec = DecimalType(18, 2)

  /** Events per 1-hour tumbling window per type. */
  val streamTumbling: Q = (s, d) =>
    // r20: SplitSum discipline (ops.SplitSum)
    Tables.events(s, d)
      .withColumn("vc", ($"value".cast(dec) * 100).cast("long"))
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        (SplitSum.splitSum($"vc") / 100).cast("double").as("sum_value"))
      .select($"w.start".cast("timestamp").cast("long").as("w_start"),
        $"event_type", $"n", $"sum_value")
      .orderBy($"w_start", $"event_type")

  /** 1-hour window sliding every 30 minutes — each event lands in
    * exactly two windows. */
  val streamSliding: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select($"w.start".cast("timestamp").cast("long").as("w_start"),
        $"event_type", $"n")
      .orderBy($"w_start", $"event_type")

  /** Per-user session windows with a 30-minute inactivity gap.
    * Session end = last event + gap (Spark session_window semantics;
    * the oracle reproduces it with lag + running-sum sessionization). */
  val streamSession: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy(session_window($"ts", "30 minutes").as("w"), $"user_id")
      .agg(count(lit(1)).as("n"))
      .select($"user_id",
        $"w.start".cast("timestamp").cast("long").as("session_start"),
        $"w.end".cast("timestamp").cast("long").as("session_end"), $"n")
      .orderBy($"user_id", $"session_start")

  /** Watermark analog: keep only events within 1 hour of the max
    * timestamp (what a `withWatermark("ts", "1 hour")` stream would
    * still accept at end-of-input). The max is a broadcast scalar —
    * one pass for the max, one filtered scan, no shuffle of the data. */
  val streamLate: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val mx = ev.agg(max($"ts").as("max_ts"))
    ev.crossJoin(broadcast(mx))
      .filter($"ts" >= $"max_ts" - expr("INTERVAL 1 HOUR"))
      .select($"event_id", $"user_id", $"event_type")
      .orderBy($"event_id")
  }

  /** Stream-stream interval join: purchases within 1 hour AFTER a
    * click by the same user. Exactly the shape Structured Streaming
    * plans for a watermarked stream-stream join — equi-join on the key
    * with a time-range residual predicate; state retention on a real
    * stream is bounded by the interval + watermark. The equi-key
    * carries the shuffle; the range is a cheap residual, so this
    * scales like any keyed join (no time-bucketing blowup). */
  val streamJoin: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"event_id".as("click_id"), $"ts".as("click_ts"))
    val buys = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"))
    clicks.join(buys, "user_id")
      .filter($"purchase_ts" >= $"click_ts"
        && $"purchase_ts" < $"click_ts" + expr("INTERVAL 1 HOUR"))
      .select($"user_id", $"click_id", $"purchase_id")
      .orderBy($"user_id", $"click_id", $"purchase_id")
  }

  /** Watermarked stream dedup analog (`withWatermark` +
    * `dropDuplicates("user_id","event_type")`): FIRST arrival wins, in
    * (ts, event_id) order — one `min_by` grouped aggregate, map-side
    * partial, no window-function sort of the whole log. */
  val streamDedup: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy($"user_id", $"event_type")
      .agg(min_by($"event_id", struct($"ts", $"event_id")).as("first_event_id"),
        min($"ts").cast("timestamp").cast("long").as("first_ts"))
      .orderBy($"user_id", $"event_type")

  /** Custom-state analog: per-user LONGEST STREAK of consecutive
    * same-type events in (ts, event_id) order. Batch form is
    * gaps-and-islands (two ranked windows partitioned by user — the
    * sort is per-user, never global); the live form is the
    * mapGroupsWithState machine in
    * [[graft.engine.streaming.StatefulStreaks]], spec-checked to
    * produce identical results on the same data. */
  val streamState: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val byUserType =
      Window.partitionBy($"user_id", $"event_type").orderBy($"ts", $"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_type",
        (row_number().over(byUser) - row_number().over(byUserType)).as("grp"))
      .groupBy($"user_id", $"event_type", $"grp")
      .agg(count(lit(1)).as("len"))
      .groupBy($"user_id")
      .agg(max($"len").as("longest"))
      .orderBy($"user_id")
  }

  /** Conversion funnel (the windowFunnel shape): per user, the deepest
    * stage reached of click → view → purchase where each stage's FIRST
    * qualifying event lies within 1 hour of the previous stage's
    * matched time. ONE hash shuffle total: the three chained stage
    * minima are whole-partition window aggregates over the same
    * user partitioning (no orderBy → no sort; Catalyst stacks the
    * dependent Windows on one Exchange), and the final per-user
    * dedup reuses that partitioning, so no second shuffle. Never a
    * per-user event-list collection. Stage times are emitted as
    * nullable epoch-second BIGINTs; user_id is the unique sort key. */
  val streamFunnel: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"user_id")
    val hour = expr("INTERVAL 1 HOUR")
    Tables.events(s, d).select($"user_id", $"event_type", $"ts")
      .withColumn("t1",
        min(when($"event_type" === "click", $"ts")).over(w))
      .withColumn("t2",
        min(when($"event_type" === "view"
          && $"ts" >= $"t1" && $"ts" <= $"t1" + hour, $"ts")).over(w))
      .withColumn("t3",
        min(when($"event_type" === "purchase"
          && $"ts" >= $"t2" && $"ts" <= $"t2" + hour, $"ts")).over(w))
      .select($"user_id",
        when($"t3".isNotNull, 3).when($"t2".isNotNull, 2)
          .when($"t1".isNotNull, 1).otherwise(0).as("depth"),
        $"t1".cast("timestamp").cast("long").as("t1s"),
        $"t2".cast("timestamp").cast("long").as("t2s"),
        $"t3".cast("timestamp").cast("long").as("t3s"))
      .dropDuplicates("user_id")
      .orderBy($"user_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("stream_funnel", streamFunnel, Some(
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'click' GROUP BY user_id),
        | t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM events e JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'view'
        |    AND e.ts >= t1.t1 AND e.ts <= t1.t1 + INTERVAL 1 HOUR
        |  GROUP BY e.user_id),
        | t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM events e JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase'
        |    AND e.ts >= t2.t2 AND e.ts <= t2.t2 + INTERVAL 1 HOUR
        |  GROUP BY e.user_id)
        |SELECT u.user_id,
        |  CASE WHEN t3.t3 IS NOT NULL THEN 3
        |       WHEN t2.t2 IS NOT NULL THEN 2
        |       WHEN t1.t1 IS NOT NULL THEN 1 ELSE 0 END AS depth,
        |  CAST(floor(epoch(t1.t1)) AS BIGINT) AS t1s,
        |  CAST(floor(epoch(t2.t2)) AS BIGINT) AS t2s,
        |  CAST(floor(epoch(t3.t3)) AS BIGINT) AS t3s
        |FROM (SELECT DISTINCT user_id FROM events) u
        |LEFT JOIN t1 ON t1.user_id = u.user_id
        |LEFT JOIN t2 ON t2.user_id = u.user_id
        |LEFT JOIN t3 ON t3.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin)),

    QueryDef("stream_tumbling", streamTumbling, Some(
      """SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS w_start,
        |  event_type, count(1) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    QueryDef("stream_sliding", streamSliding, Some(
      """SELECT w0 - off AS w_start, event_type, count(1) AS n
        |FROM (SELECT event_type,
        |        (CAST(floor(epoch(ts)) AS BIGINT) // 1800) * 1800 AS w0
        |      FROM events) e,
        |     (SELECT unnest([0, 1800]) AS off) o
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin)),

    QueryDef("stream_session", streamSession, Some(
      """WITH m AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |         OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_s
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        | s AS (
        |  SELECT user_id, ts, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) + 1800 AS session_end,
        |  count(1) AS n
        |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    QueryDef("stream_late", streamLate, Some(
      """SELECT event_id, user_id, event_type FROM events
        |WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
        |ORDER BY event_id""".stripMargin)),

    QueryDef("stream_join", streamJoin, Some(
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        |  AND c.event_type = 'click' AND p.event_type = 'purchase'
        |  AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin)),

    QueryDef("stream_dedup", streamDedup, Some(
      """SELECT user_id, event_type, event_id AS first_event_id,
        |  CAST(floor(epoch(ts)) AS BIGINT) AS first_ts
        |FROM (SELECT user_id, event_type, event_id, ts,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) AS rn
        |      FROM events) WHERE rn = 1
        |ORDER BY user_id, event_type""".stripMargin)),

    QueryDef("stream_state", streamState, Some(
      """WITH o AS (
        |  SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |    - row_number() OVER (PARTITION BY user_id, event_type
        |                         ORDER BY ts, event_id) AS grp
        |  FROM events),
        | runs AS (
        |  SELECT user_id, count(1) AS len
        |  FROM o GROUP BY user_id, event_type, grp)
        |SELECT user_id, max(len) AS longest
        |FROM runs GROUP BY user_id ORDER BY user_id""".stripMargin)),
  )
}
