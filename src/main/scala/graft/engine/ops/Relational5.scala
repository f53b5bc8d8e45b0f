package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Fifth relational batch (round 4): recursive-CTE hierarchy rollup
  * (Spark 4's declarative iterative operator, `UnionLoop`), rare-class
  * upsampling by row multiplication, time-series OHLC resampling,
  * boolean aggregates, and multi-distinct aggregation (the
  * `Expand`-based plan).
  *
  * Determinism contract as ever (SURVEY §7.3): integer/epoch
  * arithmetic where both engines must agree bit-for-bit, doubles only
  * ever PICKED (min/max/first/last), never summed, unique final sort
  * keys.
  */
object Relational5 {
  type Q = (SparkSession, String) => DataFrame

  /** Recursive-CTE hierarchy rollup: parts form an implicit 10-ary
    * forest (`parent(p) = p DIV 10`, roots = partkeys < 10); for each
    * root, count its subtree and sum its sizes. Runs on Spark 4's
    * native `WITH RECURSIVE` (a driver-coordinated loop of distributed
    * joins — the declarative twin of `dedup_clusters`' imperative
    * loop). Each part lies on exactly ONE root chain, so the recursion
    * materializes |part| rows total over ~log₁₀|part| iterations: no
    * combinatorial blowup, each step one equi-join against the part
    * table, frontier ≤ |part|. At 100 TB the same plan holds — the
    * per-level join shuffles on the parent key, and depth grows only
    * logarithmically. */
  val graphHierarchy: Q = (s, d) => {
    Tables.part(s, d).createOrReplaceTempView("graft_part_rec")
    s.sql(
      """WITH RECURSIVE down(root, node, sz) AS (
        |  SELECT p_partkey, p_partkey, p_size FROM graft_part_rec
        |  WHERE p_partkey < 10
        |  UNION ALL
        |  SELECT down.root, p.p_partkey, p.p_size
        |  FROM down JOIN graft_part_rec p
        |    ON p.p_partkey DIV 10 = down.node AND p.p_partkey >= 10)
        |SELECT root, count(1) AS n_desc, sum(sz) AS sum_size
        |FROM down GROUP BY root ORDER BY root""".stripMargin)
  }

  /** Rare-language upsampling by deterministic row multiplication:
    * each language's documents are replicated `least(4, max_tokens DIV
    * lang_tokens)` times (bounded-repeat mixture balancing toward the
    * LARGEST language — the inverse of `mix_weights`' downsampling).
    * Repeats come from exact BIGINT arithmetic over full-corpus token
    * budgets; the replication is a map-side `explode(sequence(...))`
    * against a broadcast 5-row factor table — at 100 TB the corpus is
    * never shuffled, only multiplied in place. Output is the exploded
    * copies for a fixed doc slice (bounded compare; the factors are
    * corpus-global). */
  val mixUpsample: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .repartition($"doc_id")
      .select($"doc_id", $"lang",
        TextFeatures.tokenCount($"text").cast("long").as("toks"))
    val per = tok.groupBy($"lang").agg(sum($"toks").as("tokens"))
    val reps = per.crossJoin(broadcast(per.agg(max($"tokens").as("max_tokens"))))
      .select($"lang",
        least(lit(4L), greatest(lit(1L), expr("max_tokens DIV tokens")))
          .as("repeats"))
    tok.filter($"doc_id" < 50)
      .join(broadcast(reps), Seq("lang"))
      .select($"doc_id", $"lang",
        explode(sequence(lit(1L), $"repeats")).as("copy"))
      .orderBy($"doc_id", $"copy")
  }

  /** Time-series OHLC resampling: 4-hour bars of `events.value` per
    * event type — open/close are the first/last values in (time,
    * event_id) order, high/low the extremes, n the bar volume. ONE
    * shuffle: row_number, first_value, last_value, max, min, count all
    * share the (event_type, bar) window partitioning, then the rn=1
    * row per bar carries the result. Doubles are only ever PICKED
    * (never summed), so every output is an exact input bit pattern —
    * hash-safe cross-engine. Microsecond epoch ordering; bars emitted
    * as epoch seconds. */
  val tsOhlc: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select($"event_type", $"event_id", $"value",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"))
      .withColumn("bar", expr("(ts_us DIV 14400000000) * 14400"))
    val w = Window.partitionBy($"event_type", $"bar")
      .orderBy($"ts_us", $"event_id")
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    base
      .withColumn("rn", row_number().over(w))
      .withColumn("open", first($"value").over(full))
      .withColumn("close", last($"value").over(full))
      .withColumn("high", max($"value").over(full))
      .withColumn("low", min($"value").over(full))
      .withColumn("n", count(lit(1)).over(full))
      .filter($"rn" === 1)
      .select($"event_type", $"bar", $"open", $"high", $"low", $"close", $"n")
      .orderBy($"event_type", $"bar")
  }

  /** Boolean aggregate family: universal / existential predicates and
    * conditional counts per group (`bool_and` / `bool_or` /
    * `count_if`) — all partial-aggregable map-side, one narrow
    * shuffle of 4 scalars per group. */
  val aggBool: Q = (s, d) =>
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(
        expr("bool_and(value > 0)").as("all_pos"),
        expr("bool_or(value > 99)").as("any_big"),
        expr("count_if(value > 50)").as("n_gt50"),
        expr("count_if(value IS NULL)").as("n_null"))
      .orderBy($"event_type")

  /** Multiple DISTINCT aggregates over different columns in one
    * query. r20: spelled as a join of per-column distinct aggregates
    * instead of the single Expand-based multi-distinct — Expand fans
    * every input row out once per distinct group (4× the rows through
    * the first aggregate), while four pruned subtree scans read the
    * SAME total column bytes from parquet (each scan reads only its
    * (l_returnflag, key) pair) and each distinct set dedups map-side
    * before its exchange; the join keys are the 3-value group column,
    * broadcast at any scale. ProbeM: 0.92 → 0.66 s isolated at sf0.1
    * (−29%), rows identical. */
  val aggMultiDistinct: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // count(col), not count(*): countDistinct skips NULL keys, and
    // count(col) over the distinct pairs does exactly the same
    def dc(c: String, as: String) =
      li.select($"l_returnflag", col(c)).distinct()
        .groupBy($"l_returnflag").agg(count(col(c)).as(as))
    dc("l_partkey", "n_parts")
      .join(dc("l_suppkey", "n_supps"), "l_returnflag")
      .join(dc("l_orderkey", "n_orders"), "l_returnflag")
      .join(li.groupBy($"l_returnflag").agg(count(lit(1)).as("n_rows")),
        "l_returnflag")
      .select($"l_returnflag", $"n_parts", $"n_supps", $"n_orders", $"n_rows")
      .orderBy($"l_returnflag")
  }

  /** ANSI-safe TRY function family: Spark 4 runs ANSI mode, where
    * division by zero / bad casts / integer overflow THROW — `try_*`
    * turns each into NULL-on-error (the semantics a robust ingest
    * pipeline wants for dirty rows). Divisor zero every 5th row, a
    * castable string every 3rd, multiply overflow beyond ±2⁶²; the
    * non-null products are ±2⁶² exactly (float64-representable, so the
    * differential compare is exact even through pandas' nullable-int →
    * float widening). Map-only. */
  val fnTry: Q = (s, d) =>
    // sort the RAW rows first, project after: a global sort range-
    // samples its child with an extra job, and with the projection
    // below the sort that meant evaluating every try_* expression
    // TWICE — at ~one caught ArithmeticException per row (2⁶²
    // overflows on all |event_id−5| ≥ 2) the double eval measured
    // 5.5 s for 100k rows. Project above the sort is row-order-
    // preserving, so the result is identical and the sampler re-reads
    // only the scan.
    Tables.events(s, d)
      .orderBy($"event_id")
      .select($"event_id",
        expr("try_divide(user_id, event_id % 5)").as("safe_div"),
        expr("try_cast(CASE WHEN event_id % 3 = 0 THEN CAST(event_id AS STRING) " +
          "ELSE event_type END AS BIGINT)").as("safe_cast"),
        // overflow on ~2% of rows (every 50th), not ~all of them: a
        // caught ArithmeticException costs ~20µs/row even JIT-warm, so
        // an overflow-everywhere demo mostly benchmarks JVM exception
        // handling (measured 2.2 s of the query's former 5.5 s). The
        // non-overflow factors stay in {-1, 0, 1} → products ±2⁶²/0,
        // float64-exact through the differential compare.
        expr("try_multiply(CASE WHEN event_id % 50 = 0 THEN event_id + 2 " +
          "ELSE event_id % 3 - 1 END, 4611686018427387904L)").as("safe_mul"))

  /** Spark 4 VARIANT path for semi-structured data: `parse_json` into
    * the binary VARIANT encoding once, then typed `variant_get`
    * extractions — the open-schema alternative to from_json-with-
    * declared-schema (fn_json's path). At scale VARIANT's advantage is
    * shredded binary storage + lazy field access instead of re-parsing
    * JSON text per extraction; here both engines must agree on the
    * extracted scalars. Malformed input → NULL via the same try_*
    * discipline as fn_try. */
  val fnVariant: Q = (s, d) =>
    // raw-sort first (unique event_id) to keep the sampler off the
    // parses (see fn_try), and parse each props string ONCE in a
    // staged projection — Catalyst's CollapseProject declines to
    // re-inline a multiply-referenced non-cheap alias, so the two
    // variant_get extractions share one binary VARIANT value
    Tables.events(s, d)
      .orderBy($"event_id")
      .withColumn("v", expr("parse_json(props)"))
      .select($"event_id",
        expr("variant_get(v, '$.k', 'bigint')").as("k"),
        expr("variant_get(v, '$.missing', 'bigint')").as("absent"),
        expr("is_variant_null(parse_json(CASE WHEN event_id % 7 = 0 " +
          "THEN 'null' ELSE props END))").as("null_in"))

  /** SQL-declared scalar UDF (Spark 4 `CREATE FUNCTION ... RETURN`):
    * the engine-resident function surface a SQL-first user extends —
    * Catalyst INLINES the body into the calling plan (no black-box
    * lambda, full codegen/pushdown through the call). The oracle
    * inlines the same expression by hand; matching output proves the
    * declared function is pure plan, not an opaque UDF. */
  val fnSqlUdf: Q = (s, d) => {
    // CREATE only when absent: OR REPLACE on every call logs a
    // "replaced a previously registered function" warning per run
    if (!s.catalog.functionExists("graft_tier"))
      s.sql("CREATE TEMPORARY FUNCTION graft_tier(bal DOUBLE) " +
        "RETURNS STRING RETURN CASE WHEN bal < 0 THEN 'debit' " +
        "WHEN bal < 5000 THEN 'standard' ELSE 'premium' END")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_udf")
    s.sql(
      """SELECT graft_tier(c_acctbal) AS tier, count(1) AS n,
        |       min(c_custkey) AS min_key
        |FROM graft_customer_udf
        |GROUP BY 1 ORDER BY tier""".stripMargin)
  }

  /** `grouping()` / `grouping_id()` over a rollup: the functions that
    * make super-aggregate rows distinguishable from genuine NULL group
    * keys — without them a rollup over nullable columns is ambiguous.
    * Same shuffle as any rollup (Expand + one hash aggregate). */
  val aggGroupingId: Q = (s, d) =>
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_prio"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid", $"o_orderstatus", $"o_orderpriority")

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of vanishing — the semantics needed when
    * a dimension's "unknown" bucket must still join. Planned as a hash
    * join (null-safe equality is still an equi-key). */
  val joinNullSafe: Q = (s, d) => {
    val a = Tables.orders(s, d)
      .groupBy(nullif($"o_orderpriority", lit("3-MEDIUM")).as("k"))
      .agg(count(lit(1)).as("n_all"))
    val b = Tables.orders(s, d).filter($"o_totalprice" > 200000)
      .groupBy(nullif($"o_orderpriority", lit("3-MEDIUM")).as("k"))
      .agg(count(lit(1)).as("n_big"))
    a.join(b, a("k") <=> b("k"))
      .select(a("k"), $"n_all", $"n_big")
      .orderBy($"k")
  }

  /** Last-observation-carried-forward fill (`IGNORE NULLS` window
    * family): a deterministically sparsified sensor series per user is
    * forward-filled with each user's most recent non-null reading —
    * the standard time-series imputation. ONE shuffle on the user key;
    * both the sparsification and the fill ride the same ordered
    * window, and values are only ever PICKED (bit-exact cross-engine).
    * The row_number tie-break makes the series order total, so the
    * fill is deterministic even at equal timestamps. */
  val tsLocf: Q = (s, d) => {
    val w = Window.partitionBy($"user_id")
      .orderBy(expr("unix_micros(CAST(ts AS TIMESTAMP))"), $"event_id")
    val filled = Window.partitionBy($"user_id").orderBy($"rn")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .withColumn("v_sparse",
        when($"rn" % 3 === 0, lit(null)).otherwise($"value"))
      .withColumn("v_filled",
        last($"v_sparse", ignoreNulls = true).over(filled))
      .select($"user_id", $"rn", $"v_sparse", $"v_filled")
      .orderBy($"user_id", $"rn")
  }

  /** Higher central moments — skewness and excess kurtosis per group —
    * computed CROSS-ENGINE-EXACT: power sums accumulate as DECIMAL
    * (fold-order-free), then ONE fixed double expression tree per
    * statistic (only correctly-rounded IEEE ops: +,−,×,÷,sqrt — no
    * pow(), whose low bits are engine-defined). The built-in
    * skewness()/kurtosis() aggregates stream floating partials in
    * merge order and are NOT reproducible across engines or even runs;
    * this spelling is. Emitted as floor-scaled basis points.
    *
    * The hot path stays BIGINT codegen (the [[Relational3.aggCorr]]
    * discipline): the value converts ONCE per row to exact hundredths
    * (cents ≤ 5000 for a 1–50 quantity; the decimal(18,2) cast
    * recovers the true 2-dp value), the three power products multiply
    * as longs — cents⁴ ≤ 6.25e14, overflow-free at ANY corpus size
    * because the bound is per-row — and only the SUMS accumulate as
    * DECIMAL(38,0). The scale divides back out in exact decimal
    * before each double conversion, so every statistic converts the
    * identical rational in both spellings and both engines. */
  val aggMoments: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(18, 2)
    val xc = ($"l_quantity".cast(dec) * 100).cast("long")
    Tables.lineitem(s, d)
      .select($"l_returnflag", xc.as("xc"))
      .withColumn("xc2", $"xc" * $"xc")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        // r19: SplitSum (ops.SplitSum) — same DECIMAL(38,0) totals, long
        // accumulators in codegen (see aggCorr's measurement)
        SplitSum.splitSum($"xc").as("s1c"), SplitSum.splitSum($"xc2").as("s2c"),
        SplitSum.splitSum($"xc2" * $"xc").as("s3c"),
        SplitSum.splitSum($"xc2" * $"xc2").as("s4c"))
      .select($"l_returnflag", $"n",
        expr("s1c / 100").as("s1"), expr("s2c / 10000").as("s2"),
        expr("s3c / 1000000").as("s3"), expr("s4c / 100000000").as("s4"))
      .select($"l_returnflag", $"n",
        expr(
          """cast(floor((
            |  (cast(s3 as double) / n
            |   - 3.0D * (cast(s1 as double) / n) * (cast(s2 as double) / n)
            |   + 2.0D * (cast(s1 as double) / n) * (cast(s1 as double) / n) * (cast(s1 as double) / n))
            |  / ((cast(s2 as double) / n - (cast(s1 as double) / n) * (cast(s1 as double) / n))
            |     * sqrt(cast(s2 as double) / n - (cast(s1 as double) / n) * (cast(s1 as double) / n)))
            |) * 10000D) as bigint)""".stripMargin).as("skew_bp"),
        expr(
          """cast(floor((
            |  (cast(s4 as double) / n
            |   - 4.0D * (cast(s1 as double) / n) * (cast(s3 as double) / n)
            |   + 6.0D * (cast(s1 as double) / n) * (cast(s1 as double) / n) * (cast(s2 as double) / n)
            |   - 3.0D * (cast(s1 as double) / n) * (cast(s1 as double) / n) * (cast(s1 as double) / n) * (cast(s1 as double) / n))
            |  / ((cast(s2 as double) / n - (cast(s1 as double) / n) * (cast(s1 as double) / n))
            |     * (cast(s2 as double) / n - (cast(s1 as double) / n) * (cast(s1 as double) / n)))
            |  - 3.0D
            |) * 10000D) as bigint)""".stripMargin).as("kurt_bp"))
      .orderBy($"l_returnflag")
  }

  /** Z-score anomaly flagging, engine-exact: per event type, count the
    * events beyond 3σ of the type's mean. Values enter as
    * floor-scaled integers (exact from identical doubles), power sums
    * accumulate exactly (decimal for Σx² — a long sum would overflow
    * ANSI), and the 3σ test compares (x−μ)² > 9·σ² in one fixed double
    * tree — no sqrt, no rounding, bit-identical both engines. Two
    * passes over the events (stats, then flag) with the 5-row stats
    * table broadcast back — the standard profile-then-filter shape. */
  val tsAnomaly: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select($"event_type", $"event_id",
        floor($"value" * 1e6).cast("long").as("x"))
    val stats = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"x").as("s1"),
        sum(($"x" * $"x").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          .as("s2"))
    ev.join(broadcast(stats), Seq("event_type"))
      .withColumn("is_anom", expr(
        """(cast(x as double) - cast(s1 as double) / n)
          |  * (cast(x as double) - cast(s1 as double) / n)
          |> 9.0D * (cast(s2 as double) / n
          |          - (cast(s1 as double) / n) * (cast(s1 as double) / n))""".stripMargin))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        expr("count_if(is_anom)").as("n_anomalies"))
      .orderBy($"event_type")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ts_anomaly", tsAnomaly, Some(
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS x
        |  FROM events),
        | st AS (
        |  SELECT event_type, count(1) AS n,
        |    CAST(sum(x) AS BIGINT) AS s1,
        |    CAST(sum(x * x) AS DECIMAL(38,0)) AS s2
        |  FROM e GROUP BY event_type)
        |SELECT e.event_type, CAST(count(1) AS BIGINT) AS n,
        |  CAST(count(1) FILTER (WHERE
        |    (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / st.n)
        |      * (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / st.n)
        |    > 9.0 * (CAST(s2 AS DOUBLE) / st.n
        |             - (CAST(s1 AS DOUBLE) / st.n) * (CAST(s1 AS DOUBLE) / st.n))
        |  ) AS BIGINT) AS n_anomalies
        |FROM e JOIN st ON st.event_type = e.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)),

    QueryDef("agg_moments", aggMoments, Some(
      """WITH a AS (
        |  SELECT l_returnflag, count(1) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS s1,
        |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS s2,
        |    SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,6))) AS s3,
        |    SUM(CAST(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))
        |        * CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4)) AS DECIMAL(38,8))) AS s4
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  CAST(floor((
        |    (CAST(s3 AS DOUBLE) / n
        |     - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
        |     + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |    / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |       * sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
        |  ) * 10000) AS BIGINT) AS skew_bp,
        |  CAST(floor((
        |    (CAST(s4 AS DOUBLE) / n
        |     - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
        |     + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
        |     - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |    / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
        |       * (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
        |    - 3.0
        |  ) * 10000) AS BIGINT) AS kurt_bp
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    QueryDef("ts_locf", tsLocf, Some(
      """WITH e AS (
        |  SELECT user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY epoch_us(ts), event_id) AS rn
        |  FROM events),
        | g AS (SELECT user_id, rn,
        |         CASE WHEN rn % 3 = 0 THEN NULL ELSE value END AS v_sparse
        |       FROM e)
        |SELECT user_id, rn, v_sparse,
        |  last_value(v_sparse IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS v_filled
        |FROM g ORDER BY user_id, rn""".stripMargin)),

    QueryDef("agg_grouping_id", aggGroupingId, Some(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n,
        |  CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
        |       AS BIGINT) AS gid
        |FROM orders
        |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin)),

    QueryDef("join_null_safe", joinNullSafe, Some(
      """WITH a AS (
        |  SELECT nullif(o_orderpriority, '3-MEDIUM') AS k, count(1) AS n_all
        |  FROM orders GROUP BY 1),
        | b AS (
        |  SELECT nullif(o_orderpriority, '3-MEDIUM') AS k, count(1) AS n_big
        |  FROM orders WHERE o_totalprice > 200000 GROUP BY 1)
        |SELECT a.k, a.n_all, b.n_big
        |FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
        |ORDER BY a.k NULLS FIRST""".stripMargin)),

    QueryDef("fn_variant", fnVariant, Some(
      """SELECT event_id,
        |  CAST(props::JSON ->> 'k' AS BIGINT) AS k,
        |  CAST(props::JSON ->> 'missing' AS BIGINT) AS absent,
        |  event_id % 7 = 0 AS null_in
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("fn_sql_udf", fnSqlUdf, Some(
      """SELECT CASE WHEN c_acctbal < 0 THEN 'debit'
        |            WHEN c_acctbal < 5000 THEN 'standard'
        |            ELSE 'premium' END AS tier,
        |  count(1) AS n, min(c_custkey) AS min_key
        |FROM customer GROUP BY 1 ORDER BY tier""".stripMargin)),

    QueryDef("fn_try", fnTry, Some(
      """SELECT event_id,
        |  user_id / nullif(event_id % 5, 0) AS safe_div,
        |  TRY_CAST(CASE WHEN event_id % 3 = 0 THEN CAST(event_id AS VARCHAR)
        |           ELSE event_type END AS BIGINT) AS safe_cast,
        |  CASE WHEN event_id % 50 = 0 THEN NULL
        |       ELSE CAST((event_id % 3 - 1) * 4611686018427387904 AS BIGINT)
        |  END AS safe_mul
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("graph_hierarchy", graphHierarchy, Some(
      """WITH RECURSIVE down(root, node, sz) AS (
        |  SELECT p_partkey, p_partkey, p_size FROM part WHERE p_partkey < 10
        |  UNION ALL
        |  SELECT down.root, p.p_partkey, p.p_size
        |  FROM down JOIN part p
        |    ON p.p_partkey // 10 = down.node AND p.p_partkey >= 10)
        |SELECT root, count(1) AS n_desc, CAST(sum(sz) AS BIGINT) AS sum_size
        |FROM down GROUP BY root ORDER BY root""".stripMargin)),

    QueryDef("mix_upsample", mixUpsample, Some(
      """WITH td AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS toks
        |  FROM documents),
        | per AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS tokens
        |         FROM td GROUP BY lang),
        | reps AS (
        |  SELECT lang,
        |    least(4, greatest(1, (SELECT max(tokens) FROM per) // tokens)) AS repeats
        |  FROM per)
        |SELECT td.doc_id, td.lang,
        |  CAST(unnest(generate_series(1, r.repeats)) AS BIGINT) AS copy
        |FROM td JOIN reps r ON r.lang = td.lang
        |WHERE td.doc_id < 50
        |ORDER BY doc_id, copy""".stripMargin)),

    QueryDef("ts_ohlc", tsOhlc, Some(
      """WITH e AS (
        |  SELECT event_type, event_id, value,
        |    epoch_us(ts) AS ts_us,
        |    (epoch_us(ts) // 14400000000) * 14400 AS bar
        |  FROM events),
        | wnd AS (
        |  SELECT event_type, bar, value,
        |    row_number() OVER (PARTITION BY event_type, bar
        |                       ORDER BY ts_us, event_id) AS rn,
        |    first_value(value) OVER (PARTITION BY event_type, bar
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS open,
        |    last_value(value) OVER (PARTITION BY event_type, bar
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close,
        |    max(value) OVER (PARTITION BY event_type, bar) AS high,
        |    min(value) OVER (PARTITION BY event_type, bar) AS low,
        |    count(1) OVER (PARTITION BY event_type, bar) AS n
        |  FROM e)
        |SELECT event_type, bar, open, high, low, close, CAST(n AS BIGINT) AS n
        |FROM wnd WHERE rn = 1
        |ORDER BY event_type, bar""".stripMargin)),

    QueryDef("agg_bool", aggBool, Some(
      """SELECT event_type,
        |  bool_and(value > 0) AS all_pos,
        |  bool_or(value > 99) AS any_big,
        |  CAST(count(1) FILTER (WHERE value > 50) AS BIGINT) AS n_gt50,
        |  CAST(count(1) FILTER (WHERE value IS NULL) AS BIGINT) AS n_null
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    QueryDef("agg_multi_distinct", aggMultiDistinct, Some(
      """SELECT l_returnflag,
        |  CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(1) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),
  )
}
