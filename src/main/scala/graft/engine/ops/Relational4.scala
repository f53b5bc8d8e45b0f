package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables

/** Fourth relational batch: reshaping (unpivot), lateral joins,
  * time-series gap filling, cohort retention, deterministic dataset
  * splitting, PII redaction, and distributed graph analytics
  * (degree-oriented triangle counting).
  *
  * Determinism contract as ever (SURVEY §7.3): integer/epoch-second
  * arithmetic wherever both engines must agree bit-for-bit, unique
  * final sort keys, decimal money math.
  */
object Relational4 {
  type Q = (SparkSession, String) => DataFrame
  private val dec = DecimalType(18, 2)

  /** Wide-to-long reshape via the native `unpivot` (melt) operator:
    * per-priority aggregates unpivoted into (priority, metric, value)
    * rows. Map-only after the aggregate — unpivot is a generator
    * projection, no shuffle. */
  val aggUnpivot: Q = (s, d) => {
    val wide = Tables.orders(s, d)
      // r20: SplitSum discipline (ops.SplitSum)
      .withColumn("tc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .groupBy($"o_orderpriority")
      .agg(
        (SplitSum.splitSum($"tc") / 100).cast("double").as("sum_price"),
        count(lit(1)).cast("double").as("n_orders"),
        max($"o_totalprice").as("max_price"))
    wide.unpivot(
        Array($"o_orderpriority"),
        Array($"sum_price", $"n_orders", $"max_price"),
        "metric", "value")
      .orderBy($"o_orderpriority", $"metric")
  }

  /** Correlated LATERAL subquery with ORDER BY + LIMIT: each
    * customer's top-2 orders by price. Catalyst decorrelates the
    * per-row limit into a ranked window join — the declarative form
    * of the "top-N per key" pattern (same physical shape as
    * `win_topn`, but written as the SQL-standard lateral join). */
  val joinLateral: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_lat")
    s.sql(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM graft_customer_lat c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM graft_orders_lat o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)
  }

  /** Time-series densification: hourly counts of the rare 'error'
    * event type with explicit zero rows for silent hours (42 gap
    * hours at sf0.01). The hour spine is `sequence()`-generated from
    * the observed min/max — a broadcast of one 2-column row, then a
    * map-side explode; the counts side is a small aggregate, so the
    * spine join broadcasts. No shuffle touches raw events beyond the
    * initial hour aggregate. Epoch-second integer arithmetic on both
    * engines. */
  val tsFill: Q = (s, d) => {
    val hr = expr("(CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 3600) * 3600")
    val counts = Tables.events(s, d)
      .filter($"event_type" === "error")
      .groupBy(hr.as("hr"))
      .agg(count(lit(1)).as("n"))
    val spine = counts.agg(min($"hr").as("mn"), max($"hr").as("mx"))
      .select(explode(sequence($"mn", $"mx", lit(3600L))).as("hr"))
    spine.join(broadcast(counts), Seq("hr"), "left")
      .select($"hr", coalesce($"n", lit(0L)).as("n"))
      .orderBy($"hr")
  }

  /** Cohort retention: for each day-offset k (0..7), how many users
    * were active exactly k days after their first-ever event. The
    * activity set and the cohort anchor are both keyed by user, so
    * the join reuses the user-hash shuffle of the min-day aggregate —
    * one shuffle of the raw events, then key-local work. Epoch-day
    * integers end-to-end. */
  val aggRetention: Q = (s, d) => {
    val days = Tables.events(s, d)
      .select($"user_id",
        expr("CAST(CAST(ts AS TIMESTAMP) AS BIGINT) DIV 86400").as("day"))
    val cohort = days.groupBy($"user_id").agg(min($"day").as("d0"))
    days.join(cohort, Seq("user_id"))
      .select($"user_id", ($"day" - $"d0").as("k"))
      .filter($"k" <= 7)
      .distinct()
      .groupBy($"k").agg(count(lit(1)).as("n_users"))
      .orderBy($"k")
  }

  /** Deterministic train/valid/test split: Knuth multiplicative hash
    * of the stable doc_id, reduced mod 100 → 80/10/10. Map-only, no
    * shuffle, reproducible across runs/engines/partitionings — the
    * property a training pipeline needs so a document's split never
    * changes when the corpus grows. The multiply runs in DECIMAL(38,0)
    * (HUGEINT oracle): a BIGINT product overflows past ids ~3.5e9 —
    * a 100 TB corpus's id space — and would throw under ANSI mode or
    * silently wrap (and re-bucket every document) under legacy mode;
    * decimal is exact to 1e38 with the identical value at every id. */
  val dataSplit: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"doc_id",
        expr("CAST(CAST(doc_id AS DECIMAL(38,0)) * 2654435761" +
          " % 4294967296 % 100 AS BIGINT)").as("bucket"))
      .select($"doc_id", $"bucket",
        when($"bucket" < 80, "train")
          .when($"bucket" < 90, "valid")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")

  /** PII redaction: scrub emails and long digit runs from text. The
    * corpus text carries no PII, so each doc gets a deterministic
    * contact-info suffix derived from its id appended BEFORE
    * redaction — the redaction path is exercised on every row and the
    * oracle rebuilds the identical input. Emits match counts + an md5
    * digest of the redacted text (cross-engine-identical; keeps the
    * compared output narrow). Map-only single pass. */
  val textPii: Q = (s, d) => {
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val numRe = "[0-9]{4,}"
    // r20: sort the RAW rows first, redact above the sort (the fn_try
    // discipline): the sort key is the raw doc_id, so the projection
    // is row-order-preserving — below the sort, the range sampler
    // executed the whole 3-regex redaction chain a second time.
    Tables.documents(s, d)
      .select($"doc_id", $"text")
      .orderBy($"doc_id")
      .withColumn("raw",
        concat($"text", lit(" contact user"), $"doc_id",
          lit("@example.com tel 555"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
      .select(
        $"doc_id",
        // Column-API regex fns (not expr()): the SQL parser would
        // strip the \. escape from a quoted literal.
        size(regexp_extract_all($"raw", lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(
          regexp_replace($"raw", emailRe, "<EMAIL>"), lit(numRe), lit(0)))
          .as("n_nums"),
        md5(regexp_replace(
          regexp_replace($"raw", emailRe, "<EMAIL>"), numRe, "<NUM>"))
          .as("digest"))
  }

  /** Distributed triangle counting over the part co-occurrence graph
    * (parts appearing in the same order = an edge). Uses the
    * degree-orientation algorithm (node-iterator++): every edge is
    * directed from its lower-(degree, id) endpoint to the higher, so
    * wedge enumeration is bounded by out-degree ≤ O(√m) instead of
    * raw degree — the standard trick that makes distributed triangle
    * counting survive skewed degree distributions (a hub node never
    * fans out). All equi-joins + aggregates; the oracle counts the
    * same triangles with the naive canonical 3-way join (same total,
    * different algorithm — the equality is the proof of the
    * orientation's correctness). */
  val graphTriangles: Q = (s, d) => {
    // Deterministic 25% order sample: the full co-occurrence graph is
    // dense (avg degree ~120 at sf0.1 → 41M wedges even after
    // orientation); basket analysis on a keyed sample is the standard
    // practice and keeps the declared query's cost proportionate.
    // The ALGORITHM is sample-free — drop the filter for the full graph.
    val li = Tables.lineitem(s, d)
      .filter($"l_orderkey" % 4 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
    // edges feeds degrees, orientation, and the final edge count —
    // materialize once (Checkpoints.cutCounted: reliable checkpoint
    // when spark.graft.checkpointDir is set, local blocks otherwise;
    // the broadcast-gate/output count comes from the materialization
    // job itself instead of a second full-frame scan).
    val (edges, nEdges) = Checkpoints.cutCounted(li.as("a")
      .join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v"))
      .distinct())
    // (degree, id) rank as a STRUCT — Spark orders structs
    // lexicographically in comparisons and greatest(), so the
    // degree-major/id-minor orientation order needs no packing and
    // holds at ANY id width (a `dg * base + id` BIGINT pack would
    // silently corrupt the orientation the day ids outgrow the base —
    // a 100 TB id space does). Ties are impossible: id is unique.
    // The degree table is |V|-sized — broadcast it (so the 2 rank
    // joins stay map-side over the edge list) only under the SAME
    // size gate as the closure side: |V| <= 2·|E| and |E| is known
    // for free from the cutCounted materialization, so the flip to
    // shuffle equi-joins at broadcast-hostile scale is executable
    // logic, not a comment asking a future operator to edit the query
    // (the algorithm is unchanged either way).
    val maxBroadcastEdges = s.conf.get(
      "spark.graft.triangles.broadcastMaxEdges", "10000000").toLong
    val deg0 = edges.select($"u".as("n")).unionAll(edges.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("dg"))
      .select($"n", struct($"dg", $"n").as("rank"))
    val deg = if (nEdges <= maxBroadcastEdges) broadcast(deg0) else deg0
    val oriented = Checkpoints.cut(edges
      .join(deg.withColumnRenamed("n", "u").withColumnRenamed("rank", "ru"), Seq("u"))
      .join(deg.withColumnRenamed("n", "v").withColumnRenamed("rank", "rv"), Seq("v"))
      .select(
        when($"ru" < $"rv", $"u").otherwise($"v").as("src"),
        when($"ru" < $"rv", $"v").otherwise($"u").as("dst"),
        greatest($"ru", $"rv").as("rdst")))
    // ^ reused by both wedge sides + closure probe; measured faster
    // materialized once than recomputed thrice from edges
    // Wedge enumeration partitions by src. The closure strategy is
    // SIZE-GATED, not hard-coded: below the knob the |E|-sized oriented
    // edge set is broadcast, so the (large) wedge stream is consumed
    // map-side in the stage that produces it — never shuffled or sorted
    // (measured 5× on the dense sf0.1 co-occurrence graph vs exchanging
    // ~35M wedge rows). ABOVE the knob (a 100 TB co-occurrence graph's
    // edge set does not fit in an executor) the closure hash-partitions
    // the wedges against the edge relation on (b, c) — the textbook MR
    // formulation; same result, one more shuffle. |E| is known exactly
    // and for free: cutCounted surfaced it from the checkpoint's own
    // materialization job.
    val wedges = oriented.as("o1")
      .join(oriented.as("o2"),
        $"o1.src" === $"o2.src" && $"o1.rdst" < $"o2.rdst")
      .select($"o1.dst".as("b"), $"o2.dst".as("c"))
    val closing = oriented.select($"src".as("b"), $"dst".as("c"))
    val closingSide =
      if (nEdges <= maxBroadcastEdges) broadcast(closing) else closing
    wedges.join(closingSide, Seq("b", "c"))
      .agg(count(lit(1)).as("n_triangles"))
      .select(lit(nEdges).as("n_edges"), $"n_triangles")
  }

  /** Extended calendar arithmetic: month-clamped interval addition,
    * end-of-month, quarter truncation/number, ISO weekday/week, day
    * difference to a pinned date. ISO variants are chosen where the
    * engines' defaults disagree (Spark dayofweek is Sunday=1, DuckDB
    * dow is Sunday=0 — weekday()+1 = isodow on both). Map-only. */
  val fnDate2: Q = (s, d) =>
    // raw-sort first (unique o_orderkey), project after — avoids the
    // presentation-sort double-eval of the date kernels (see fn_try)
    Tables.orders(s, d)
      .orderBy($"o_orderkey")
      .select($"o_orderkey",
        add_months($"o_orderdate", 3).as("plus3m"),
        last_day($"o_orderdate").as("eom"),
        date_trunc("quarter", $"o_orderdate").cast("date").as("q_start"),
        quarter($"o_orderdate").as("q"),
        (weekday($"o_orderdate") + 1).as("dow_iso"),
        weekofyear($"o_orderdate").as("iso_week"),
        datediff(lit(java.sql.Date.valueOf("2024-06-30")), $"o_orderdate")
          .as("days_to_mid"))

  /** Full-outer join of two keyed aggregates (per-customer order
    * stats vs per-user event stats): both unmatched sides survive
    * null-padded; the coalesced key is the non-null unique sort key.
    * Shuffles on the shared key — both aggregates and the join reuse
    * one hash partitioning. */
  val joinFull: Q = (s, d) => {
    val ord = Tables.orders(s, d)
      .groupBy($"o_custkey".as("k"))
      .agg(count(lit(1)).as("n_orders"))
    val ev = Tables.events(s, d)
      .groupBy($"user_id".as("k"))
      .agg(count(lit(1)).as("n_events"))
    ord.join(ev, Seq("k"), "full_outer")
      .select($"k", $"n_orders", $"n_events")
      .orderBy($"k")
  }

  /** Correlated EXISTS subquery (the SQL spelling of a semi join —
    * Catalyst decorrelates it to the same physical shape as
    * `join_semi`, proving the rewrite). */
  val subqExists: Q = (s, d) => {
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_ex")
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_ex")
    s.sql(
      """SELECT c_custkey, c_name FROM graft_customer_ex c
        |WHERE EXISTS (SELECT 1 FROM graft_orders_ex o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Multiset (bag) intersection: INTERSECT ALL preserves duplicate
    * multiplicity — min(count_left, count_right) per value — unlike
    * the distinct `set_intersect`. Aggregated afterwards so the
    * compared output is deterministic. */
  val setIntersectAll: Q = (s, d) => {
    val a = Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderdate".as("dt"))
    val b = Tables.orders(s, d).filter($"o_orderpriority" === "2-HIGH")
      .select($"o_orderdate".as("dt"))
    a.intersectAll(b).groupBy($"dt").agg(count(lit(1)).as("n"))
      .orderBy($"dt")
  }

  /** Multiset difference: EXCEPT ALL subtracts multiplicities
    * (max(0, count_left − count_right)) instead of dropping every
    * matched value. */
  val setExceptAll: Q = (s, d) => {
    val a = Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT")
      .select($"o_orderdate".as("dt"))
    val b = Tables.orders(s, d).filter($"o_orderpriority" === "2-HIGH")
      .select($"o_orderdate".as("dt"))
    a.exceptAll(b).groupBy($"dt").agg(count(lit(1)).as("n"))
      .orderBy($"dt")
  }

  /** Deterministic stratified sampling by key hash: per-stratum
    * fractions (A 10% / N 20% / R 10%) drawn by multiplicative hash
    * of the row key instead of an engine RNG — the same
    * layout-independence (and SQL-mirrored differential gate)
    * `sample_stratified`'s polyhash draw gained in round 9; the draw
    * is bit-reproducible across engines, runs, and
    * partitionings, so it CAN be differentially gated — and a row
    * keeps its in/out fate as the corpus grows (the property that
    * makes experiment re-runs comparable). Map-only. */
  val sampleHash: Q = (s, d) => {
    val bucket = expr(
      "((l_orderkey * 8 + l_linenumber) * 2654435761) % 4294967296 % 1000")
    Tables.lineitem(s, d)
      .withColumn("bucket", bucket)
      .filter(
        ($"l_returnflag" === "A" && $"bucket" < 100) ||
        ($"l_returnflag" === "N" && $"bucket" < 200) ||
        ($"l_returnflag" === "R" && $"bucket" < 100))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"),
        // r19: SplitSum (ops.SplitSum) — identical exact total, long
        // accumulators in codegen
        SplitSum.splitSum(($"l_quantity".cast(dec) * 100).cast("long"))
          .as("sqc"))
      .select($"l_returnflag", $"n_sampled",
        expr("sqc / 100").cast("double").as("sum_qty"))
      .orderBy($"l_returnflag")
  }

  /** Bloom-filter semi-join reduction: the probe (fact) side is
    * pre-filtered with a bloom sketch of the selective dim's keys
    * BEFORE the join — Spark's own runtime-filter machinery
    * (`BloomFilterAggregate` / `BloomFilterMightContain`, surfaced as
    * `graft_bloom_agg` / `graft_might_contain`) placed by hand where
    * the cost-based injection declines. At 100 TB this is the pattern
    * that keeps a fact-table shuffle proportional to the matching
    * rows, not the table: the bloom rides a scalar subquery (one
    * broadcastable binary blob), false positives are removed by the
    * exact join, false negatives are impossible — so the result is
    * provably the plain join's. The filter sits syntactically on the
    * probe side because subquery predicates are not pushed through
    * joins. */
  val joinBloom: Q = (s, d) => {
    graft.engine.functions.VectorOps.register(s)
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_bl")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_bl")
    s.sql(
      """WITH dim AS (SELECT c_custkey, c_name FROM graft_customer_bl
        |             WHERE c_acctbal < 0 AND c_mktsegment = 'AUTOMOBILE')
        |SELECT o.o_orderkey, o.o_custkey, d.c_name, o.o_totalprice
        |FROM (SELECT * FROM graft_orders_bl
        |      WHERE graft_might_contain(
        |        (SELECT graft_bloom_agg(xxhash64(c_custkey)) FROM dim),
        |        xxhash64(o_custkey))) o
        |JOIN dim d ON o.o_custkey = d.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin)
  }

  /** Deterministic per-group mode: the most common order priority per
    * market segment, ties broken lexicographically (built-in mode()
    * has engine-defined ties — the explicit count + ranked-window
    * form is the cross-engine-stable spelling). */
  val aggMode: Q = (s, d) => {
    val counts = Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment", $"o_orderpriority")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"c_mktsegment")
      .orderBy($"n".desc, $"o_orderpriority")
    counts.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"c_mktsegment", $"o_orderpriority".as("mode_priority"), $"n")
      .orderBy($"c_mktsegment")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("agg_unpivot", aggUnpivot, Some(
      """WITH w AS (SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(count(1) AS DOUBLE) AS n_orders,
        |  max(o_totalprice) AS max_price FROM orders GROUP BY 1)
        |SELECT o_orderpriority, metric, value
        |FROM w UNPIVOT (value FOR metric IN (sum_price, n_orders, max_price))
        |ORDER BY o_orderpriority, metric""".stripMargin)),

    QueryDef("join_lateral", joinLateral, Some(
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c
        |JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t ON true
        |ORDER BY c.c_custkey, t.o_orderkey""".stripMargin)),

    QueryDef("ts_fill", tsFill, Some(
      """WITH e AS (SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600 AS hr,
        |                  count(1) AS n
        |           FROM events WHERE event_type = 'error' GROUP BY 1),
        | b AS (SELECT min(hr) AS mn, max(hr) AS mx FROM e),
        | hours AS (SELECT unnest(generate_series(mn, mx, 3600)) AS hr FROM b)
        |SELECT h.hr, COALESCE(e.n, 0) AS n
        |FROM hours h LEFT JOIN e ON e.hr = h.hr ORDER BY h.hr""".stripMargin)),

    QueryDef("agg_retention", aggRetention, Some(
      """WITH days AS (SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day FROM events),
        | cohort AS (SELECT user_id, min(day) AS d0 FROM days GROUP BY 1),
        | act AS (SELECT DISTINCT days.user_id, day - d0 AS k
        |         FROM days JOIN cohort ON cohort.user_id = days.user_id
        |         WHERE day - d0 <= 7)
        |SELECT k, count(1) AS n_users FROM act GROUP BY 1 ORDER BY k""".stripMargin)),

    QueryDef("data_split", dataSplit, Some(
      """WITH b AS (SELECT doc_id,
        |  CAST(CAST(doc_id AS HUGEINT) * 2654435761 % 4294967296 % 100
        |       AS BIGINT) AS bucket FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train'
        |       WHEN bucket < 90 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin)),

    QueryDef("text_pii", textPii, Some(
      """WITH raw AS (SELECT doc_id,
        |  text || ' contact user' || doc_id || '@example.com tel 555'
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS raw
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
        |  CAST(len(regexp_extract_all(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4,}')) AS INTEGER) AS n_nums,
        |  md5(regexp_replace(regexp_replace(raw,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{4,}', '<NUM>', 'g')) AS digest
        |FROM raw ORDER BY doc_id""".stripMargin)),

    QueryDef("graph_triangles", graphTriangles, Some(
      """WITH e AS (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey % 4 = 0)
        |SELECT (SELECT count(1) FROM e) AS n_edges,
        |  (SELECT count(1) FROM e e1
        |    JOIN e e2 ON e2.u = e1.v
        |    JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""".stripMargin)),

    QueryDef("agg_mode", aggMode, Some(
      """WITH counts AS (
        |  SELECT c_mktsegment, o_orderpriority, count(1) AS n
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2)
        |SELECT c_mktsegment, o_orderpriority AS mode_priority, n FROM (
        |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY n DESC, o_orderpriority) AS rn FROM counts)
        |WHERE rn = 1 ORDER BY c_mktsegment""".stripMargin)),

    // the bloom only prunes (no false negatives; false positives die
    // in the exact join), so the oracle is the PLAIN join — equality
    // proves the reduction is lossless
    QueryDef("join_bloom", joinBloom, Some(
      """WITH dim AS (SELECT c_custkey, c_name FROM customer
        |             WHERE c_acctbal < 0 AND c_mktsegment = 'AUTOMOBILE')
        |SELECT o.o_orderkey, o.o_custkey, d.c_name, o.o_totalprice
        |FROM orders o JOIN dim d ON o.o_custkey = d.c_custkey
        |ORDER BY o.o_orderkey""".stripMargin)),

    QueryDef("sample_hash", sampleHash, Some(
      """WITH s AS (SELECT l_returnflag, l_quantity,
        |  ((l_orderkey * 8 + l_linenumber) * 2654435761) % 4294967296 % 1000
        |    AS bucket
        |  FROM lineitem)
        |SELECT l_returnflag, count(1) AS n_sampled,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM s
        |WHERE (l_returnflag = 'A' AND bucket < 100)
        |   OR (l_returnflag = 'N' AND bucket < 200)
        |   OR (l_returnflag = 'R' AND bucket < 100)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin)),

    QueryDef("fn_date2", fnDate2, Some(
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS eom,
        |  CAST(date_trunc('quarter', o_orderdate) AS DATE) AS q_start,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS dow_iso,
        |  CAST(week(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2024-06-30')
        |       AS INTEGER) AS days_to_mid
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("join_full", joinFull, Some(
      """SELECT COALESCE(o.k, e.k) AS k, o.n_orders, e.n_events
        |FROM (SELECT o_custkey AS k, count(1) AS n_orders
        |      FROM orders GROUP BY 1) o
        |FULL OUTER JOIN (SELECT user_id AS k, count(1) AS n_events
        |                 FROM events GROUP BY 1) e
        |  ON o.k = e.k
        |ORDER BY k""".stripMargin)),

    QueryDef("subq_exists", subqExists, Some(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("set_intersect_all", setIntersectAll, Some(
      """SELECT dt, count(1) AS n FROM (
        |  SELECT o_orderdate AS dt FROM orders WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT ALL
        |  SELECT o_orderdate AS dt FROM orders WHERE o_orderpriority = '2-HIGH')
        |GROUP BY dt ORDER BY dt""".stripMargin)),

    QueryDef("set_except_all", setExceptAll, Some(
      """SELECT dt, count(1) AS n FROM (
        |  SELECT o_orderdate AS dt FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT ALL
        |  SELECT o_orderdate AS dt FROM orders WHERE o_orderpriority = '2-HIGH')
        |GROUP BY dt ORDER BY dt""".stripMargin)),
  )
}
