package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Twelfth relational batch (round 8, third wave): the remaining
  * classic TPC-H shapes (Q4's EXISTS-driven priority count, Q12's
  * late-shipment severity split) plus two data-pipeline staples —
  * exact-k deterministic sampling and degree-distribution profiling.
  *
  * Determinism: SURVEY §7.3 — integer counts, md5 sort keys with id
  * tiebreaks, unique ORDER BY everywhere.
  */
object Relational12 {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- tpch q4

  /** TPC-H Q4 (order priority checking): orders in one quarter having
    * ≥1 late lineitem (shipped >60 days after the order date),
    * counted by priority — the canonical EXISTS subquery: the inner
    * table is probed for existence only, so the plan MUST be a
    * LEFT-SEMI join (one output row per order however many late
    * lines), never an inner join + distinct. The date bound pushes
    * into the orders scan; the semi join shuffles on orderkey; the
    * priority rollup is a 5-row aggregate. */
  val joinTpchQ4: Q = (s, d) =>
    Tables.orders(s, d)
      .filter($"o_orderdate" >= lit("1997-01-01")
        && $"o_orderdate" < lit("1997-04-01"))
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .join(Tables.lineitem(s, d).select($"l_orderkey", $"l_shipdate"),
        $"o_orderkey" === $"l_orderkey"
          && $"l_shipdate" > expr("o_orderdate + INTERVAL 60 DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")

  // ---------------------------------------------------------------- tpch q12

  /** TPC-H Q12 shape (shipping-delay severity): one year of
    * lineitems split by delay bucket (on-time ≤30d / late ≤60d /
    * very late >60d vs the order date), each bucket counting
    * high-priority (1-URGENT/2-HIGH) and lower-priority orders
    * separately — the CASE-aggregate severity matrix an SLA report
    * runs. One orderkey-hash join (date band pushed to both scans),
    * integer day arithmetic (`datediff` — calendar-stable in both
    * engines on naive timestamps), 3-row output. */
  val joinTpchQ12: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1997-01-01")
        && $"l_shipdate" < lit("1998-01-01"))
      .select($"l_orderkey", $"l_shipdate")
      .join(Tables.orders(s, d)
          .select($"o_orderkey", $"o_orderdate", $"o_orderpriority"),
        $"l_orderkey" === $"o_orderkey")
      .select(
        when(datediff($"l_shipdate", $"o_orderdate") <= 30, lit("a_ontime"))
          .when(datediff($"l_shipdate", $"o_orderdate") <= 60, lit("b_late"))
          .otherwise(lit("c_very_late")).as("delay_bucket"),
        ($"o_orderpriority" === "1-URGENT"
          || $"o_orderpriority" === "2-HIGH").as("high"))
      .groupBy($"delay_bucket")
      .agg(expr("count_if(high)").as("high_line_count"),
        expr("count_if(NOT high)").as("low_line_count"))
      .orderBy($"delay_bucket")

  // ---------------------------------------------------------------- bottom-k sample

  /** Sample size drawn by [[sampleBottomk]]. */
  val BottomK = 200

  /** Exact-k deterministic uniform sample by BOTTOM-K hashing: the k
    * smallest (md5(seed:doc_id), doc_id) keys win — the standard
    * distributed exact-size sample (per-partition TakeOrdered partials
    * merge O(k·partitions), never a global sort) complementing
    * `sample_hash`'s map-only but only-approximate-size modular
    * filter. Same-seed reruns are identical; the hash key makes the
    * draw order-independent of file layout. The md5 hex string is the
    * sort key in BOTH engines (same digest, same lexicographic
    * order), doc_id tiebreak keeps it total. */
  val sampleBottomk: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        md5(concat(lit("bk:"), $"doc_id".cast("string"))).as("hk"))
      .orderBy($"hk", $"doc_id")
      .limit(BottomK)
      .select($"doc_id", $"source", $"hk")

  // ---------------------------------------------------------------- degree distribution

  /** Degree-distribution profile of the part co-occurrence graph's
    * supplier side — the first thing read before choosing any graph
    * strategy (it decides whether triangles need orientation, joins
    * need salting, LSH needs df caps): per-degree node counts over
    * log-ish buckets (exact integer `floor(log2)` spelled with
    * `length(bin(deg))`), plus each bucket's min/max degree. Two
    * map-side-combined aggregates (edges → degrees → histogram);
    * only (node, degree) pairs shuffle. */
  val graphDegreeDist: Q = (s, d) => {
    val deg = Tables.lineitem(s, d)
      .select($"l_partkey", $"l_suppkey").distinct()
      .groupBy($"l_suppkey").agg(count(lit(1)).as("deg"))
    deg
      .select($"deg", expr("CAST(length(bin(deg)) - 1 AS BIGINT)").as("b"))
      .groupBy($"b")
      .agg(count(lit(1)).as("n_nodes"),
        min($"deg").as("deg_min"), max($"deg").as("deg_max"))
      .orderBy($"b")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("join_tpch_q4", joinTpchQ4, Some(
      """SELECT o_orderpriority, CAST(count(1) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (
        |    SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey
        |      AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("join_tpch_q12", joinTpchQ12, Some(
      """SELECT
        |  CASE WHEN datediff('day', o_orderdate, l_shipdate) <= 30
        |         THEN 'a_ontime'
        |       WHEN datediff('day', o_orderdate, l_shipdate) <= 60
        |         THEN 'b_late'
        |       ELSE 'c_very_late' END AS delay_bucket,
        |  CAST(count(1) FILTER (o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS BIGINT) AS high_line_count,
        |  CAST(count(1) FILTER (o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |    AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1 ORDER BY delay_bucket""".stripMargin)),

    QueryDef("sample_bottomk", sampleBottomk, Some(
      s"""SELECT doc_id, source, md5(concat('bk:', CAST(doc_id AS VARCHAR))) AS hk
        |FROM documents
        |ORDER BY hk, doc_id LIMIT $BottomK""".stripMargin)),

    QueryDef("graph_degree_dist", graphDegreeDist, Some(
      """WITH e AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        | deg AS (SELECT l_suppkey, CAST(count(1) AS BIGINT) AS deg
        |         FROM e GROUP BY l_suppkey)
        |SELECT CAST(length(bin(deg)) - 1 AS BIGINT) AS b,
        |  CAST(count(1) AS BIGINT) AS n_nodes,
        |  min(deg) AS deg_min, max(deg) AS deg_max
        |FROM deg GROUP BY 1 ORDER BY b""".stripMargin)),
  )
}
