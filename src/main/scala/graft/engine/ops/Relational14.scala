package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Fourteenth relational batch (round 8, fourth wave): the TPC-H
  * shapes built on CORRELATED aggregates and share-of-group
  * arithmetic — Q8's national market share, Q15's argmax-by-scalar
  * top supplier, Q17's per-part small-quantity threshold, Q21's
  * double-correlated waiting-orders report.
  *
  * Determinism: SURVEY §7.3 — every share/threshold is MULTIPLIED
  * THROUGH into exact DECIMAL comparisons (never a float division in
  * a predicate), unique sort keys, decimal money.
  */
object Relational14 {
  type Q = (SparkSession, String) => DataFrame

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)
  private def rev = $"l_extendedprice".cast(Dec) *
    (lit(1).cast(Dec) - $"l_discount".cast(Dec))

  // ---------------------------------------------------------------- tpch q8

  /** The focal supplier nation of [[joinTpchQ8]]. */
  val Q8Nation = "NATION_5"
  /** The customer region of [[joinTpchQ8]]. */
  val Q8Region = "AMERICA"

  /** TPC-H Q8 (national market share): of the revenue flowing to one
    * REGION's customers per year, the basis-point share supplied by
    * one NATION — the share-of-group shape: one aggregate computes
    * both the CASE-guarded numerator and the total per year, then the
    * share is floor(num·10⁴ / den) in DECIMAL(38,4)-exact arithmetic
    * (cents-scaled BIGINT numerator, the validated truncate-toward-
    * zero division) — no float division decides anything. Supplier
    * nation rides a broadcast dim; customer region prunes through
    * the broadcast nation⋈region chain before the fact joins. */
  val joinTpchQ8: Q = (s, d) => {
    val nat = Tables.nation(s, d).select($"n_nationkey", $"n_name", $"n_regionkey")
    val natReg = nat
      .join(broadcast(Tables.region(s, d).filter($"r_name" === Q8Region)
        .select($"r_regionkey")), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate", rev.as("rev"))
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(natReg.withColumnRenamed("n_nationkey", "cn_key")),
        $"c_nationkey" === $"cn_key", "left_semi")
      // supplier unhinted — SF-proportional (Relational8's part note)
      .join(Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat.select($"n_nationkey".as("sn_key"),
        $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
      .groupBy(year($"l_shipdate").cast("long").as("o_year"))
      .agg(
        sum(when($"supp_nation" === Q8Nation, $"rev").otherwise(lit(0).cast(Dec)))
          .as("nat_rev"),
        sum($"rev").as("all_rev"))
      .select($"o_year",
        expr("CAST(CAST(nat_rev * 100 AS DECIMAL(38,0)) * 10000" +
          " DIV CAST(all_rev * 100 AS DECIMAL(38,0)) AS BIGINT)").as("share_bp"),
        $"nat_rev".cast("double").as("nat_revenue"),
        $"all_rev".cast("double").as("all_revenue"))
      .orderBy($"o_year")
  }

  // ---------------------------------------------------------------- tpch q15

  /** TPC-H Q15 (top supplier): the supplier(s) achieving the MAXIMUM
    * quarterly revenue — the argmax-by-scalar-subquery shape: the
    * per-supplier revenue aggregate is computed ONCE (localCheckpoint
    * — Spark would otherwise re-plan the whole subtree on both sides
    * of the self-referencing comparison), its 1-row max broadcasts
    * back, and equality selects the winner(s) on EXACT decimal
    * revenue (a double max would ulp-tie). */
  val joinTpchQ15: Q = (s, d) => {
    val revenue = Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1997-01-01") && $"l_shipdate" < lit("1997-04-01"))
      .select($"l_suppkey", rev.as("rev"))
      .groupBy($"l_suppkey").agg(sum($"rev").as("total_rev"))
      .transform(Checkpoints.cut)
    val top = revenue.agg(max($"total_rev").as("max_rev"))
    revenue.crossJoin(broadcast(top))
      .filter($"total_rev" === $"max_rev")
      // supplier unhinted: the max-revenue side is ≤ ties-at-max rows,
      // so AQE broadcasts THAT side from runtime sizes at any scale
      .join(Tables.supplier(s, d).select($"s_suppkey", $"s_name"),
        $"l_suppkey" === $"s_suppkey")
      .select($"l_suppkey".as("s_suppkey"), $"s_name",
        $"total_rev".cast("double").as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  // ---------------------------------------------------------------- tpch q17

  /** TPC-H Q17 (small-quantity-order revenue): revenue from lineitems
    * whose quantity is below 20% of their PART's average quantity —
    * the correlated per-group average: one narrow aggregate builds
    * (partkey, n, Σqty), the threshold comparison is MULTIPLIED
    * THROUGH (`5·qty·n < Σqty` — quantities are integral doubles, so
    * the products are IEEE-exact and order-free), and the filtered
    * revenue is summed per brand. The aggregate and the probe share
    * the partkey clustering; no per-row subquery ever executes. */
  val joinTpchQ17: Q = (s, d) => {
    val qstats = Tables.lineitem(s, d)
      .groupBy($"l_partkey".as("qp_key"))
      .agg(count(lit(1)).as("n_q"), sum($"l_quantity").as("sum_q"))
    Tables.lineitem(s, d)
      .select($"l_partkey", $"l_quantity", rev.as("rev"))
      .join(qstats, $"l_partkey" === $"qp_key")
      .filter($"l_quantity" * 5 * $"n_q" < $"sum_q")
      .join(Tables.part(s, d).select($"p_partkey", $"p_brand"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand")
      .agg(sum($"rev").cast("double").as("small_qty_revenue"),
        count(lit(1)).as("n_rows"))
      .orderBy($"p_brand")
  }

  // ---------------------------------------------------------------- tpch q21

  /** TPC-H Q21 shape (suppliers who kept orders waiting): per
    * supplier, the count of multi-supplier orders where THIS
    * supplier's line shipped late (>60 days after the order date) and
    * NO other supplier's line did — the double-correlated
    * EXISTS/NOT-EXISTS report, decorrelated BY HAND into ONE
    * per-order aggregate. "Exactly one distinct late supplier" is
    * spelled `min(late supp) = max(late supp)` (non-null ⇒ ≥1 late;
    * equal ⇒ all late lines share one supplier), which (a) needs no
    * second distinct aggregate — the twin-countDistinct form cost a
    * 2× Expand of every joined row — and (b) RETURNS the culpable
    * supplier in the same pass, so the late lines are never joined
    * back at all: one lineitem scan, one orderkey-clustered
    * aggregate, one |waiting-orders|-row count. The rewrite Catalyst
    * cannot find, written by hand twice over. Top 20 by (count desc,
    * suppkey). */
  val joinTpchQ21: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_suppkey",
        when($"l_shipdate" > expr("o_orderdate + INTERVAL 60 DAYS"),
          $"l_suppkey").as("late_supp"))
      .groupBy($"l_orderkey")
      // r20: ">1 distinct suppliers" is `min(l_suppkey) != max(l_suppkey)`
      // (l_suppkey is non-null, so min != max iff >= 2 distinct) — the
      // remaining countDistinct forced a distinct pre-aggregate pass
      // alongside the min/max aggregates; four plain min/max functions
      // keep the whole reduce map-side-combined. ProbeQ21: 1.06 -> 0.72 s
      // isolated at sf0.1, rows identical, oracle hash-exact.
      .agg(min($"l_suppkey").as("slo"), max($"l_suppkey").as("shi"),
        min($"late_supp").as("lo"), max($"late_supp").as("hi"))
      .filter($"slo" =!= $"shi" && $"lo" === $"hi")
      .groupBy($"lo".as("l_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy($"numwait".desc, $"l_suppkey")
      .limit(20)

  private val RevSql =
    """CAST(l_extendedprice AS DECIMAL(18,2))
      | * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"""
      .stripMargin.replaceAll("\n", "")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("join_tpch_q8", joinTpchQ8, Some(
      s"""WITH f AS (
        |  SELECT year(l_shipdate) AS o_year,
        |    CASE WHEN sn.n_name = '$Q8Nation' THEN $RevSql
        |         ELSE CAST(0 AS DECIMAL(18,2)) END AS nat_rev,
        |    $RevSql AS rev
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = '$Q8Region'),
        | g AS (
        |  SELECT o_year, sum(nat_rev) AS nat_rev, sum(rev) AS all_rev
        |  FROM f GROUP BY o_year)
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(CAST(nat_rev * 100 AS HUGEINT) * 10000
        |    // CAST(all_rev * 100 AS HUGEINT) AS BIGINT) AS share_bp,
        |  CAST(nat_rev AS DOUBLE) AS nat_revenue,
        |  CAST(all_rev AS DOUBLE) AS all_revenue
        |FROM g ORDER BY o_year""".stripMargin)),

    QueryDef("join_tpch_q15", joinTpchQ15, Some(
      s"""WITH r AS (
        |  SELECT l_suppkey, sum($RevSql) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT l_suppkey AS s_suppkey, s_name,
        |  CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM r)
        |ORDER BY s_suppkey""".stripMargin)),

    QueryDef("join_tpch_q17", joinTpchQ17, Some(
      s"""WITH q AS (
        |  SELECT l_partkey AS qp_key, CAST(count(1) AS BIGINT) AS n_q,
        |    sum(l_quantity) AS sum_q
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT p_brand,
        |  CAST(sum($RevSql) AS DOUBLE) AS small_qty_revenue,
        |  CAST(count(1) AS BIGINT) AS n_rows
        |FROM lineitem
        |JOIN q ON l_partkey = qp_key
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_quantity * 5 * n_q < sum_q
        |GROUP BY p_brand
        |ORDER BY p_brand""".stripMargin)),

    QueryDef("join_tpch_q21", joinTpchQ21, Some(
      """WITH l AS (
        |  SELECT l_orderkey, l_suppkey,
        |    l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        | po AS (
        |  SELECT l_orderkey
        |  FROM l GROUP BY l_orderkey
        |  HAVING count(DISTINCT l_suppkey) > 1
        |     AND count(DISTINCT CASE WHEN late THEN l_suppkey END) = 1),
        | w AS (
        |  SELECT DISTINCT l.l_orderkey, l.l_suppkey
        |  FROM l JOIN po ON po.l_orderkey = l.l_orderkey
        |  WHERE l.late)
        |SELECT l_suppkey, CAST(count(1) AS BIGINT) AS numwait
        |FROM w GROUP BY l_suppkey
        |ORDER BY numwait DESC, l_suppkey LIMIT 20""".stripMargin)),
  )
}
