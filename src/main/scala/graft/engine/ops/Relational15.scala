package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Fifteenth relational batch (round 9): the remaining TPC-H plan
  * shapes, all built on a DERIVED SUPPLY RELATION — the dataset has no
  * partsupp table, so the (partkey, suppkey) supply rows are
  * aggregated from lineitem exactly as `join_tpch_q16` derives its
  * parts/supplier relationship (Relational10.scala): `ps_cost` = the
  * minimum extended price a supplier ever charged for the part
  * (DECIMAL-exact), `ps_availqty` = total quantity supplied (integral
  * doubles, BIGINT-exact), `ps_qty97` = the 1997 slice of it.
  *
  *  - Q2: correlated min over the supply relation (cheapest supplier
  *    per part within a region).
  *  - Q9: multi-fact profit rollup (revenue minus supply cost, per
  *    nation per year).
  *  - Q11: group-vs-global HAVING (parts whose regional supply value
  *    exceeds 2x the mean part value — scale-free where TPC-H's fixed
  *    fraction must be divided by SF).
  *  - Q20: stacked semi-join chain (suppliers of fast-moving small
  *    parts in one nation).
  *
  * Determinism (SURVEY §7.3): every threshold is MULTIPLIED THROUGH
  * into exact DECIMAL/BIGINT comparisons — never a float division in a
  * predicate — and every sort is a total order via unique trailing
  * keys.
  *
  * Scale: the supply aggregate is ONE map-side-combined shuffle on
  * (partkey, suppkey) — the same clustering every downstream join in
  * the batch reuses; geography dims (supplier⋈nation⋈region) and part
  * filters ride broadcasts, so no query here adds a second fact-sized
  * exchange beyond what its join graph demands.
  */
object Relational15 {
  type Q = (SparkSession, String) => DataFrame

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)
  private val DecQty = org.apache.spark.sql.types.DecimalType(18, 0)
  private def rev = $"l_extendedprice".cast(Dec) *
    (lit(1).cast(Dec) - $"l_discount".cast(Dec))

  /** The lineitem-derived partsupp stand-in (see object doc). */
  private def supply(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy($"l_partkey".as("ps_partkey"), $"l_suppkey".as("ps_suppkey"))
      .agg(
        min($"l_extendedprice".cast(Dec)).as("ps_cost"),
        sum($"l_quantity").cast("long").as("ps_availqty"),
        sum(when(year($"l_shipdate") === 1997, $"l_quantity").otherwise(0.0))
          .cast("long").as("ps_qty97"))

  /** Supplier keys in `region`, as a broadcastable one-column frame:
    * the supplier⋈nation⋈region chain collapses dim-side before it
    * ever meets a fact. */
  private def regionSuppliers(s: SparkSession, d: String,
                              region: String): DataFrame =
    Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey")
      .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d).filter($"r_name" === region)
        .select($"r_regionkey")), $"n_regionkey" === $"r_regionkey", "left_semi")
      .select($"s_suppkey")

  // ---------------------------------------------------------------- tpch q2

  /** The part filter and supplier region of [[joinTpchQ2]]. */
  val Q2Region = "EUROPE"
  val Q2Type = "ECONOMY"
  val Q2MaxSize = 10

  /** TPC-H Q2 shape (minimum-cost supplier): for each qualifying part,
    * the EUROPE supplier(s) charging the part's minimum supply cost —
    * the correlated-min shape: the per-part min is ONE aggregate over
    * the filtered supply relation, joined back on exact DECIMAL
    * equality (a double min would ulp-tie; the decimal one cannot).
    * The supply aggregate and the min-per-part aggregate and the
    * join-back all cluster on partkey — one exchange chain, reused
    * thrice; supplier/nation/region/part all broadcast. Top 100 by
    * (acctbal desc, n_name, s_name, partkey, suppkey) — a total order,
    * so LIMIT is deterministic. */
  val joinTpchQ2: Q = (s, d) => {
    val euro = Tables.supplier(s, d)
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"s_nationkey")
      .join(broadcast(Tables.nation(s, d)
        .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d).filter($"r_name" === Q2Region)
        .select($"r_regionkey")), $"n_regionkey" === $"r_regionkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val es = supply(s, d)
      // part and euro (supplier-derived) unhinted — both SF-
      // proportional (Relational8's note); AQE broadcasts them from
      // runtime sizes exactly while they fit
      .join(Tables.part(s, d)
        .filter($"p_type" === Q2Type && $"p_size" < Q2MaxSize)
        .select($"p_partkey"), $"ps_partkey" === $"p_partkey", "left_semi")
      .join(euro, $"ps_suppkey" === $"s_suppkey")
      .transform(Checkpoints.cut) // feeds both the min and the join-back
    val minCost = es.groupBy($"ps_partkey".as("mc_key"))
      .agg(min($"ps_cost").as("min_cost"))
    es.join(minCost, $"ps_partkey" === $"mc_key" && $"ps_cost" === $"min_cost")
      .select($"s_acctbal".cast("double").as("acctbal"), $"s_name", $"n_name",
        $"ps_partkey", $"ps_suppkey", $"ps_cost".cast("double").as("supply_cost"))
      .orderBy($"acctbal".desc, $"n_name", $"s_name", $"ps_partkey",
        $"ps_suppkey")
      .limit(100)
  }

  // ---------------------------------------------------------------- tpch q9

  /** The part-name filter of [[joinTpchQ9]]. */
  val Q9NamePattern = "red"

  /** TPC-H Q9 shape (product-type profit): per (nation, year), the
    * profit Σ(revenue − supply_cost·quantity) over lineitems of parts
    * matching a name pattern — the multi-fact rollup: lineitem joins
    * the supply relation on its own (partkey, suppkey) grouping keys
    * and orders on orderkey (the two fact-sized exchanges the join
    * graph requires), while part (name-filtered, semi) and
    * supplier⋈nation broadcast. Profit stays DECIMAL to the end —
    * revenue dec(37,4) minus cost·qty dec(37,2), summed exactly, cast
    * to double only for the report. */
  val joinTpchQ9: Q = (s, d) => {
    val sp = supply(s, d)
      .select($"ps_partkey", $"ps_suppkey", $"ps_cost")
      // part/supplier unhinted — SF-proportional (Relational8's note)
      .join(Tables.part(s, d)
        .filter($"p_name".contains(Q9NamePattern)).select($"p_partkey"),
        $"ps_partkey" === $"p_partkey", "left_semi")
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity",
        rev.as("rev"))
      .join(sp, $"l_partkey" === $"ps_partkey" &&
        $"l_suppkey" === $"ps_suppkey")
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, d).select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").cast("long").as("o_year"))
      .agg(sum($"rev" - $"ps_cost" * $"l_quantity".cast(DecQty))
        .cast("double").as("profit"),
        count(lit(1)).as("n_rows"))
      .orderBy($"n_name", $"o_year".desc)
  }

  // ---------------------------------------------------------------- tpch q11

  /** The supplier region of [[joinTpchQ11]]. */
  val Q11Region = "EUROPE"

  /** TPC-H Q11 shape (important stock): parts whose supply value from
    * one REGION's suppliers exceeds TWICE THE MEAN part value — the
    * group-vs-global HAVING subquery. TPC-H's fixed fraction must be
    * rescaled by SF to stay meaningful (its part count grows with
    * scale); comparing against the mean is the scale-free spelling:
    * `value·n_parts > 2·total` — evaluated in its exactly-equivalent
    * QUOTIENT form `value_cents > (2·total_cents) div n_parts`
    * (for non-negative integers and n ≥ 1: v·n > 2t ⟺ v > ⌊2t/n⌋,
    * since v ≥ ⌊2t/n⌋+1 ⟹ v·n ≥ ⌊2t/n⌋·n + n > 2t and
    * v ≤ ⌊2t/n⌋ ⟹ v·n ≤ 2t). Integral division truncates toward
    * zero identically in Spark and DuckDB's HUGEINT `//`, so no
    * float — and no decimal PRODUCT near precision 38 — decides a
    * row: the former `value_cents·n_parts` spelling silently
    * null-overflowed DECIMAL(38,0) once value·100·n_parts passed
    * 10³⁸ while the oracle's HUGEINT stayed exact. Residual bounds,
    * far beyond any stated scale: total supply value < 10³⁶ cents
    * (the ×2×100 headroom inside DECIMAL(38,0)) and mean part value
    * < 4.6·10¹⁶ dollars (the LONG quotient). The per-part aggregate
    * computes ONCE (lineage cut), its 1-row (total, count)
    * broadcasts back. */
  val joinTpchQ11: Q = (s, d) => {
    val vals = supply(s, d)
      // regionSuppliers unhinted — supplier-derived, SF-proportional
      // (Relational8's note)
      .join(regionSuppliers(s, d, Q11Region),
        $"ps_suppkey" === $"s_suppkey", "left_semi")
      .select($"ps_partkey", ($"ps_cost" * $"ps_availqty".cast(DecQty)).as("v"))
      .groupBy($"ps_partkey").agg(sum($"v").as("value_dec"))
      .transform(Checkpoints.cut) // feeds both the global total and the filter
    val tot = vals.agg(
      expr("CAST(sum(value_dec) * 100 AS DECIMAL(38,0))").as("tot_cents"),
      count(lit(1)).as("n_parts"))
    vals.crossJoin(broadcast(tot))
      .filter(expr("CAST(value_dec * 100 AS DECIMAL(38,0))" +
        " > (2 * tot_cents) div n_parts"))
      .select($"ps_partkey", $"value_dec".cast("double").as("value"))
      .orderBy($"value".desc, $"ps_partkey")
  }

  // ---------------------------------------------------------------- tpch q20

  /** The part-name prefix and supplier nation of [[joinTpchQ20]]. */
  val Q20NamePrefix = "small"
  val Q20Nation = "NATION_3"

  /** TPC-H Q20 shape (potential part promotion): suppliers in one
    * nation holding a name-matched part whose 1997 shipments exceeded
    * half its total supply — the stacked semi-join chain: part-filter
    * semi into the supply relation, the fast-moving predicate
    * `2·qty97 > availqty` in exact BIGINT, distinct supplier keys
    * broadcast-semi into the nation-filtered supplier dim. Every
    * stage after the supply aggregate moves only keys. */
  val joinTpchQ20: Q = (s, d) => {
    val cand = supply(s, d)
      .filter($"ps_qty97" * 2 > $"ps_availqty")
      // part unhinted — SF-proportional (Relational8's note)
      .join(Tables.part(s, d)
        .filter($"p_name".startsWith(Q20NamePrefix)).select($"p_partkey"),
        $"ps_partkey" === $"p_partkey", "left_semi")
      .select($"ps_suppkey").distinct()
    Tables.supplier(s, d)
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"s_nationkey")
      .join(broadcast(Tables.nation(s, d).filter($"n_name" === Q20Nation)
        .select($"n_nationkey")), $"s_nationkey" === $"n_nationkey", "left_semi")
      // cand unhinted — distinct supplier keys, SF-proportional
      .join(cand, $"s_suppkey" === $"ps_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"s_acctbal".cast("double").as("acctbal"))
      .orderBy($"s_name", $"s_suppkey")
  }

  private val RevSql =
    """CAST(l_extendedprice AS DECIMAL(18,2))
      | * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))"""
      .stripMargin.replaceAll("\n", "")

  /** The DuckDB twin of [[supply]] (HUGEINT-free: BIGINT casts are
    * exact because quantities are integral). */
  private val SupplySql =
    """SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
      |  min(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_cost,
      |  CAST(sum(l_quantity) AS BIGINT) AS ps_availqty,
      |  CAST(sum(CASE WHEN year(l_shipdate) = 1997 THEN l_quantity
      |           ELSE 0 END) AS BIGINT) AS ps_qty97
      |FROM lineitem GROUP BY 1, 2""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("join_tpch_q2", joinTpchQ2, Some(
      s"""WITH supply AS ($SupplySql),
        | es AS (
        |  SELECT ps_partkey, ps_suppkey, ps_cost, s_name, s_acctbal, n_name
        |  FROM supply
        |  JOIN supplier ON ps_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = '$Q2Region'
        |    AND ps_partkey IN (SELECT p_partkey FROM part
        |      WHERE p_type = '$Q2Type' AND p_size < $Q2MaxSize))
        |SELECT CAST(s_acctbal AS DOUBLE) AS acctbal, s_name, n_name,
        |  ps_partkey, ps_suppkey, CAST(ps_cost AS DOUBLE) AS supply_cost
        |FROM es
        |WHERE ps_cost = (SELECT min(ps_cost) FROM es e2
        |                 WHERE e2.ps_partkey = es.ps_partkey)
        |ORDER BY acctbal DESC, n_name, s_name, ps_partkey, ps_suppkey
        |LIMIT 100""".stripMargin)),

    QueryDef("join_tpch_q9", joinTpchQ9, Some(
      s"""WITH supply AS ($SupplySql),
        | sp AS (
        |  SELECT ps_partkey, ps_suppkey, ps_cost FROM supply
        |  WHERE ps_partkey IN (SELECT p_partkey FROM part
        |                       WHERE p_name LIKE '%$Q9NamePattern%'))
        |SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum($RevSql - ps_cost * CAST(l_quantity AS DECIMAL(18,0)))
        |    AS DOUBLE) AS profit,
        |  CAST(count(1) AS BIGINT) AS n_rows
        |FROM lineitem
        |JOIN sp ON l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, o_year
        |ORDER BY n_name, o_year DESC""".stripMargin)),

    QueryDef("join_tpch_q11", joinTpchQ11, Some(
      s"""WITH supply AS ($SupplySql),
        | v AS (
        |  SELECT ps_partkey,
        |    sum(ps_cost * CAST(ps_availqty AS DECIMAL(18,0))) AS value_dec
        |  FROM supply
        |  WHERE ps_suppkey IN (
        |    SELECT s_suppkey FROM supplier
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |    WHERE r_name = '$Q11Region')
        |  GROUP BY ps_partkey),
        | t AS (SELECT CAST(sum(value_dec) * 100 AS HUGEINT) AS tot_cents,
        |              CAST(count(1) AS BIGINT) AS n_parts FROM v)
        |SELECT ps_partkey, CAST(value_dec AS DOUBLE) AS value
        |FROM v, t
        |WHERE CAST(value_dec * 100 AS HUGEINT) > (2 * tot_cents) // n_parts
        |ORDER BY value DESC, ps_partkey""".stripMargin)),

    QueryDef("join_tpch_q20", joinTpchQ20, Some(
      s"""WITH supply AS ($SupplySql)
        |SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS acctbal
        |FROM supplier
        |WHERE s_nationkey IN (SELECT n_nationkey FROM nation
        |                      WHERE n_name = '$Q20Nation')
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM supply
        |    WHERE ps_qty97 * 2 > ps_availqty
        |      AND ps_partkey IN (SELECT p_partkey FROM part
        |                         WHERE p_name LIKE '$Q20NamePrefix%'))
        |ORDER BY s_name, s_suppkey""".stripMargin)),
  )
}
