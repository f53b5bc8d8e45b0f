package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Thirteenth relational batch (round 8, final wave): the last three
  * distinctive TPC-H shapes — Q13's zero-preserving outer-join count
  * distribution, Q19's OR-of-ANDs predicate block, and Q22's
  * anti-join + scalar-average opportunity report — completing the
  * engine's TPC-H shape coverage (1/3/4/5/6/7/10/12/13/14/16/18/19/22).
  *
  * Determinism: SURVEY §7.3 — decimal money, integer counts, unique
  * sort keys.
  */
object Relational13 {
  type Q = (SparkSession, String) => DataFrame

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)

  // ---------------------------------------------------------------- tpch q13

  /** TPC-H Q13 (customer order-count distribution): how many customers
    * placed 0, 1, 2… qualifying orders — the histogram-of-counts
    * shape whose defining subtlety is the ZERO bucket: the order
    * filter must live in the LEFT-OUTER join's ON clause (a WHERE
    * would delete the never-ordered customers the report exists to
    * find). Two aggregates: per-customer count (custkey hash — counts
    * `o_orderkey`, so null-padded rows count 0), then the |distinct
    * counts|-row histogram. Sort (custdist desc, c_count desc) is
    * total because c_count is unique per row. */
  val joinTpchQ13: Q = (s, d) =>
    Tables.customer(s, d).select($"c_custkey")
      .join(Tables.orders(s, d)
          .select($"o_orderkey", $"o_custkey", $"o_orderpriority"),
        $"c_custkey" === $"o_custkey" && $"o_orderpriority" =!= "5-LOW",
        "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)

  // ---------------------------------------------------------------- tpch q19

  /** TPC-H Q19 (discounted revenue, disjunctive predicate block):
    * revenue over lineitem ⋈ part where ANY of three (brand, size
    * band, quantity band) conjunctions matches — the OR-of-ANDs
    * pushdown benchmark: the l_quantity bounds fold to ONE
    * range-reducible predicate (`l_quantity >= 1 AND <= 30`) that
    * reaches the scan even though the full OR must evaluate after the
    * join; the part-side conjuncts prune the build side before
    * broadcast. Exact decimal revenue, single-row output with the
    * matched-line count. */
  val joinTpchQ19: Q = (s, d) => {
    val rev = $"l_extendedprice".cast(Dec) *
      (lit(1).cast(Dec) - $"l_discount".cast(Dec))
    val cond =
      ($"p_brand" === "Brand#1" && $"p_size".between(1, 5)
        && $"l_quantity".between(1, 11)) ||
      ($"p_brand" === "Brand#2" && $"p_size".between(1, 10)
        && $"l_quantity".between(10, 20)) ||
      ($"p_brand" === "Brand#3" && $"p_size".between(1, 15)
        && $"l_quantity".between(20, 30))
    Tables.lineitem(s, d)
      .filter($"l_quantity" >= 1 && $"l_quantity" <= 30)
      .select($"l_partkey", $"l_quantity", rev.as("rev"))
      // part unhinted — SF-proportional (Relational8's part note)
      .join(Tables.part(s, d)
          .filter($"p_brand".isin("Brand#1", "Brand#2", "Brand#3")
            && $"p_size".between(1, 15))
          .select($"p_partkey", $"p_brand", $"p_size"),
        $"l_partkey" === $"p_partkey")
      .filter(cond)
      .agg(sum($"rev").cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))
  }

  // ---------------------------------------------------------------- tpch q22

  /** TPC-H Q22 (global sales opportunity): well-funded customers in
    * target segments with no URGENT order — per segment-code, the
    * count and total balance of customers whose balance exceeds the
    * average POSITIVE balance and who never placed a 1-URGENT order
    * (anti join on the filtered orders; the synthetic data gives
    * every customer SOME order, so the reference's never-ordered
    * predicate adapts to never-ordered-urgent to stay non-vacuous).
    * The average is compared MULTIPLIED THROUGH — `bal·n_pos >
    * sum_pos` in exact DECIMAL — because Spark's decimal `avg` and
    * DuckDB's double `avg` round the quotient differently at the ulp
    * and a boundary balance would flip the gate (§7.3's never-divide
    * rule). Code = custkey % 7 ∈ {1,3,5} stands in for the
    * reference's phone-prefix country codes. Balance sums in exact
    * DECIMAL(18,2), cast DOUBLE at presentation; 3-row output. */
  val joinTpchQ22: Q = (s, d) => {
    val cust = Tables.customer(s, d)
      .select($"c_custkey", ($"c_custkey" % 7).as("code"),
        $"c_acctbal".cast(Dec).as("bal"))
      .filter($"code".isin(1L, 3L, 5L))
    val posStats = Tables.customer(s, d)
      .filter($"c_acctbal" > 0)
      .agg(sum($"c_acctbal".cast(Dec)).as("sum_pos"),
        count(lit(1)).as("n_pos"))
    cust.crossJoin(broadcast(posStats))
      .filter($"bal" * $"n_pos" > $"sum_pos")
      .join(Tables.orders(s, d)
          .filter($"o_orderpriority" === "1-URGENT").select($"o_custkey"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"code")
      .agg(count(lit(1)).as("numcust"),
        sum($"bal").cast("double").as("totacctbal"))
      .orderBy($"code")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("join_tpch_q13", joinTpchQ13, Some(
      """WITH co AS (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
        |  GROUP BY c_custkey)
        |SELECT c_count, CAST(count(1) AS BIGINT) AS custdist
        |FROM co GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    QueryDef("join_tpch_q19", joinTpchQ19, Some(
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  CAST(count(1) AS BIGINT) AS n_rows
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    QueryDef("join_tpch_q22", joinTpchQ22, Some(
      """WITH a AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(18,2))
        |    AS sum_pos, CAST(count(1) AS BIGINT) AS n_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT c_custkey % 7 AS code,
        |  CAST(count(1) AS BIGINT) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM customer, a
        |WHERE c_custkey % 7 IN (1, 3, 5)
        |  AND CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_pos
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY code""".stripMargin)),
  )
}
