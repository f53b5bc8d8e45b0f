package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables

/** Second relational batch (SURVEY.md §2.B continued): ranking-window
  * variants, distribution aggregates, pivot, subquery forms, cross
  * join, and positional explode. Same determinism contract as
  * [[Relational]] (§7.3): unique-key ORDER BY, decimal-exact money,
  * rounded float outputs, alias parity with the DuckDB oracles.
  */
object Relational2 {
  type Q = (SparkSession, String) => DataFrame
  private val dec = DecimalType(18, 2)

  /** ntile(4) buckets of orders per customer by price. */
  val winNtile: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("bucket", ntile(4).over(
        Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")))
      .select($"o_custkey", $"o_orderkey", $"bucket")
      .orderBy($"o_custkey", $"bucket", $"o_orderkey")

  /** percent_rank + cume_dist — pure rank arithmetic, engine-exact. */
  val winPercentRank: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("pr", percent_rank().over(
        Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")))
      .withColumn("cd", cume_dist().over(
        Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")))
      .select($"o_custkey", $"o_orderkey", round($"pr", 4).as("pr"), round($"cd", 4).as("cd"))
      .orderBy($"o_custkey", $"o_orderkey")

  /** first_value / last_value / nth_value over a running frame. */
  val winFirstLast: Q = (s, d) => {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("first_key", first($"o_orderkey").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("last_key", last($"o_orderkey").over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("second_key", nth_value($"o_orderkey", 2).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .select($"o_custkey", $"o_orderkey", $"first_key", $"last_key", $"second_key")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Exact linear-interpolation percentiles of o_totalprice, computed
    * DISTRIBUTED: the [[ZipIndex]] global rank in value order, then
    * pick the two neighbor rows of each percentile position and
    * interpolate exactly as the oracle does (`lo + (hi − lo)·frac` on
    * the same IEEE doubles, both sides rounded to 4).
    *
    * The built-in `percentile()` aggregate would hold EVERY distinct
    * value in one reducer's hash map and ship it as a single
    * buffer row (measured: one 4 MB shuffle record at sf0.1 — the
    * whole column through one task) — the exact shape that OOMs a
    * 100 TB executor. ZipIndex keeps every stage partition-parallel
    * and moves the data exactly once. */
  val aggPercentile: Q = (s, d) => {
    val (idxed, total) = ZipIndex.ranked(
      Tables.orders(s, d)
        .select($"o_totalprice".as("v"))
        .where($"v".isNotNull), // percentile/quantile_cont both skip nulls
      Seq($"v"), "idx")
    val ps = Seq("p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    // percentile position r = p·(n−1); the flanking ranks are driver
    // literals, so the scan keeps ≤ 6 rows of the whole corpus
    val marks = ps.map { case (nme, p) =>
      val r = p * (total - 1).max(0L)
      (nme, math.floor(r).toLong, math.ceil(r).toLong, r - math.floor(r))
    }
    val need = marks.flatMap { case (_, lo, hi, _) => Seq(lo, hi) }.distinct
    val interp = marks.map { case (nme, lo, hi, frac) =>
      round(max(when($"idx" === lo, $"v")) +
        (max(when($"idx" === hi, $"v")) - max(when($"idx" === lo, $"v")))
          * lit(frac), 4).as(nme)
    }
    idxed.filter($"idx".isin(need: _*))
      .agg(interp.head, interp.tail: _*)
  }

  /** Pivot order totals: status columns × priority rows (fixed value
    * list — at scale an unpinned pivot needs a distinct-values pass). */
  val aggPivot: Q = (s, d) =>
    // r20: SplitSum discipline (ops.SplitSum)
    Tables.orders(s, d)
      .withColumn("tc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg((SplitSum.splitSum($"tc") / 100).cast("double"))
      .orderBy($"o_orderpriority")

  /** Scalar subquery: orders above the global average price. */
  val subqScalar: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq")
    s.sql(
      """SELECT o_orderkey, o_totalprice FROM graft_orders_sq
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM graft_orders_sq) * 1.5
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** IN subquery: orders of customers in debit. */
  val subqIn: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_in")
    Tables.customer(s, d).createOrReplaceTempView("graft_customer_in")
    s.sql(
      """SELECT o_orderkey, o_custkey FROM graft_orders_in
        |WHERE o_custkey IN (SELECT c_custkey FROM graft_customer_in WHERE c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** Correlated scalar subquery: each customer's orders above their own
    * average — decorrelated by Catalyst into an aggregate + join. */
  val subqCorrelated: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_corr")
    s.sql(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM graft_orders_corr o
        |WHERE o_totalprice > (SELECT 1.2 * avg(i.o_totalprice)
        |                      FROM graft_orders_corr i
        |                      WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)
  }

  /** As-of join with explicit key salting — the skew-mitigation
    * pattern for hot keys written out (AQE's skew-join split is the
    * automatic form; this is the deterministic manual form for engines
    * or layouts where AQE can't see the skew). The probe side derives
    * a salt from its row identity; the build side replicates each row
    * across all salt values, so the shuffle key becomes
    * (user, salt) — hot users spread over `S` reducers. Result is
    * identical to [[Relational.joinAsof]] (same oracle). */
  val joinAsofSalted: Q = (s, d) => {
    val S = 4
    val ev = Tables.events(s, d)
      .withColumn("esalt", pmod($"event_id", lit(S)).cast("int"))
    val o = Tables.orders(s, d)
      .withColumn("osalt", explode(sequence(lit(0), lit(S - 1))))
    ev.join(o,
        $"user_id" === $"o_custkey" && $"esalt" === $"osalt" &&
          $"o_orderdate" <= $"ts", "inner")
      .groupBy($"event_id")
      .agg(max_by(struct($"o_orderkey", $"o_orderdate"),
        struct($"o_orderdate", $"o_orderkey")).as("m"))
      .select($"event_id", $"m.o_orderkey".as("o_orderkey"),
        $"m.o_orderdate".as("o_orderdate"))
      .orderBy($"event_id")
  }

  /** Cross join of the two smallest dims (explicitly intentional —
    * anything larger crossed is a plan bug, not a feature). */
  val joinCross: Q = (s, d) =>
    Tables.region(s, d).crossJoin(Tables.nation(s, d))
      .select($"r_regionkey", $"n_nationkey")
      .orderBy($"r_regionkey", $"n_nationkey")

  /** Positional explode of the embedding head (1-based positions to
    * match DuckDB's unnest WITH ORDINALITY). */
  val fnExplodePos: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select($"vec_id", posexplode(slice($"embedding", 1, 4)))
      .select($"vec_id", ($"pos" + 1).as("pos"),
        round($"col".cast("double"), 4).as("val"))
      .orderBy($"vec_id", $"pos")

  val defs: Seq[QueryDef] = Seq(
    QueryDef("win_ntile", winNtile, Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS bucket
        |FROM orders ORDER BY o_custkey, bucket, o_orderkey""".stripMargin)),

    QueryDef("win_percent_rank", winPercentRank, Some(
      """SELECT o_custkey, o_orderkey,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    QueryDef("win_first_last", winFirstLast, Some(
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
        |  last_value(o_orderkey) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
        |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_key
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    QueryDef("agg_percentile", aggPercentile, Some(
      """SELECT round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |  round(quantile_cont(o_totalprice, 0.99), 4) AS p99
        |FROM orders""".stripMargin)),

    QueryDef("agg_pivot", aggPivot, Some(
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS "F",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS "O",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("subq_scalar", subqScalar, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders) * 1.5
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("subq_in", subqIn, Some(
      """SELECT o_orderkey, o_custkey FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("subq_correlated", subqCorrelated, Some(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
        |WHERE o_totalprice > (SELECT 1.2 * avg(i.o_totalprice)
        |                      FROM orders i WHERE i.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("join_asof_salted", joinAsofSalted, Some(
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    QueryDef("join_cross", joinCross, Some(
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin)),

    QueryDef("fn_explode_pos", fnExplodePos, Some(
      """SELECT vec_id, CAST(pos AS INTEGER) AS pos, round(CAST(val AS DOUBLE), 4) AS val
        |FROM (SELECT vec_id, unnest(embedding[1:4]) AS val,
        |        unnest(range(1, 5)) AS pos
        |      FROM embeddings)
        |ORDER BY vec_id, pos""".stripMargin)),
  )
}
