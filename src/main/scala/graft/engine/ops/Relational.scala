package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables

/** Relational operator inventory (SURVEY.md §2.B tables 1–7).
  *
  * Design rules (SURVEY §7.3): every oracle-checked query ends with an
  * ORDER BY on a unique key set; money arithmetic is done in
  * DECIMAL(18,2) so aggregation is exact and order-independent across
  * engines, cast back to DOUBLE only in the final projection; float
  * outputs rounded; column names aliased identically in Spark and the
  * DuckDB oracle SQL.
  *
  * Scale notes: all plans are declarative DataFrame plans — Catalyst
  * pushes filters/projections into the parquet scan, aggregations run
  * partial (map-side) before the shuffle, small dimension tables are
  * broadcast. Nothing here collects to the driver.
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame
  private val dec = DecimalType(18, 2)

  // ---------------------------------------------------------------- scans

  /** Pruned-column scan, ordered. Ref: SURVEY §2.A.3 (seed-view scan). */
  val scanProject: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column so ties are identical rows
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")

  /** count(*) pushdown analog. Ref: SURVEY §2.A.4 (record-count). */
  val scanCount: Q = (s, d) =>
    Tables.lineitem(s, d).agg(count(lit(1)).as("n"))

  // -------------------------------------------------- filters / projections

  /** Range-predicate filter. Ref: SURVEY §2.A.7. */
  val filterRange: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter($"l_discount".between(0.02, 0.06) && $"l_quantity" < 10)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")

  /** NOT IN rejection — the terminal-status filter analog
    * (reference initializer.clj:21-22). */
  val filterNotIn: Q = (s, d) =>
    Tables.events(s, d)
      .filter(!$"event_type".isin("error", "purchase"))
      .select($"event_id", $"event_type", $"user_id")
      .orderBy($"event_id")

  /** Computed arithmetic projection (decimal-exact). Ref: SURVEY §2.A.12. */
  val projectExpr: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        $"l_orderkey", $"l_linenumber",
        ($"l_extendedprice".cast(dec) * (lit(1).cast(dec) - $"l_discount".cast(dec)))
          .cast("double").as("disc_price"))
      .orderBy($"l_orderkey", $"l_linenumber", $"disc_price")

  /** CASE / COALESCE / NULLIF. Ref: SURVEY §2.A.12. */
  val projectCase: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        $"o_orderkey",
        when($"o_orderpriority" === "1-URGENT", lit("hot"))
          .when($"o_orderpriority" === "2-HIGH", lit("warm"))
          .otherwise(lit("cold")).as("heat"),
        coalesce(nullif($"o_orderstatus", lit("O")), lit("open")).as("status_or_open"))
      .orderBy($"o_orderkey")

  // ---------------------------------------------------------------- joins

  /** Equi inner join on custkey — shuffles both sides on the key; at
    * 100 TB this is a sort-merge join on co-partitioned data. */
  val joinInner: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey", "inner")
      .select($"o_orderkey", $"c_custkey", $"c_name", $"o_totalprice")
      .orderBy($"o_orderkey")

  /** Broadcast join: region (5 rows) broadcast to every nation partition —
    * no shuffle of the big side, the pattern to prefer for all small dims
    * at cluster scale. */
  val joinBroadcast: Q = (s, d) =>
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name", $"r_name")
      .orderBy($"n_nationkey")

  /** Left outer with null handling. */
  val joinLeft: Q = (s, d) =>
    // r20: SplitSum discipline (ops.SplitSum) — no Decimal128 in the
    // aggregate loop; null rows from the outer join stay null through
    // the cents cast and are skipped by every part identically
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left")
      .withColumn("tc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_orders"),
        coalesce((SplitSum.splitSum($"tc") / 100).cast("double"), lit(0.0))
          .as("total"))
      .orderBy($"c_custkey")

  /** Left semi: customers having at least one order (EXISTS). */
  val joinSemi: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")

  /** Left anti: customers with no orders (NOT EXISTS). */
  val joinAnti: Q = (s, d) =>
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")

  /** Equi + theta residual: partkey match AND p_size range predicate. */
  val joinTheta: Q = (s, d) =>
    Tables.lineitem(s, d)
      .join(Tables.part(s, d),
        $"l_partkey" === $"p_partkey" && $"p_size".between(10, 20) &&
          $"l_quantity" > $"p_size", "inner")
      .select($"l_orderkey", $"l_linenumber", $"p_partkey", $"p_size", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"p_partkey", $"l_quantity")

  /** Rows matching a per-key derived aggregate (each order's first
    * line). r20: spelled as min-over-window + filter — ONE exchange
    * (hash by l_orderkey) instead of the r19 aggregate + self-join
    * (guide §2.4 remove shuffles: the join needed the agg's exchange
    * PLUS a join — broadcast at bench scale, but two full exchanges +
    * sorts once the per-key table outgrows the broadcast cap at
    * 100 TB, where the window spelling still pays exactly one).
    * Identical rows by construction (min(linenumber) per order is the
    * joined first_line; ties keep both rows in both spellings); r20
    * ProbeM: 1.11 → 0.54 s isolated at sf0.1, rows byte-identical. */
  val joinMultikey: Q = (s, d) => {
    Tables.lineitem(s, d)
      .withColumn("fl",
        min($"l_linenumber").over(Window.partitionBy($"l_orderkey")))
      .filter($"l_linenumber" === $"fl")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity")
  }

  /** As-of join: each event matched to the same user's latest order with
    * o_orderdate <= ts. No native as-of in Spark — expressed as an equi
    * join on the user key plus a range residual, reduced with max_by per
    * event. The equi key keeps it a hash/SMJ join (not a cross product),
    * and the pairs stream through the join iterator into the partial
    * aggregate without materializing to the shuffle — but the COMPUTE is
    * O(in-window event×order pairs) per user key: a hot user with many
    * events AND many orders amplifies work quadratically (measured in
    * SkewStressSpec: 50M enumerated pairs from 15k rows, ~11× the
    * native operator's wall time). This is the declared
    * reference-spelling; at scale, or under hot keys, use
    * `join_asof_native` (AsOfJoinExec: one sorted merge pass, O(n+m)
    * per key) or `join_asof_salted` (hot-key salting on top).
    * Oracle: DuckDB ASOF JOIN. */
  val joinAsof: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val o = Tables.orders(s, d)
    ev.join(o, $"user_id" === $"o_custkey" && $"o_orderdate" <= $"ts", "inner")
      .groupBy($"event_id")
      .agg(
        max_by(struct($"o_orderkey", $"o_orderdate"), struct($"o_orderdate", $"o_orderkey")).as("m"))
      .select($"event_id", $"m.o_orderkey".as("o_orderkey"),
        $"m.o_orderdate".as("o_orderdate"))
      .orderBy($"event_id")
  }

  // ----------------------------------------------------------- aggregations

  /** TPC-H Q1-style grouped aggregate, decimal-exact, partial agg before
    * the shuffle (map-side combine is automatic for hash aggregates). */
  val aggGroup: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // r19: SplitSum discipline (see ops.SplitSum) — values convert ONCE
    // per row to exact hundredths (the decimal(18,2) cast recovers the
    // true 2-dp value; disc_e4 = pc·(100−dc) is the exact 4-dp product
    // price·(1−discount)·10⁴), the sums accumulate as pure-long split
    // sums, and the scale divides back out in exact decimal before each
    // double conversion — the identical rational reaches the double
    // cast, so results are bit-identical to the direct decimal sums.
    val qc = ($"l_quantity".cast(dec) * 100).cast("long")
    val pc = ($"l_extendedprice".cast(dec) * 100).cast("long")
    val dc = ($"l_discount".cast(dec) * 100).cast("long")
    li.select($"l_returnflag", $"l_linestatus", qc.as("qc"), pc.as("pc"),
        (pc * (lit(100L) - dc)).as("disc_e4"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        SplitSum.splitSum($"qc").as("sqc"),
        SplitSum.splitSum($"pc").as("spc"),
        SplitSum.splitSum($"disc_e4").as("sdc"),
        count(lit(1)).as("count_order"))
      .select($"l_returnflag", $"l_linestatus",
        expr("sqc / 100").cast("double").as("sum_qty"),
        expr("spc / 100").cast("double").as("sum_base_price"),
        expr("sdc / 10000").cast("double").as("sum_disc_price"),
        (expr("sqc / 100").cast("double") / $"count_order").as("avg_qty"),
        $"count_order")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** count(distinct) per group — two-phase distinct aggregate. */
  val aggDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"))
      .orderBy($"l_returnflag")

  /** HAVING: groups filtered on an aggregate. (r20: SplitSum.) */
  val aggHaving: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("tc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        (SplitSum.splitSum($"tc") / 100).cast("double").as("total"))
      .filter($"n_orders" >= 10)
      .orderBy($"o_custkey")

  /** ROLLUP over the region→nation hierarchy. */
  val aggRollup: Q = (s, d) => {
    val joined = Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .join(Tables.customer(s, d), $"c_nationkey" === $"n_nationkey")
    // r19: SplitSum (ops.SplitSum; acctbal can be NEGATIVE — the split
    // identity holds for all longs, SplitSumSpec pins the signed domain)
    joined.withColumn("ac", ($"c_acctbal".cast(dec) * 100).cast("long"))
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_customers"),
        SplitSum.splitSum($"ac").as("sac"))
      .select($"r_name", $"n_name", $"n_customers",
        expr("sac / 100").cast("double").as("acctbal_sum"))
      .orderBy($"r_name".asc_nulls_first, $"n_name".asc_nulls_first)
  }

  /** CUBE over order status × priority. */
  val aggCube: Q = (s, d) =>
    // r19: SplitSum discipline (ops.SplitSum)
    Tables.orders(s, d)
      .withColumn("tc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), SplitSum.splitSum($"tc").as("stc"))
      .select($"o_orderstatus", $"o_orderpriority", $"n",
        expr("stc / 100").cast("double").as("total"))
      .orderBy($"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)

  /** Explicit GROUPING SETS via SQL front-end. */
  val aggGroupingSets: Q = (s, d) => {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        |""".stripMargin)
  }

  /** min/max/avg/stddev — stddev computed from exact decimal sums with a
    * fixed double expression tree so both engines evaluate identically
    * (SURVEY §7.3c), then rounded. */
  val aggStats: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    // r19: SplitSum discipline (ops.SplitSum) — qc = exact hundredths,
    // qc² = exact 4-dp square ·10⁴; sums accumulate as long split sums
    // and divide the scale back out in exact decimal, so the identical
    // rationals reach the (unchanged) double expression tree.
    val qc = ($"l_quantity".cast(dec) * 100).cast("long")
    li.select($"l_returnflag", $"l_quantity", qc.as("qc"))
      .groupBy($"l_returnflag")
      .agg(
        min($"l_quantity").as("min_qty"),
        max($"l_quantity").as("max_qty"),
        SplitSum.splitSum($"qc").as("sqc"),
        SplitSum.splitSum($"qc" * $"qc").as("sqqc"),
        count(lit(1)).as("n"))
      .select($"l_returnflag", $"min_qty", $"max_qty",
        (expr("sqc / 100").cast("double") / $"n").as("avg_qty"),
        round(
          sqrt(
            (expr("sqqc / 10000").cast("double")
              - expr("sqc / 100").cast("double")
                * expr("sqc / 100").cast("double") / $"n")
              / ($"n" - 1)),
          4).as("stddev_qty"))
      .orderBy($"l_returnflag")
  }

  /** HLL approximate distinct — approx by nature, no oracle; verified by
    * a property test (within 5% of exact). */
  val aggApproxDistinct: Q = (s, d) =>
    Tables.lineitem(s, d)
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"))

  // --------------------------------------------------------------- windows

  import org.apache.spark.sql.expressions.Window

  /** rank() within customer by totalprice. */
  val winRank: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("rk", rank().over(
        Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rk")
      .orderBy($"o_custkey", $"rk", $"o_orderkey")

  /** top-3 orders per customer via row_number. Ref: SURVEY §2.A.9. */
  val winTopn: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")))
      .filter($"rn" <= 3)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")

  /** lag(): per-user event value delta. */
  val winLag: Q = (s, d) =>
    Tables.events(s, d)
      .withColumn("prev_value", lag($"value", 1).over(
        Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
      .select($"event_id", $"user_id", $"value", $"prev_value")
      .orderBy($"event_id")

  /** Exact decimal recombination of a LONG-cents window sum: the
    * window aggregate accumulates `(v.cast(dec)*100).cast(long)` —
    * plain long adds in window state instead of a Decimal128 buffer
    * (sum over decimal(18,2) widens to decimal(28,2), past the
    * compact-long representation, so every frame add went through
    * BigDecimal + overflow check; guide §4 keep the hot loop integer)
    * — and the emit converts the cents back through exact decimal
    * (×0.01, scale-2, same rational → same double as the decimal-sum
    * spelling; r20 ProbeW pins row equality). Exact while a frame's
    * |Σcents| < 2⁶³ (~9·10¹⁶ money units — the same documented bound
    * family as SplitSum; a frame approaching it would split 42/21). */
  private def centsOver(pc: Column, w: org.apache.spark.sql.expressions.WindowSpec): Column =
    (sum(pc).over(w).cast(DecimalType(38, 0)) *
      lit(new java.math.BigDecimal("0.01"))).cast("double")

  /** 3-row moving average per customer (decimal-exact then double).
    * The sliding frame re-accumulates per output row (no retraction in
    * WindowExec), so the long-cents accumulator saves 3 BigDecimal
    * adds per row — r20 ProbeW: ~−8% isolated, rows identical. */
  val winMoving: Q = (s, d) => {
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      .rowsBetween(-2, 0)
    Tables.orders(s, d)
      .withColumn("pc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .withColumn("mov_avg", centsOver($"pc", w) / count(lit(1)).over(w))
      .select($"o_custkey", $"o_orderkey", $"mov_avg")
      .orderBy($"o_custkey", $"o_orderkey")
  }

  /** Running sum — the seeding-progress ledger analog (SURVEY §2.A.15).
    * Long-cents window state (see [[centsOver]]); r20 ProbeW: ~−5%
    * isolated at sf0.1, exact same doubles. */
  val winRunning: Q = (s, d) => {
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    Tables.events(s, d)
      .withColumn("pc", ($"value".cast(dec) * 100).cast("long"))
      .withColumn("running_value", centsOver($"pc", w))
      .select($"event_id", $"user_id", $"running_value")
      .orderBy($"event_id")
  }

  // ------------------------------------------------- sort / limit / set ops

  /** Multi-column mixed-direction sort with limit —
    * TakeOrderedAndProject, which at scale is a per-partition top-N plus
    * a single-reduce merge, never a global sort. */
  val sortMulti: Q = (s, d) =>
    Tables.lineitem(s, d)
      .orderBy($"l_returnflag".asc, $"l_extendedprice".desc, $"l_orderkey".asc,
        $"l_linenumber".asc)
      .select($"l_returnflag", $"l_extendedprice", $"l_orderkey", $"l_linenumber")
      .limit(100)

  /** Global top-k by price. */
  val topkGlobal: Q = (s, d) =>
    Tables.lineitem(s, d)
      .orderBy($"l_extendedprice".desc, $"l_orderkey", $"l_linenumber")
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .limit(20)

  /** UNION ALL of two disjoint event slices. */
  val setUnion: Q = (s, d) => {
    val ev = Tables.events(s, d)
    ev.filter($"event_type" === "error").select($"event_id", $"event_type")
      .unionByName(
        ev.filter($"event_type" === "purchase").select($"event_id", $"event_type"))
      .orderBy($"event_id")
  }

  /** INTERSECT of key sets. */
  val setIntersect: Q = (s, d) =>
    Tables.orders(s, d).select($"o_custkey".as("k"))
      .intersect(Tables.events(s, d).select($"user_id".as("k")))
      .orderBy($"k")

  /** EXCEPT: keys with orders minus keys with events. */
  val setExcept: Q = (s, d) =>
    Tables.orders(s, d).select($"o_custkey".as("k"))
      .except(Tables.events(s, d).select($"user_id".as("k")))
      .orderBy($"k")

  // -------------------------------------------------------- scalar functions

  /** String ops — port of the reference's identifier utilities
    * (strip-schema / mq-table, reference sql/util.clj:31-46): split
    * "schema.object" strings, mq_ prefixing, case/substr/length. */
  val fnString: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        $"p_partkey",
        lower($"p_brand").as("brand_lower"),
        upper($"p_type").as("type_upper"),
        regexp_extract($"p_name", "^([a-z]+)", 1).as("first_word"),
        concat(lit("mq_"), regexp_replace($"p_brand", "#", "_")).as("mq_name"),
        substring($"p_type", 1, 5).as("type_prefix"),
        length($"p_name").as("name_len"))
      .orderBy($"p_partkey")

  /** Date functions over o_orderdate. */
  val fnDate: Q = (s, d) =>
    Tables.orders(s, d)
      .select(
        $"o_orderkey",
        year($"o_orderdate").as("y"),
        month($"o_orderdate").as("m"),
        dayofmonth($"o_orderdate").as("dom"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        datediff(to_date(lit("2025-01-01")), to_date($"o_orderdate")).as("days_to_2025"))
      .orderBy($"o_orderkey")

  /** Math functions. */
  val fnMath: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice", 0).as("price_round"),
        abs($"l_discount" - 0.05).as("disc_dev"),
        ceil($"l_quantity").as("qty_ceil"),
        floor($"l_quantity" / 7).as("qty_div7"),
        pmod($"l_orderkey", lit(97)).as("key_mod"),
        round(pow($"l_quantity", 2), 4).as("qty_sq"))
      .orderBy($"l_orderkey", $"l_linenumber", $"price_round", $"disc_dev", $"qty_sq")

  /** Array functions over embeddings (1-based element_at matches DuckDB). */
  val fnArray: Q = (s, d) =>
    Tables.embeddings(s, d)
      .select(
        $"vec_id",
        size($"embedding").as("dim"),
        round(element_at($"embedding", 1).cast("double"), 4).as("first"),
        round(element_at($"embedding", 64).cast("double"), 4).as("last"),
        // explicit left-assoc additions (not a fold) so the double
        // expression tree matches the oracle exactly
        round((1 to 8).map(i => element_at($"embedding", i).cast("double"))
          .foldLeft(lit(0.0))(_ + _), 4).as("head_sum"))
      .orderBy($"vec_id")

  /** JSON extraction from the events props column. */
  val fnJson: Q = (s, d) =>
    // sort raw rows first, project after (event_id is unique): the
    // global sort's range sampler otherwise runs the JSON extraction
    // twice — the presentation-sort double-eval pattern (see fn_try)
    Tables.events(s, d)
      .orderBy($"event_id")
      .select(
        $"event_id",
        get_json_object($"props", "$.k").cast("int").as("k"))

  // -------------------------------------------------------------- registry

  /** The oracles are written for exact value/hash parity with the Spark
    * plans: identical column aliases, identical decimal-exact arithmetic
    * cast to DOUBLE at the same point, identical ORDER BY with explicit
    * NULLS FIRST (Spark's ASC default is nulls-first, DuckDB's is
    * nulls-last), identical tie-breaks on unique keys, and BIGINT casts
    * where Spark's function return types differ from DuckDB's
    * (ceil/floor). */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("scan_project", scanProject, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin)),

    QueryDef("scan_count", scanCount, Some("SELECT count(1) AS n FROM lineitem")),

    QueryDef("filter_range", filterRange, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 10
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin)),

    QueryDef("filter_not_in", filterNotIn, Some(
      """SELECT event_id, event_type, user_id FROM events
        |WHERE event_type NOT IN ('error', 'purchase')
        |ORDER BY event_id""".stripMargin)),

    QueryDef("project_expr", projectExpr, Some(
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |       * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |       AS DOUBLE) AS disc_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, disc_price""".stripMargin)),

    QueryDef("project_case", projectCase, Some(
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 'hot'
        |       WHEN o_orderpriority = '2-HIGH' THEN 'warm'
        |       ELSE 'cold' END AS heat,
        |  COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("join_inner", joinInner, Some(
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("join_broadcast", joinBroadcast, Some(
      """SELECT n_nationkey, n_name, r_name
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY n_nationkey""".stripMargin)),

    QueryDef("join_left", joinLeft, Some(
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  COALESCE(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 0.0) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin)),

    QueryDef("join_semi", joinSemi, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("join_anti", joinAnti, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    QueryDef("join_theta", joinTheta, Some(
      """SELECT l_orderkey, l_linenumber, p_partkey, p_size, l_quantity
        |FROM lineitem JOIN part
        |  ON l_partkey = p_partkey AND p_size BETWEEN 10 AND 20
        |  AND l_quantity > p_size
        |ORDER BY l_orderkey, l_linenumber, p_partkey, l_quantity""".stripMargin)),

    QueryDef("join_multikey", joinMultikey, Some(
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity
        |FROM lineitem l
        |JOIN (SELECT l_orderkey AS o_key, min(l_linenumber) AS first_line
        |      FROM lineitem GROUP BY l_orderkey) f
        |  ON l.l_orderkey = f.o_key AND l.l_linenumber = f.first_line
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_quantity""".stripMargin)),

    QueryDef("join_asof", joinAsof, Some(
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    QueryDef("agg_group", aggGroup, Some(
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS avg_qty,
        |  count(1) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("agg_distinct", aggDistinct, Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef("agg_having", aggHaving, Some(
      """SELECT o_custkey, count(1) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_custkey HAVING count(1) >= 10
        |ORDER BY o_custkey""".stripMargin)),

    QueryDef("agg_rollup", aggRollup, Some(
      """SELECT r_name, n_name, count(1) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
        |FROM nation
        |JOIN region ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin)),

    QueryDef("agg_cube", aggCube, Some(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    QueryDef("agg_grouping_sets", aggGroupingSets, Some(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)),

    QueryDef("agg_stats", aggStats, Some(
      """SELECT l_returnflag,
        |  min(l_quantity) AS min_qty,
        |  max(l_quantity) AS max_qty,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(1) AS avg_qty,
        |  round(sqrt(
        |    (CAST(SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |                   * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE)
        |     - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |       * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(1))
        |    / (count(1) - 1)), 4) AS stddev_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    QueryDef("agg_approx_distinct", aggApproxDistinct, None),

    QueryDef("win_rank", winRank, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  rank() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |FROM orders ORDER BY o_custkey, rk, o_orderkey""".stripMargin)),

    QueryDef("win_topn", winTopn, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin)),

    QueryDef("win_lag", winLag, Some(
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("win_moving", winMoving, Some(
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE)
        |    / COUNT(1) OVER w AS mov_avg
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    QueryDef("win_running", winRunning, Some(
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("sort_multi", sortMulti, Some(
      """SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber
        |FROM lineitem
        |ORDER BY l_returnflag ASC, l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin)),

    QueryDef("topk_global", topkGlobal, Some(
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 20""".stripMargin)),

    QueryDef("set_union", setUnion, Some(
      """SELECT event_id, event_type FROM events WHERE event_type = 'error'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE event_type = 'purchase'
        |ORDER BY event_id""".stripMargin)),

    QueryDef("set_intersect", setIntersect, Some(
      """SELECT o_custkey AS k FROM orders
        |INTERSECT
        |SELECT user_id AS k FROM events
        |ORDER BY k""".stripMargin)),

    QueryDef("set_except", setExcept, Some(
      """SELECT o_custkey AS k FROM orders
        |EXCEPT
        |SELECT user_id AS k FROM events
        |ORDER BY k""".stripMargin)),

    QueryDef("fn_string", fnString, Some(
      """SELECT p_partkey,
        |  lower(p_brand) AS brand_lower,
        |  upper(p_type) AS type_upper,
        |  regexp_extract(p_name, '^([a-z]+)', 1) AS first_word,
        |  'mq_' || replace(p_brand, '#', '_') AS mq_name,
        |  substring(p_type, 1, 5) AS type_prefix,
        |  length(p_name) AS name_len
        |FROM part ORDER BY p_partkey""".stripMargin)),

    QueryDef("fn_date", fnDate, Some(
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS dom,
        |  date_trunc('month', o_orderdate) AS month_start,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2025-01-01') AS INTEGER) AS days_to_2025
        |FROM orders ORDER BY o_orderkey""".stripMargin)),

    QueryDef("fn_math", fnMath, Some(
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice, 0) AS price_round,
        |  abs(l_discount - 0.05) AS disc_dev,
        |  CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
        |  CAST(floor(l_quantity / 7) AS BIGINT) AS qty_div7,
        |  l_orderkey % 97 AS key_mod,
        |  round(pow(l_quantity, 2), 4) AS qty_sq
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, price_round, disc_dev, qty_sq""".stripMargin)),

    QueryDef("fn_array", fnArray, Some(
      """SELECT vec_id,
        |  CAST(len(embedding) AS INTEGER) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 4) AS first,
        |  round(CAST(embedding[64] AS DOUBLE), 4) AS last,
        |  round(0.0 + CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
        |    + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)
        |    + CAST(embedding[5] AS DOUBLE) + CAST(embedding[6] AS DOUBLE)
        |    + CAST(embedding[7] AS DOUBLE) + CAST(embedding[8] AS DOUBLE), 4) AS head_sum
        |FROM embeddings ORDER BY vec_id""".stripMargin)),

    QueryDef("fn_json", fnJson, Some(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events ORDER BY event_id""".stripMargin)),
  )
}
