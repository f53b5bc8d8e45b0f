package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Tenth relational batch (round 8): the remaining classic warehouse
  * shapes and data-management primitives — the cyclic-join TPC-H Q5,
  * the anti-join + grouped-distinct Q16, lagged autocorrelation in
  * exact integers, synchronous label-propagation communities, deletion
  * vectors (merge-on-read planning), key-skew diagnostics, and the
  * hashing-trick featurizer.
  *
  * Determinism: SURVEY §7.3 throughout — floor-scaled BIGINT for every
  * computed double, DECIMAL(38,0)/HUGEINT where products exceed int64,
  * unique sort keys on every output, oracle mirrors every cap.
  */
object Relational10 {
  type Q = (SparkSession, String) => DataFrame

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)

  // ---------------------------------------------------------------- tpch q5

  /** TPC-H Q5 (local supplier volume): the CYCLIC join graph — revenue
    * only counts when the supplier sits in the customer's own nation
    * (`c_nationkey = s_nationkey`), which closes a cycle
    * lineitem→orders→customer→nation←supplier←lineitem that no join
    * tree can express as a pure chain; the standard plan folds the
    * cycle into a composite-key join against the supplier dim
    * (`l_suppkey = s_suppkey AND c_nationkey = s_nationkey` — still
    * equi, still broadcast-able).
    *
    * Scale shape ([[Relational6.joinStar]]'s chain plus the cycle):
    * the two fact joins shuffle on orderkey then custkey; supplier /
    * nation / the region filter broadcast. The one-year date band is
    * pushed into the orders scan (predicate pushdown prunes before the
    * first shuffle). Revenue is the validated DECIMAL(18,2) discount
    * arithmetic, DOUBLE only at presentation; sort on the exact
    * decimal with the n_name tiebreak. */
  val joinTpchQ5: Q = (s, d) => {
    val rev = $"l_extendedprice".cast(Dec) *
      (lit(1).cast(Dec) - $"l_discount".cast(Dec))
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey", rev.as("rev"))
      .join(Tables.orders(s, d)
          .filter($"o_orderdate" >= lit("1996-01-01")
            && $"o_orderdate" < lit("1997-01-01"))
          .select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      // supplier unhinted: SF-proportional (see Relational8's part
      // note) — estimation/AQE broadcast it while it fits, and only
      // while it fits
      .join(Tables.supplier(s, d)
          .select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(s, d)
          .select($"n_nationkey", $"n_name", $"n_regionkey")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)
          .filter($"r_name" === "ASIA").select($"r_regionkey")),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(sum($"rev").as("rev_dec"), count(lit(1)).as("n_rows"))
      .orderBy($"rev_dec".desc, $"n_name")
      .select($"n_name", $"rev_dec".cast("double").as("revenue"), $"n_rows")
  }

  // ---------------------------------------------------------------- tpch q16

  /** TPC-H Q16 shape (parts/supplier relationship): distinct supplier
    * count per (brand, type) for non-excluded brands, with "complaint"
    * suppliers (negative account balance here) removed by an ANTI
    * join — the NOT IN subquery spelled as the plan Catalyst actually
    * runs. The exclusion list is tiny and broadcasts; the part join
    * shuffles on partkey (AQE may still broadcast at small SF); the
    * grouped COUNT(DISTINCT suppkey) plans the standard two-phase
    * distinct aggregate — partial distinct on (brand, type, suppkey)
    * map-side, so the shuffle carries distinct triples, not lineitem
    * rows. Sort (cnt desc, brand, type) is a total order. */
  val joinTpchQ16: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select($"l_partkey", $"l_suppkey")
      .join(Tables.supplier(s, d)
          .filter($"s_acctbal" < 0).select($"s_suppkey"),
        $"l_suppkey" === $"s_suppkey", "left_anti")
      .join(Tables.part(s, d)
          .filter($"p_brand" =!= "Brand#1")
          .select($"p_partkey", $"p_brand", $"p_type"),
        $"l_partkey" === $"p_partkey")
      .groupBy($"p_brand", $"p_type")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type")

  // ---------------------------------------------------------------- acf

  /** Autocorrelation lags computed by [[tsAcf]]. */
  val AcfMaxLag = 3

  /** Per-type lag-k autocorrelation (k = 1..[[AcfMaxLag]]) of the
    * event-value series — the seasonality/memory diagnostic read
    * before choosing window sizes (ts_seasonal's period, win_ewma's
    * decay). The standard estimator
    * `r_k = Σ(x_t−μ)(x_{t+k}−μ) / Σ(x_t−μ)²` is float through μ; both
    * sides are multiplied through by n² so every term is an exact
    * integer (agg_linreg / ts_changepoint's multiply-through trick):
    * `num_k·n² = n²·Σxy − n·S·(A_k+B_k) + m_k·S²` and
    * `den·n² = n²·Q − n·S²`, with S/Q the full-series sum and square
    * sum, A_k/B_k the pair-restricted sums, m_k the pair count — all
    * in DECIMAL(38,0) (HUGEINT oracle), result floored to basis
    * points via two-stage truncating long division:
    * `10⁴·N div D = 10⁴·t₁ + 100·t₂ + (100·r₂) div D` with
    * `t₁ = N div D, r₁ = N % D, t₂ = (100·r₁) div D, r₂ = (100·r₁) % D`
    * — exact for both signs because Spark decimal div/% and DuckDB
    * HUGEINT `//`/`%` all truncate toward zero with dividend-sign
    * remainders, and it keeps every intermediate ≤ 100·D. The naive
    * `N·10⁴ div D` overflowed Decimal(38,0) at sf10: the dominant term
    * is n³·x̄² (x̄ ≈ 4e8 µ-units in the synthetic values), so the
    * per-type ceiling is n ≤ (1e38/x̄²)^⅓ ≈ 2e7 rows — the extra 10⁴
    * lowered it to ~1e6, which the largest sf10 event_type crossed.
    * Beyond ~2e7 rows/type the series must be windowed/downsampled
    * first (ts_downsample), as any exact-integer per-type global
    * statistic must.
    *
    * ONE event_type-hash exchange feeds all three lead windows and the
    * final aggregate (window and groupBy share the clustering);
    * (ts_us, event_id) is the §7.3 unique sort key. */
  val tsAcf: Q = (s, d) => {
    val w = Window.partitionBy($"event_type").orderBy($"ts_us", $"event_id")
    val ev = Tables.events(s, d)
      .select($"event_id", $"event_type",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("x"))
    val withLeads = (1 to AcfMaxLag).foldLeft(ev) { (df, k) =>
      df.withColumn(s"y$k", lead($"x", k).over(w))
    }
    // r20: SplitSum discipline (ops.SplitSum) on all 14 wide sums —
    // the decimal(38,0) accumulators put a BigDecimal add + overflow
    // check per (row × sum) in the aggregate loop. The quadratic
    // products multiply as LONGS per row (x·y ≤ (5.6e8)² ≈ 3.2e17 on
    // this data; safe while |x| ≤ 3e9 µ-units, i.e. values ≤ ~3000 —
    // loud under ANSI past that, at which point the series must be
    // downsampled first, same per-type ceiling family as the n³·x̄²
    // bound above), and only the SUMS carry the wide-integer split.
    // splitSum returns the identical DECIMAL(38,0) value, so the
    // withND expression tree below is untouched. Null flow identical:
    // y_k-null rows null the product and are skipped by every part.
    val aggs =
      Seq(count(lit(1)).as("n"),
        SplitSum.splitSum($"x").as("sx"),
        SplitSum.splitSum($"x" * $"x").as("q2")) ++
      (1 to AcfMaxLag).flatMap { k =>
        Seq(
          count(col(s"y$k")).as(s"m$k"),
          SplitSum.splitSum($"x" * col(s"y$k")).as(s"xy$k"),
          SplitSum.splitSum(
            when(col(s"y$k").isNotNull, $"x").otherwise(lit(0L))).as(s"a$k"),
          SplitSum.splitSum(col(s"y$k")).as(s"b$k"))
      }
    val stats = withLeads.groupBy($"event_type").agg(aggs.head, aggs.tail: _*)
    acfTail(stats)
  }

  /** The post-aggregate tail of [[tsAcf]] over a named stats frame
    * (event_type, n, sx, q2, m_k, xy_k, a_k, b_k) — factored so the
    * r20 SplitSum probe can run the r19 decimal aggregate through the
    * byte-identical downstream expression tree. */
  private[graft] def acfTail(stats: DataFrame): DataFrame = {
    // stage N_k/D as columns (|types| rows) so the long-division melt
    // below reads names, not re-expanded aggregate subtrees
    val withND = stats.select(
      ($"event_type" +:
        expr("""CAST(n AS DECIMAL(38,0)) * n * q2
               | - CAST(n AS DECIMAL(38,0)) * sx * sx"""
          .stripMargin.replaceAll("\n", " ")).as("den") +:
        (1 to AcfMaxLag).flatMap { k => Seq(
          col(s"m$k"),
          expr(s"""CAST(n AS DECIMAL(38,0)) * n * xy$k
                  | - CAST(n AS DECIMAL(38,0)) * sx * (a$k + b$k)
                  | + CAST(m$k AS DECIMAL(38,0)) * sx * sx"""
            .stripMargin.replaceAll("\n", " ")).as(s"num$k"))
        }): _*)
    def acfExpr(k: Int): String =
      s"""CAST(10000 * (num$k div den)
         | + 100 * ((100 * (num$k % den)) div den)
         | + (100 * ((100 * (num$k % den)) % den)) div den AS BIGINT)"""
        .stripMargin.replaceAll("\n", " ")
    // melt the per-lag columns in ONE pass over the (|types|-row)
    // aggregate — a union of per-lag selects would re-plan the whole
    // aggregate subtree per branch
    withND.select($"event_type", explode(array((1 to AcfMaxLag).map { k =>
        struct(lit(k.toLong).as("lag"), col(s"m$k").as("m"),
          expr(acfExpr(k)).as("acf_bp"))
      }: _*)).as("r"))
      .select($"event_type", $"r.lag".as("lag"), $"r.m".as("m"),
        $"r.acf_bp".as("acf_bp"))
      .orderBy($"event_type", $"lag")
  }

  // ---------------------------------------------------------------- labelprop

  /** Synchronous label-propagation rounds run by [[graphLabelprop]]. */
  val LpRounds = 3

  /** Community detection by SYNCHRONOUS min-majority label propagation
    * over the undirected part digit forest (parent = p DIV 10, the
    * graph graph_hierarchy/graph_bfs already walk): every node starts
    * as its own label; each round every node adopts the most frequent
    * label among its neighbors, ties to the SMALLEST label (the
    * determinism knob — async/random-tie LPA is run-dependent, this
    * one is bit-stable), isolated nodes keep their label. Three fixed
    * rounds, like graph_pagerank's fixed iterations, so the oracle can
    * unroll.
    *
    * Scale shape: per round ONE equi-join of the |E|-row edge list
    * against the |V|-row label table (co-shuffled on node at 100 TB)
    * + two map-side-combined aggregates ((node, label) counts, then
    * the per-node argmax via struct-max — never a window sort);
    * edges checkpointed once, labels [[Checkpoints.cut]] per round so
    * the plan tree stays flat. Degree ≤ 11 by construction (digit
    * forest), so no hub skew. */
  val graphLabelprop: Q = (s, d) => {
    val nodes = Tables.part(s, d).select($"p_partkey".as("node"))
    val e0 = nodes.filter($"node" >= 10)
      .select($"node".as("a"), expr("node DIV 10").as("b"))
    // r19: explode-fused orientations (one scan instead of two union
    // branches; identical multiset into the cut)
    val edges = Checkpoints.cut(e0
      .select(explode(array(
        struct($"a", $"b"), struct($"b".as("a"), $"a".as("b")))).as("e"))
      .select($"e.a".as("a"), $"e.b".as("b")))
    var labels = nodes.select($"node", $"node".as("label"))
    for (_ <- 1 to LpRounds) {
      val best = edges
        .join(labels.withColumnRenamed("node", "b2"), $"b" === $"b2")
        .groupBy($"a", $"label").agg(count(lit(1)).as("c"))
        // argmax by (count desc, label asc): max of (c, -label) structs
        .groupBy($"a")
        .agg(max(struct($"c", (-$"label").as("nl"))).as("m"))
        .select($"a".as("node"), (-$"m.nl").as("new_label"))
      labels = Checkpoints.cut(
        labels.join(best, Seq("node"), "left")
          .select($"node", coalesce($"new_label", $"label").as("label")))
    }
    labels.select($"node".as("p_partkey"), $"label".as(s"label$LpRounds"))
      .orderBy($"p_partkey")
  }

  // ---------------------------------------------------------------- delete vectors

  /** Documents per synthetic file stripe (shared with
    * [[Relational9.dataCompactPlan]]'s notion of a file). */
  val DvStripe = 100L

  /** Deletion-vector planning — the merge-on-read DELETE primitive of
    * every modern table format (Delta deletion vectors, Iceberg v2
    * position deletes): given a delete predicate (here the
    * deterministic `doc_id % 97 = 0` — a GDPR/takedown id list in
    * real life), emit per data file the positions-deleted BITMAP
    * instead of rewriting the file. Positions land in two ≤50-bit
    * BIGINT halves (sum of distinct powers of two = OR, so the bitmap
    * build is a map-side-combinable SUM — the same sign-safe two-half
    * packing as mm_phash); `rewrite` flags files past the 10%
    * amortization threshold where compaction beats carrying the
    * vector. Row data never moves: the whole plan shuffles only
    * (source, file_id, …) aggregate rows. */
  val dataDeleteVectors: Q = (s, d) =>
    Tables.documents(s, d)
      .select($"source", expr(s"doc_id DIV $DvStripe").as("file_id"),
        expr(s"doc_id % $DvStripe").as("pos"),
        ($"doc_id" % 97 === 0).as("del"))
      .groupBy($"source", $"file_id")
      .agg(
        count(lit(1)).as("n_docs"),
        expr("count_if(del)").as("n_del"),
        sum(when($"del" && $"pos" < 50, expr("shiftleft(1L, CAST(pos AS INT))"))
          .otherwise(0L)).as("dv_lo"),
        sum(when($"del" && $"pos" >= 50,
            expr("shiftleft(1L, CAST(pos - 50 AS INT))"))
          .otherwise(0L)).as("dv_hi"))
      .select($"source", $"file_id", $"n_docs", $"n_del", $"dv_lo", $"dv_hi",
        ($"n_del" * 10 >= $"n_docs").as("rewrite"))
      .orderBy($"source", $"file_id")

  // ---------------------------------------------------------------- skew profile

  /** Heavy keys reported by [[dataSkewProfile]]. */
  val SkewTopK = 20

  /** Key-skew diagnostics over the events stream — the profile read
    * BEFORE choosing a skew strategy (agg_salted's salt width, AQE's
    * skew-join threshold, join_asof_salted's hot-key list): per-key
    * counts, the top-[[SkewTopK]] heavy hitters by (count desc, key),
    * each key's corpus share in basis points and its skew factor vs
    * the mean key (count·K·10⁴ DIV N — >10⁴ means hotter than
    * average). The ratio products run in DECIMAL(38,0) (HUGEINT
    * oracle): a BIGINT c·n_keys·10⁴ overflows at corpus-scale counts
    * times corpus-scale key cardinality — exactly the regime this
    * diagnostic exists for — throwing under ANSI mode or silently
    * mis-profiling the hottest keys under legacy wrap; decimal is
    * exact to 1e38, and the emitted ratios are small by construction
    * (share ≤ 10⁴, skew ≤ n_keys·10⁴). ONE map-side-combined count
    * aggregate (the shuffle carries distinct keys); totals are a
    * 1-row broadcast; the top-K over a total order plans TakeOrdered,
    * never a global sort. */
  val dataSkewProfile: Q = (s, d) => {
    val counts = Tables.events(s, d).groupBy($"user_id")
      .agg(count(lit(1)).as("c"))
    val totals = counts.agg(sum($"c").as("n_total"),
      count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .orderBy($"c".desc, $"user_id")
      .limit(SkewTopK)
      .select($"user_id", $"c", $"n_total", $"n_keys",
        expr("CAST(c AS DECIMAL(38,0)) * 10000 DIV n_total")
          .as("share_bp"),
        expr("CAST(c AS DECIMAL(38,0)) * n_keys * 10000 DIV n_total")
          .as("skew_e4"))
  }

  // ---------------------------------------------------------------- hashing trick

  /** Feature-hashing buckets used by [[textHashtf]]. */
  val HashTfBuckets = 64

  /** Hashing-trick term frequencies (HashingTF): tokens bucketed by
    * `graft_polyhash(tok) % 64` into a fixed-width sparse count vector
    * per document — the featurizer that needs NO vocabulary pass (the
    * one-pass alternative to tok_vocab_coverage's induce-then-apply),
    * so it streams and scales embarrassingly: explode → ONE
    * map-side-combined (doc, bucket) count aggregate, only (doc_id,
    * bucket) pairs shuffle. Every 7th document keeps the output
    * presentation-sized; the oracle mirrors both the filter and the
    * engine's own cross-engine hash, so bucket collisions are
    * bit-identical. */
  val textHashtf: Q = (s, d) => {
    TextFeatures.ensureRegistered(s)
    Tables.documents(s, d)
      .filter($"doc_id" % 7 === 0)
      .select($"doc_id", explode(TextFeatures.tokens($"text")).as("tok"))
      .select($"doc_id",
        expr(s"${TextFeatures.charHashSql("tok")} % $HashTfBuckets").as("bucket"))
      .groupBy($"doc_id", $"bucket").agg(count(lit(1)).as("tf"))
      .orderBy($"doc_id", $"bucket")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("join_tpch_q5", joinTpchQ5, Some(
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  count(1) AS n_rows
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |  DESC, n_name""".stripMargin)),

    QueryDef("join_tpch_q16", joinTpchQ16, Some(
      """SELECT p_brand, p_type,
        |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type
        |ORDER BY supplier_cnt DESC, p_brand, p_type""".stripMargin)),

    QueryDef("ts_acf", tsAcf, Some(
      s"""WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id,
        |    CAST(floor(value * 1000000) AS BIGINT) AS x
        |  FROM events),
        | led AS (
        |  SELECT event_type, x,
        |    lead(x, 1) OVER w AS y1, lead(x, 2) OVER w AS y2,
        |    lead(x, 3) OVER w AS y3
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id)),
        | st AS (
        |  SELECT event_type,
        |    CAST(count(1) AS HUGEINT) AS n,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    sum(CAST(x AS HUGEINT) * x) AS q2,
        |    CAST(count(y1) AS HUGEINT) AS m1,
        |    sum(CAST(x AS HUGEINT) * y1) AS xy1,
        |    CAST(sum(CASE WHEN y1 IS NOT NULL THEN x ELSE 0 END) AS HUGEINT) AS a1,
        |    CAST(sum(y1) AS HUGEINT) AS b1,
        |    CAST(count(y2) AS HUGEINT) AS m2,
        |    sum(CAST(x AS HUGEINT) * y2) AS xy2,
        |    CAST(sum(CASE WHEN y2 IS NOT NULL THEN x ELSE 0 END) AS HUGEINT) AS a2,
        |    CAST(sum(y2) AS HUGEINT) AS b2,
        |    CAST(count(y3) AS HUGEINT) AS m3,
        |    sum(CAST(x AS HUGEINT) * y3) AS xy3,
        |    CAST(sum(CASE WHEN y3 IS NOT NULL THEN x ELSE 0 END) AS HUGEINT) AS a3,
        |    CAST(sum(y3) AS HUGEINT) AS b3
        |  FROM led GROUP BY event_type),
        | nd AS (
        |  SELECT event_type,
        |    (n*n*q2 - n*sx*sx) AS den,
        |    CAST(m1 AS BIGINT) AS m1, (n*n*xy1 - n*sx*(a1+b1) + m1*sx*sx) AS num1,
        |    CAST(m2 AS BIGINT) AS m2, (n*n*xy2 - n*sx*(a2+b2) + m2*sx*sx) AS num2,
        |    CAST(m3 AS BIGINT) AS m3, (n*n*xy3 - n*sx*(a3+b3) + m3*sx*sx) AS num3
        |  FROM st)
        |SELECT event_type, lag, m, acf_bp FROM (
        |  SELECT event_type, CAST(1 AS BIGINT) AS lag, m1 AS m,
        |    CAST(10000 * (num1 // den)
        |      + 100 * ((100 * (num1 % den)) // den)
        |      + (100 * ((100 * (num1 % den)) % den)) // den AS BIGINT) AS acf_bp
        |  FROM nd
        |  UNION ALL
        |  SELECT event_type, 2, m2,
        |    CAST(10000 * (num2 // den)
        |      + 100 * ((100 * (num2 % den)) // den)
        |      + (100 * ((100 * (num2 % den)) % den)) // den AS BIGINT)
        |  FROM nd
        |  UNION ALL
        |  SELECT event_type, 3, m3,
        |    CAST(10000 * (num3 // den)
        |      + 100 * ((100 * (num3 % den)) // den)
        |      + (100 * ((100 * (num3 % den)) % den)) // den AS BIGINT)
        |  FROM nd)
        |ORDER BY event_type, lag""".stripMargin)),

    QueryDef("graph_labelprop", graphLabelprop, Some {
      def round(prev: String, cur: String): String =
        s"""${cur}c AS (
          |  SELECT e.a AS node, $prev.label, count(1) AS c
          |  FROM e JOIN $prev ON $prev.node = e.b GROUP BY 1, 2),
          | ${cur}b AS (
          |  SELECT node, label FROM ${cur}c
          |  QUALIFY row_number() OVER (PARTITION BY node
          |    ORDER BY c DESC, label) = 1),
          | $cur AS (
          |  SELECT $prev.node, coalesce(${cur}b.label, $prev.label) AS label
          |  FROM $prev LEFT JOIN ${cur}b ON ${cur}b.node = $prev.node)"""
          .stripMargin
      s"""WITH nodes AS (SELECT p_partkey AS node FROM part),
        | e0 AS (SELECT p_partkey AS a, p_partkey // 10 AS b
        |        FROM part WHERE p_partkey >= 10),
        | e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        | l0 AS (SELECT node, node AS label FROM nodes),
        | ${round("l0", "l1")},
        | ${round("l1", "l2")},
        | ${round("l2", "l3")}
        |SELECT node AS p_partkey, label AS label$LpRounds
        |FROM l3 ORDER BY p_partkey""".stripMargin
    }),

    QueryDef("data_delete_vectors", dataDeleteVectors, Some(
      s"""SELECT source, CAST(doc_id // $DvStripe AS BIGINT) AS file_id,
        |  CAST(count(1) AS BIGINT) AS n_docs,
        |  CAST(count(1) FILTER (doc_id % 97 = 0) AS BIGINT) AS n_del,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 AND doc_id % $DvStripe < 50
        |    THEN CAST(1 AS BIGINT) << CAST(doc_id % $DvStripe AS INT)
        |    ELSE 0 END), 0) AS BIGINT) AS dv_lo,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 97 = 0 AND doc_id % $DvStripe >= 50
        |    THEN CAST(1 AS BIGINT) << CAST(doc_id % $DvStripe - 50 AS INT)
        |    ELSE 0 END), 0) AS BIGINT) AS dv_hi,
        |  count(1) FILTER (doc_id % 97 = 0) * 10 >= count(1) AS rewrite
        |FROM documents
        |GROUP BY source, doc_id // $DvStripe
        |ORDER BY source, file_id""".stripMargin)),

    QueryDef("data_skew_profile", dataSkewProfile, Some(
      s"""WITH c AS (
        |  SELECT user_id, CAST(count(1) AS BIGINT) AS c
        |  FROM events GROUP BY user_id),
        | t AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
        |              CAST(count(1) AS BIGINT) AS n_keys FROM c)
        |SELECT user_id, c, n_total, n_keys,
        |  CAST(CAST(c AS HUGEINT) * 10000 // n_total AS BIGINT)
        |    AS share_bp,
        |  CAST(CAST(c AS HUGEINT) * n_keys * 10000 // n_total AS BIGINT)
        |    AS skew_e4
        |FROM c, t
        |ORDER BY c DESC, user_id LIMIT $SkewTopK""".stripMargin)),

    QueryDef("text_hashtf", textHashtf, Some {
      val h = DedupOps.duckCharHash("tok")
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
        |    AS tok
        |  FROM documents WHERE doc_id % 7 = 0)
        |SELECT doc_id, $h % $HashTfBuckets AS bucket,
        |  CAST(count(1) AS BIGINT) AS tf
        |FROM toks
        |GROUP BY doc_id, $h % $HashTfBuckets
        |ORDER BY doc_id, bucket""".stripMargin
    }),
  )
}
