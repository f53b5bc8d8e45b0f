package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Seventh relational batch (round 5): exponentially-weighted moving
  * average in exact binary-weight integer arithmetic, neighbor-set
  * Jaccard link scoring (common-neighbors similarity), peak-preserving
  * time-series downsampling, and per-source language-diversity
  * profiling (Gini–Simpson / effective-category counts).
  *
  * Determinism contract as ever (SURVEY §7.3): epoch-µs/BIGINT
  * arithmetic only. The EWMA uses power-of-two decay weights so the
  * weighted average is a pure integer expression (`num DIV den`);
  * diversity avoids `ln` entirely (libm `log` is not correctly
  * rounded, unlike `sqrt`, so cross-engine last-ulp parity is NOT
  * guaranteed) by reporting the Gini–Simpson index and the effective
  * number of categories 1/Σp² — both exact integer forms.
  */
object Relational7 {
  type Q = (SparkSession, String) => DataFrame

  /** EWMA smoothing depth: the current value plus 7 lags. */
  val EwmaK = 8

  /** Per-user EWMA of `events.value` (milli-units) with binary decay
    * — weight 2⁷ on the newest sample halving to 2⁰ on the oldest of
    * 8, renormalized over however many lags exist near the partition
    * head. Because the weights are integers, the smoothed value is
    * `Σ wᵢ·vᵢ DIV Σ wᵢ` in pure BIGINT: bit-identical across engines
    * and insensitive to evaluation order, where the classic float
    * recurrence `s = α·x + (1−α)·s` drifts by ulps.
    *
    * ONE shuffle: all 7 `lag` windows share the user_id hash +
    * (ts_us, event_id) sort, so Catalyst plans a single exchange and
    * a single per-partition sort — the bounded-lag formulation is
    * also what keeps this embarrassingly parallel at 100 TB (a true
    * infinite-horizon EWMA is a sequential scan per user; 8 lags is
    * a window frame). */
  val winEwma: Q = (s, d) => {
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val base = Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
    val lagged = (1 until EwmaK).foldLeft(base) { (df, i) =>
      df.withColumn(s"l$i", lag($"v_mu", i).over(w))
    }
    val terms = (0 until EwmaK).map { i =>
      val weight = 1L << (EwmaK - 1 - i)
      val v = if (i == 0) "v_mu" else s"l$i"
      (s"CASE WHEN $v IS NULL THEN 0 ELSE $v * ${weight}L END",
        s"CASE WHEN $v IS NULL THEN 0 ELSE ${weight}L END")
    }
    lagged
      .withColumn("ewma_mu", expr(
        s"(${terms.map(_._1).mkString(" + ")}) DIV " +
          s"(${terms.map(_._2).mkString(" + ")})"))
      .select($"user_id", $"event_id", $"v_mu", $"ewma_mu")
      .orderBy($"user_id", $"event_id")
  }

  /** Df cap for [[graphJaccard]] candidate generation: a part
    * supplied by F suppliers contributes C(F,2) pair rows, so one
    * ubiquitous "boilerplate" part would make the self-join quadratic
    * at 100 TB. Capping mirrors [[DedupOps.NearMaxShingleDf]]: a
    * dropped part only lowers the computed intersection (the oracle
    * applies the identical cap). 5× the supplier count at sf0.1, so
    * test-scale results are unchanged. */
  val JaccardMaxPartDf = 5000

  /** Neighbor-set Jaccard between suppliers in the supplier↔part
    * bipartite graph induced by lineitem — the common-neighbors /
    * link-prediction primitive (two suppliers are similar when they
    * supply the same parts). Same sub-quadratic posting-list shape as
    * the shingle dedups: distinct edges → self-equi-join on part →
    * per-pair intersection count → degree join → exact integer
    * Jaccard `inter·10⁴ DIV (na + nb − inter)`. Candidates are
    * generated ONLY for pairs sharing ≥1 part (all others have
    * Jaccard 0), and hot parts are df-capped, so the join never goes
    * all-pairs. Top-20 by (jacc_bp, sa, sb) — a total order, so LIMIT
    * is deterministic. */
  val graphJaccard: Q = (s, d) => {
    val edges = Tables.lineitem(s, d)
      .select($"l_suppkey".as("sk"), $"l_partkey".as("p"))
      .distinct()
      .transform(Checkpoints.cut) // 4 consumers (deg, hot, both join sides):
                         // dedup the scan+shuffle once, not per use
    val deg = edges.groupBy($"sk").agg(count(lit(1)).as("n"))
    val hot = edges.groupBy($"p").agg(count(lit(1)).as("df"))
      .filter($"df" > JaccardMaxPartDf).select($"p")
    // hot list unhinted: its cardinality is |edges|/cap — small by
    // construction but still data-proportional, so AQE decides (the
    // same doctrine as dedupNearCapped's shared-shingle join)
    // r19: cut — the self-join below consumes kept TWICE, and self-join
    // aliasing defeats exchange reuse, so without the cut the hot-part
    // aggregate and the anti-join each ran twice per execution
    // (measured 2.59 s → 2.27 s steady at sf0.1; rows identical). Same
    // doctrine as dedupNearCapped's kept cut.
    val kept = Checkpoints.cut(edges.join(hot, Seq("p"), "left_anti"))
    kept.as("a").join(kept.as("b"),
        col("a.p") === col("b.p") && col("a.sk") < col("b.sk"))
      .groupBy(col("a.sk").as("sa"), col("b.sk").as("sb"))
      .agg(count(lit(1)).as("inter"))
      .join(deg.select($"sk".as("sa"), $"n".as("na")), "sa")
      .join(deg.select($"sk".as("sb"), $"n".as("nb")), "sb")
      .withColumn("jacc_bp",
        expr("(inter * 10000) DIV (na + nb - inter)"))
      .select($"sa", $"sb", $"inter", $"jacc_bp")
      .orderBy($"jacc_bp".desc, $"sa", $"sb")
      .limit(20)
  }

  /** Peak-preserving hourly downsample of the event stream: per hour
    * bucket keep the single most anomalous sample — argmax of
    * |v·n − Σv| (the deviation-from-mean scaled by the bucket count
    * `n`, which keeps the comparison in exact BIGINT instead of
    * dividing to a float mean). Ties break to the smallest event_id.
    * The LTTB-style visual downsample a telemetry pipeline runs
    * before plotting/archiving, minus LTTB's sequential
    * previous-point dependence — this variant is one window pass, so
    * it parallelizes by bucket at any scale.
    *
    * The n-scaled deviation PRODUCT runs in DECIMAL(38,0) (HUGEINT
    * oracle): a BIGINT `v_mu·n` wraps once a bucket holds ~9e12
    * µ-unit-rows — inside a 100 TB stream's hot hours — and a silent
    * legacy wrap would pick the WRONG survivor per bucket; the
    * decimal product keeps the argmax comparison exact to 1e38. The
    * count/sum WINDOWS stay BIGINT (decimal window accumulators
    * measured 2× the whole-query cost; a BIGINT bucket sum holds to
    * ~9e12 µ-unit-rows and fails loudly under ANSI past it), and only
    * the reported `dev` magnitude is cast back at output (loud under
    * ANSI if a bucket's deviation itself outgrows 9.2e18 — at that
    * point the stream should bucket finer, as any per-bucket global
    * statistic must).
    *
    * ONE shuffle: count/sum/max windows and the final argmax
    * aggregate all cluster by bucket_us. */
  val tsDownsample: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val w = Window.partitionBy($"bucket_us")
    Tables.events(s, d)
      .select($"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
      .withColumn("bucket_us",
        expr("ts_us DIV 3600000000 * 3600000000"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sum_mu", sum($"v_mu").over(w))
      .withColumn("dev",
        abs($"v_mu".cast(dec) * $"n" - $"sum_mu".cast(dec)))
      .withColumn("maxd", max($"dev").over(w))
      .filter($"dev" === $"maxd")
      .groupBy($"bucket_us")
      .agg(min($"event_id").as("event_id"),
        min_by($"v_mu", $"event_id").as("v_mu"),
        max($"dev").cast("long").as("dev"),
        max($"n").as("n_in_bucket"))
      .orderBy($"bucket_us")
  }

  /** Per-source language-diversity profile of the corpus — the
    * mixture designer's "is this source monolingual?" check. Reports
    * exact integer diversity measures: Gini–Simpson index
    * `(N² − Σc²)·10⁶ DIV N²` (probability two random docs differ in
    * language) and the effective number of languages `N²·10⁴ DIV Σc²`
    * (inverse Simpson — 1.0 when monolingual, k when k langs are
    * uniform). Shannon entropy is deliberately NOT emitted: libm `ln`
    * is not correctly rounded, so floor-scaling it is a cross-engine
    * half-ulp hazard, while these forms are closed under integer
    * arithmetic. The quadratic count terms run in DECIMAL(38,0)
    * (HUGEINT oracle): a BIGINT `c·c` overflows past ~3e9 docs per
    * (source, lang) and `n_docs²·10⁶` past a mere ~3e6 docs per
    * source — certain inside a 100 TB corpus — throwing under ANSI
    * mode or silently corrupting both indices under legacy wrap;
    * decimal keeps the identical values exact to ~1e16 docs/source
    * (the tsAcf discipline). Two map-side-combined hash aggregates on
    * keys that nest ((source, lang) → source), so the second is
    * shuffle-free under the first's partitioning. */
  /** The decimal index spellings over (n_docs, ss) — shared with the
    * spec's past-BIGINT-range canary so the canary exercises the
    * exact production expressions. */
  private[graft] val SimpsonE6Expr =
    "CAST((CAST(n_docs AS DECIMAL(38,0)) * n_docs - ss) * 1000000" +
      " DIV (CAST(n_docs AS DECIMAL(38,0)) * n_docs) AS BIGINT)"
  private[graft] val EffLangsE4Expr =
    "CAST(CAST(n_docs AS DECIMAL(38,0)) * n_docs * 10000 DIV ss" +
      " AS BIGINT)"

  val aggDiversity: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("c"))
      .groupBy($"source")
      .agg(sum($"c").as("n_docs"),
        count(lit(1)).as("n_langs"),
        sum($"c".cast(org.apache.spark.sql.types.DecimalType(38, 0))
          * $"c").as("ss"))
      .withColumn("simpson_e6", expr(SimpsonE6Expr))
      .withColumn("eff_langs_e4", expr(EffLangsE4Expr))
      .select($"source", $"n_docs", $"n_langs", $"simpson_e6",
        $"eff_langs_e4")
      .orderBy($"source")

  /** Rolling least-squares slope over the trailing [[EwmaK]] samples
    * per user, in EXACT integer arithmetic: x = position within the
    * frame (oldest available = 0), y = value milli-units, and
    * `slope_e6 = (mΣxy − ΣxΣy)·10⁶ DIV (mΣx² − (Σx)²)` — the local
    * trend detector beside [[winEwma]]'s level. Within a user
    * partition lag i is null iff the row has fewer than i
    * predecessors, so the available lags are always the contiguous
    * suffix 0..m−1 and the closed-form power sums over 0..m−1 apply.
    * Rows with m < 2 emit 0 (a single point has no slope). Same ONE
    * user-hash exchange as the EWMA — the window frame is the whole
    * scale story (a true expanding regression is a sequential scan).
    * Both engines truncate integral division toward zero, negative
    * slopes included (agg_linreg's validated discipline). */
  val winSlope: Q = (s, d) => {
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val base = Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
    val lagged = (1 until EwmaK).foldLeft(base) { (df, i) =>
      df.withColumn(s"l$i", lag($"v_mu", i).over(w))
    }
    def term(i: Int): String = if (i == 0) "v_mu" else s"l$i"
    val m = (0 until EwmaK)
      .map(i => s"CASE WHEN ${term(i)} IS NULL THEN 0 ELSE 1 END")
      .mkString(" + ")
    val sy = (0 until EwmaK)
      .map(i => s"coalesce(${term(i)}, 0L)").mkString(" + ")
    // x of lag i = m - 1 - i (newest sample sits at the frame's end)
    val sxy = (0 until EwmaK)
      .map(i => s"CASE WHEN ${term(i)} IS NULL THEN 0L " +
        s"ELSE (m - 1 - $i) * ${term(i)} END").mkString(" + ")
    lagged
      .withColumn("m", expr(s"CAST(($m) AS BIGINT)"))
      .withColumn("sy", expr(s"CAST(($sy) AS BIGINT)"))
      .withColumn("sxy", expr(s"CAST(($sxy) AS BIGINT)"))
      .withColumn("sx", expr("m * (m - 1) DIV 2"))
      .withColumn("sxx", expr("(m - 1) * m * (2 * m - 1) DIV 6"))
      .withColumn("slope_e6", expr(
        "CASE WHEN m < 2 THEN 0L ELSE " +
          "(m * sxy - sx * sy) * 1000000 DIV (m * sxx - sx * sx) END"))
      .select($"user_id", $"event_id", $"v_mu", $"slope_e6")
      .orderBy($"user_id", $"event_id")
  }

  /** CUSUM changepoint detection per user, in EXACT integers: the
    * classic cumulative-sum statistic `S_t = Σ_{i≤t}(vᵢ − mean)`
    * scaled by n — `n·S_t = n·cumsum_t − t·Σv` — so the argmax |S|
    * comparison never touches a float mean (the same
    * multiply-through-by-n trick as [[tsDownsample]]). The emitted
    * row per user is where the series' level most plausibly shifted
    * (the telemetry/drift alarm primitive); position also reported as
    * basis points through the series. Ties break to the smallest
    * event_id. The n-scaled PRODUCT runs in DECIMAL(38,0) (HUGEINT
    * oracle): a BIGINT `n·cums` wraps once a user's series passes
    * ~3e6 µ-unit-rows — routine inside a 100 TB stream — and a silent
    * legacy wrap would alarm on the WRONG row; the decimal product
    * keeps the argmax comparison exact to 1e38. The running/total sum
    * WINDOWS stay BIGINT (decimal window accumulators measured 2× the
    * whole-query cost; a BIGINT series sum holds to ~9e12 µ-unit-rows
    * and fails loudly under ANSI past it), and only the reported
    * `dev_max` magnitude is cast back to BIGINT at output (loud under
    * ANSI past 9.2e18 — at that scale the series is downsampled
    * first, as any per-key global statistic must be). ONE user-hash
    * exchange: ordered running sum, unordered totals, and the final
    * argmax aggregate all cluster on user_id. */
  val tsChangepoint: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wAll = Window.partitionBy($"user_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
      .withColumn("cums", sum($"v_mu").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("t", row_number().over(wOrd).cast("long"))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sy", sum($"v_mu").over(wAll))
      .withColumn("dev",
        abs($"n" * $"cums".cast(dec) - $"t" * $"sy".cast(dec)))
      .withColumn("maxd", max($"dev").over(wAll))
      .filter($"dev" === $"maxd")
      .groupBy($"user_id")
      .agg(min($"event_id").as("cp_event_id"),
        min_by($"t", $"event_id").as("tSel"),
        max($"n").as("nAll"),
        max($"dev").cast("long").as("dev_max"))
      .select($"user_id", $"cp_event_id",
        expr("tSel * 10000 DIV nAll").as("cp_pos_bp"), $"dev_max")
      .orderBy($"user_id")
  }

  /** Per-event running drawdown (peak-to-current drop) per user, all
    * BIGINT: running max of the milli-value minus the current value —
    * the resource-leak / regression-watch signal over any metric
    * series. One ordered window over the user hash, map-local after
    * the single exchange. */
  val winDrawdown: Q = (s, d) => {
    val wOrd = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
      .withColumn("peak_mu", max($"v_mu").over(wOrd))
      .withColumn("dd_mu", $"peak_mu" - $"v_mu")
      .select($"user_id", $"event_id", $"v_mu", $"peak_mu", $"dd_mu")
      .orderBy($"user_id", $"event_id")
  }

  /** Epoch cap for [[mixEpochs]] (the "max repeats" knob — past ~4
    * epochs of a small source, repetition hurts more than balance
    * helps, per the data-constrained scaling literature). */
  val MaxEpochs = 10L

  /** Uniform-mixing epoch schedule: how many times to repeat each
    * language's corpus so every language contributes (close to) the
    * LARGEST language's token count — `epochs = ceil(maxT / T)`
    * capped at [[MaxEpochs]], plus the effective post-repeat token
    * count. The repeat-factor twin of `mix_weights`' downsampling
    * (upsample small sources instead of downsampling big ones);
    * ceil spelled `(maxT + T − 1) DIV T`, all BIGINT, no floats
    * anywhere. Tiny aggregate (one row per language) with the max
    * joined back as a 1-row broadcast. */
  val mixEpochs: Q = (s, d) => {
    import graft.engine.ops.TextFeatures.tokens
    val per = Tables.documents(s, d)
      .repartition($"doc_id")
      .groupBy($"lang")
      .agg(sum(TextFeatures.tokenCount($"text").cast("long")).as("tokens"))
    val maxT = per.agg(max($"tokens").as("max_t"))
    per.join(broadcast(maxT))
      .withColumn("epochs",
        expr(s"least((max_t + tokens - 1) DIV tokens, $MaxEpochs)"))
      .withColumn("effective_tokens", $"epochs" * $"tokens")
      .select($"lang", $"tokens", $"epochs", $"effective_tokens")
      .orderBy($"lang")
  }

  /** EXACT stratified 80/10/10 split: within each source, docs rank
    * by (Knuth-hash, doc_id) and the first ⌊0.8n⌋ go to train, the
    * next ⌊0.1n⌋ to valid, the rest to test — per-stratum counts are
    * exact by construction, where the global-hash split
    * (`data_split`) only approximates proportions within small
    * strata. The cost of exactness is one rank window per source
    * (`data_split` is map-only) — the classic trade; both are
    * deterministic under repartitioning. One source-hash exchange. */
  val dataSplitStratified: Q = (s, d) => {
    val wSrc = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"h", $"doc_id")
    val wN = org.apache.spark.sql.expressions.Window.partitionBy($"source")
    Tables.documents(s, d)
      .select($"doc_id", $"source",
        // doc_id wraps mod 2^31 BEFORE the Knuth multiply so the
        // product tops out at (2^31-1)*2654435761 < 2^63: the raw
        // product overflows int64 for doc_id >~ 3.5e9, where Spark
        // (non-ANSI) silently wraps negative while DuckDB raises —
        // a cross-engine divergence at 100 TB id ranges.
        expr("((doc_id % 2147483648) * 2654435761) % 4294967296").as("h"))
      .withColumn("rk", row_number().over(wSrc).cast("long"))
      .withColumn("n", count(lit(1)).over(wN))
      .withColumn("split",
        when($"rk" <= expr("n * 8 DIV 10"), "train")
          .when($"rk" <= expr("n * 8 DIV 10 + n DIV 10"), "valid")
          .otherwise("test"))
      .select($"doc_id", $"source", $"split")
      .orderBy($"doc_id")
  }

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)

  /** TPC-H Q6 shape (forecast revenue change): one predicate-heavy
    * scan + a single global decimal sum — the canonical
    * filter-pushdown benchmark. All three predicates push into the
    * parquet reader (`PushedFilters`), the projection prunes to 4
    * columns, and the map-side partial sum leaves one decimal per
    * partition for the final exchange. Money follows the validated
    * discipline: DOUBLE → DECIMAL(18,2) per term, exact decimal
    * multiply/sum, cast to DOUBLE only at presentation. */
  val aggTpchQ6: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1996-01-01")
        && $"l_shipdate" < lit("1997-01-01")
        && $"l_discount" >= 0.05 && $"l_discount" <= 0.07
        && $"l_quantity" < 24)
      .agg(sum($"l_extendedprice".cast(Dec) * $"l_discount".cast(Dec))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_rows"))

  /** TPC-H Q3 shape (shipping priority): segment-filtered customers ⋈
    * date-bounded orders ⋈ late-shipping lineitem, revenue per order,
    * top 10. The fact-chain joins shuffle on the key chain
    * (custkey → orderkey) exactly like [[Relational6.joinStar]]; the
    * revenue sort key is the EXACT decimal (cast to double only for
    * presentation), with l_orderkey as tiebreak, so the LIMIT is a
    * total order and TakeOrdered replaces a global sort. */
  val joinTpchQ3: Q = (s, d) => {
    val rev = $"l_extendedprice".cast(Dec) *
      (lit(1).cast(Dec) - $"l_discount".cast(Dec))
    Tables.customer(s, d)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
      .join(Tables.orders(s, d)
          .filter($"o_orderdate" < lit("1998-07-01"))
          .select($"o_orderkey", $"o_custkey", $"o_orderdate"),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, d)
          .filter($"l_shipdate" > lit("1998-07-01"))
          .select($"l_orderkey", $"l_extendedprice", $"l_discount"),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey",
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("order_us"))
      .agg(sum(rev).as("rev_dec"))
      .orderBy($"rev_dec".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"order_us",
        $"rev_dec".cast("double").as("revenue"))
  }

  /** Minimum total quantity for [[joinTpchQ18]]'s large orders. */
  val Q18MinQty = 150L

  /** TPC-H Q18 shape (large-volume customers): orders whose total
    * quantity exceeds [[Q18MinQty]], joined back to orders+customer,
    * top 100 by quantity. The HAVING aggregate runs FIRST on the
    * narrow (orderkey, quantity) projection — at 100 TB the filter
    * discards ~99% of orders before any wide row is assembled, which
    * is the whole point of the shape. l_quantity is integral (1..50
    * doubles), so the sum is order-invariant-exact in IEEE and the
    * BIGINT cast is safe cross-engine. */
  val joinTpchQ18: Q = (s, d) =>
    Tables.lineitem(s, d)
      .groupBy($"l_orderkey")
      .agg(sum($"l_quantity").cast("long").as("total_qty"))
      .filter($"total_qty" > Q18MinQty)
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey",
        expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))").as("order_us")),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d).select($"c_custkey", $"c_name"),
        $"o_custkey" === $"c_custkey")
      .select($"c_name", $"c_custkey", $"l_orderkey", $"order_us",
        $"total_qty")
      .orderBy($"total_qty".desc, $"l_orderkey")
      .limit(100)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("win_ewma", winEwma, Some {
      val lags = (1 until EwmaK)
        .map(i => s"lag(v_mu, $i) OVER w AS l$i").mkString(",\n        |    ")
      val num = (0 until EwmaK).map { i =>
        val weight = 1L << (EwmaK - 1 - i)
        val v = if (i == 0) "v_mu" else s"l$i"
        s"CASE WHEN $v IS NULL THEN 0 ELSE $v * $weight END"
      }.mkString(" + ")
      val den = (0 until EwmaK).map { i =>
        val weight = 1L << (EwmaK - 1 - i)
        val v = if (i == 0) "v_mu" else s"l$i"
        s"CASE WHEN $v IS NULL THEN 0 ELSE $weight END"
      }.mkString(" + ")
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | l AS (
        |  SELECT user_id, event_id, v_mu,
        |    $lags
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))
        |SELECT user_id, event_id, v_mu,
        |  CAST(($num) // ($den) AS BIGINT) AS ewma_mu
        |FROM l ORDER BY user_id, event_id""".stripMargin
    }),

    QueryDef("win_slope", winSlope, Some {
      val lags = (1 until EwmaK)
        .map(i => s"lag(v_mu, $i) OVER w AS l$i").mkString(",\n        |    ")
      def term(i: Int): String = if (i == 0) "v_mu" else s"l$i"
      val m = (0 until EwmaK)
        .map(i => s"CASE WHEN ${term(i)} IS NULL THEN 0 ELSE 1 END")
        .mkString(" + ")
      val sy = (0 until EwmaK)
        .map(i => s"COALESCE(${term(i)}, 0)").mkString(" + ")
      val sxy = (0 until EwmaK)
        .map(i => s"CASE WHEN ${term(i)} IS NULL THEN 0 " +
          s"ELSE (m - 1 - $i) * ${term(i)} END").mkString(" + ")
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | l AS (
        |  SELECT user_id, event_id, v_mu,
        |    $lags
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        | t AS (
        |  SELECT user_id, event_id,
        |    CAST($m AS BIGINT) AS m,
        |    CAST($sy AS BIGINT) AS sy
        |  FROM l),
        | t2 AS (
        |  SELECT l.user_id, l.event_id, l.v_mu, t.m, t.sy,
        |    CAST($sxy AS BIGINT) AS sxy,
        |    t.m * (t.m - 1) // 2 AS sx,
        |    (t.m - 1) * t.m * (2 * t.m - 1) // 6 AS sxx
        |  FROM l JOIN t ON l.user_id = t.user_id AND l.event_id = t.event_id)
        |SELECT user_id, event_id, v_mu,
        |  CAST(CASE WHEN m < 2 THEN 0 ELSE
        |    (m * sxy - sx * sy) * 1000000 // (m * sxx - sx * sx) END
        |    AS BIGINT) AS slope_e6
        |FROM t2 ORDER BY user_id, event_id""".stripMargin
    }),

    QueryDef("graph_jaccard", graphJaccard, Some(
      s"""WITH edges AS (
        |  SELECT DISTINCT l_suppkey AS sk, l_partkey AS p FROM lineitem),
        | deg AS (SELECT sk, count(1) AS n FROM edges GROUP BY sk),
        | hot AS (SELECT p FROM edges GROUP BY p
        |         HAVING count(1) > $JaccardMaxPartDf),
        | kept AS (SELECT * FROM edges WHERE p NOT IN (SELECT p FROM hot)),
        | pairs AS (
        |  SELECT a.sk AS sa, b.sk AS sb, count(1) AS inter
        |  FROM kept a JOIN kept b ON a.p = b.p AND a.sk < b.sk
        |  GROUP BY a.sk, b.sk)
        |SELECT sa, sb, CAST(inter AS BIGINT) AS inter,
        |  CAST(inter * 10000 // (da.n + db.n - inter) AS BIGINT) AS jacc_bp
        |FROM pairs JOIN deg da ON da.sk = sa JOIN deg db ON db.sk = sb
        |ORDER BY jacc_bp DESC, sa, sb LIMIT 20""".stripMargin)),

    QueryDef("ts_downsample", tsDownsample, Some(
      """WITH e AS (
        |  SELECT event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | b AS (
        |  SELECT event_id, v_mu,
        |    ts_us // 3600000000 * 3600000000 AS bucket_us
        |  FROM e),
        | scored AS (
        |  SELECT event_id, v_mu, bucket_us,
        |    count(1) OVER w AS n,
        |    sum(v_mu) OVER w AS sum_mu
        |  FROM b WINDOW w AS (PARTITION BY bucket_us)),
        | dev AS (
        |  SELECT event_id, v_mu, bucket_us, n,
        |    abs(CAST(v_mu AS HUGEINT) * n - CAST(sum_mu AS HUGEINT)) AS dev,
        |    max(abs(CAST(v_mu AS HUGEINT) * n - CAST(sum_mu AS HUGEINT)))
        |      OVER (PARTITION BY bucket_us) AS maxd
        |  FROM scored)
        |SELECT bucket_us,
        |  CAST(min(event_id) AS BIGINT) AS event_id,
        |  arg_min(v_mu, event_id) AS v_mu,
        |  CAST(max(dev) AS BIGINT) AS dev,
        |  CAST(max(n) AS BIGINT) AS n_in_bucket
        |FROM dev WHERE dev = maxd
        |GROUP BY bucket_us ORDER BY bucket_us""".stripMargin)),

    QueryDef("agg_diversity", aggDiversity, Some(
      """WITH per AS (
        |  SELECT source, lang, count(1) AS c
        |  FROM documents GROUP BY source, lang),
        | agg AS (
        |  SELECT source,
        |    CAST(sum(c) AS BIGINT) AS n_docs,
        |    CAST(count(1) AS BIGINT) AS n_langs,
        |    sum(CAST(c AS HUGEINT) * c) AS ss
        |  FROM per GROUP BY source)
        |SELECT source, n_docs, n_langs,
        |  CAST((CAST(n_docs AS HUGEINT) * n_docs - ss) * 1000000
        |    // (CAST(n_docs AS HUGEINT) * n_docs) AS BIGINT) AS simpson_e6,
        |  CAST(CAST(n_docs AS HUGEINT) * n_docs * 10000 // ss AS BIGINT)
        |    AS eff_langs_e4
        |FROM agg ORDER BY source""".stripMargin)),

    QueryDef("mix_epochs", mixEpochs, Some(
      s"""WITH per AS (
        |  SELECT lang,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+')))
        |      AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang),
        | mx AS (SELECT max(tokens) AS max_t FROM per)
        |SELECT lang, tokens,
        |  CAST(least((max_t + tokens - 1) // tokens, $MaxEpochs) AS BIGINT)
        |    AS epochs,
        |  CAST(least((max_t + tokens - 1) // tokens, $MaxEpochs) * tokens
        |    AS BIGINT) AS effective_tokens
        |FROM per, mx ORDER BY lang""".stripMargin)),

    QueryDef("data_split_stratified", dataSplitStratified, Some(
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ((doc_id % 2147483648) * 2654435761) % 4294967296 AS h
        |  FROM documents),
        | r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
        |    count(1) OVER (PARTITION BY source) AS n
        |  FROM h)
        |SELECT doc_id, source,
        |  CASE WHEN rk <= n * 8 // 10 THEN 'train'
        |       WHEN rk <= n * 8 // 10 + n // 10 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM r ORDER BY doc_id""".stripMargin)),

    QueryDef("ts_changepoint", tsChangepoint, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | st AS (
        |  SELECT user_id, event_id,
        |    sum(v_mu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS cums,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id) AS BIGINT) AS t,
        |    count(1) OVER (PARTITION BY user_id) AS n,
        |    sum(v_mu) OVER (PARTITION BY user_id) AS sy
        |  FROM e),
        | dev AS (
        |  SELECT user_id, event_id, t, n,
        |    abs(n * CAST(cums AS HUGEINT) - t * CAST(sy AS HUGEINT)) AS dev,
        |    max(abs(n * CAST(cums AS HUGEINT) - t * CAST(sy AS HUGEINT)))
        |      OVER (PARTITION BY user_id) AS maxd
        |  FROM st)
        |SELECT user_id,
        |  CAST(min(event_id) AS BIGINT) AS cp_event_id,
        |  CAST(arg_min(t, event_id) * 10000 // max(n) AS BIGINT) AS cp_pos_bp,
        |  CAST(max(dev) AS BIGINT) AS dev_max
        |FROM dev WHERE dev = maxd
        |GROUP BY user_id ORDER BY user_id""".stripMargin)),

    QueryDef("win_drawdown", winDrawdown, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events)
        |SELECT user_id, event_id, v_mu,
        |  max(v_mu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS peak_mu,
        |  max(v_mu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |    ROWS UNBOUNDED PRECEDING) - v_mu AS dd_mu
        |FROM e ORDER BY user_id, event_id""".stripMargin)),

    QueryDef("agg_tpch_q6", aggTpchQ6, Some(
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(1) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin)),

    QueryDef("join_tpch_q3", joinTpchQ3, Some(
      """WITH g AS (
        |  SELECT l_orderkey, epoch_us(o_orderdate) AS order_us,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |      * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      AS rev_dec
        |  FROM customer
        |  JOIN orders ON c_custkey = o_custkey
        |  JOIN lineitem ON o_orderkey = l_orderkey
        |  WHERE c_mktsegment = 'BUILDING'
        |    AND o_orderdate < TIMESTAMP '1998-07-01'
        |    AND l_shipdate > TIMESTAMP '1998-07-01'
        |  GROUP BY l_orderkey, epoch_us(o_orderdate)
        |  ORDER BY rev_dec DESC, l_orderkey LIMIT 10)
        |SELECT l_orderkey, order_us, CAST(rev_dec AS DOUBLE) AS revenue
        |FROM g""".stripMargin)),

    QueryDef("join_tpch_q18", joinTpchQ18, Some(
      s"""WITH big AS (
        |  SELECT l_orderkey, CAST(SUM(l_quantity) AS BIGINT) AS total_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(l_quantity) > $Q18MinQty)
        |SELECT c_name, c_custkey, l_orderkey,
        |  epoch_us(o_orderdate) AS order_us, total_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, l_orderkey LIMIT 100""".stripMargin)),
  )
}
