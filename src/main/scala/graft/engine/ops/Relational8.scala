package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Eighth relational batch (round 5): two more canonical TPC-H query
  * shapes — Q14 (promo revenue share: the broadcast-dimension CASE
  * aggregation) and Q10 (returned-item customer revenue: the
  * aggregate-then-enrich top-N).
  *
  * Money discipline as validated in [[Relational7]]: DOUBLE →
  * DECIMAL(18,2) per term, exact decimal multiply, then ×10⁴ →
  * BIGINT so every sum is an order-invariant integer sum (bit-equal
  * across Spark and DuckDB regardless of partitioning). Ratios are
  * floor-scaled integers computed in DECIMAL(38,0)/HUGEINT so they
  * cannot overflow at any scale factor (SURVEY §7.3f2 — never
  * `round()` on a computed double in a hash-gated column).
  */
object Relational8 {
  type Q = (SparkSession, String) => DataFrame

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)

  /** Exact revenue `extendedprice·(1−discount)` in 10⁻⁴ currency
    * units: DECIMAL(18,2)·DECIMAL(18,2) has scale 4, so ×10⁴ is an
    * integral decimal and the BIGINT cast is exact (truncation and
    * round-half-up agree on integral values — cross-engine safe). */
  private def revE4 = ($"l_extendedprice".cast(Dec) *
    (lit(1).cast(Dec) - $"l_discount".cast(Dec)) * 10000).cast("long")

  /** TPC-H Q14 shape (promotion effect): one quarter of lineitem ⋈
    * part, revenue split by whether the part is a PROMO type, share
    * reported as floor(promo/total·10⁶).
    *
    * Scale story: the date filter pushes into the parquet scan; part
    * is a dimension (|part| ≪ |lineitem| at every SF) so the join is
    * an explicit broadcast — zero shuffle of the fact side; the CASE
    * aggregation is map-side-combined to one row per partition. The
    * share divides the two BIGINT sums in DECIMAL(38,0) (HUGEINT in
    * the oracle), so promo_e4·10⁶ cannot overflow even at 100 TB
    * where total_e4 ~ 10¹⁸. */
  val aggTpchQ14: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1997-01-01")
        && $"l_shipdate" < lit("1997-04-01"))
      .select($"l_partkey", revE4.as("rev_e4"))
      // no broadcast hint on part: it grows with SF (2·10⁸ rows/TB —
      // a forced broadcast is a driver OOM at corpus scale), while at
      // any size where it IS small, file-size estimation + AQE
      // broadcast it unhinted. Hints stay reserved for frames whose
      // cardinality is BOUNDED (region/nation, top-k, 1-row totals).
      .join(Tables.part(s, d).select($"p_partkey", $"p_type"),
        $"l_partkey" === $"p_partkey")
      .agg(
        sum(when($"p_type" === "PROMO", $"rev_e4").otherwise(0L))
          .cast("long").as("promo_e4"),
        sum($"rev_e4").cast("long").as("total_e4"),
        count(lit(1)).as("n_rows"))
      .withColumn("promo_share_e6", expr(
        "CAST((CAST(promo_e4 AS DECIMAL(38,0)) * 1000000) DIV " +
          "CAST(total_e4 AS DECIMAL(38,0)) AS BIGINT)"))

  /** TPC-H Q10 shape (returned-item reporting): revenue of RETURNED
    * lineitems per customer for one order quarter, enriched with
    * customer + nation, top 20.
    *
    * Scale story: aggregate FIRST on the narrow (custkey, rev_e4)
    * pair — the fact-side shuffle carries 16 bytes/row and collapses
    * to ≤|customer| rows before any wide customer row is assembled;
    * the customer join then shuffles only the aggregated frame, and
    * nation is broadcast. The top-20 sorts on the exact integer
    * revenue with custkey as tiebreak, so the LIMIT is a total order
    * and Spark plans TakeOrdered instead of a global sort. */
  val joinTpchQ10: Q = (s, d) =>
    Tables.lineitem(s, d)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", revE4.as("rev_e4"))
      .join(Tables.orders(s, d)
          .filter($"o_orderdate" >= lit("1997-01-01")
            && $"o_orderdate" < lit("1997-04-01"))
          .select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(sum($"rev_e4").cast("long").as("rev_e4"))
      .join(Tables.customer(s, d)
          .select($"c_custkey", $"c_name", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)
          .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name", $"rev_e4")
      .orderBy($"rev_e4".desc, $"c_custkey")
      .limit(20)

  /** Rolling-median frame: 6 preceding rows + current. */
  val MedianK = 7

  /** Exact rolling median of `events.value` (milli-units) over the
    * last [[MedianK]] samples per user — the robust-smoothing twin of
    * [[Relational7.winEwma]] (a median ignores the spike a mean
    * chases). The lower median `sorted[(n+1) div 2]` keeps the result
    * an actual sample value, so the whole computation stays in BIGINT
    * — no cross-engine float hazard an averaged even-count median
    * would introduce.
    *
    * Scale story: the bounded ROWS frame means ONE exchange on
    * user_id + one per-partition sort; each row then sorts k=7
    * elements (O(k log k) per row, constant memory) — at 100 TB this
    * is embarrassingly parallel, unlike a true percentile window
    * (unbounded frame) which would buffer whole partitions. */
  val winRollingMedian: Q = (s, d) => {
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-(MedianK - 1), 0)
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
      .withColumn("arr", collect_list($"v_mu").over(w))
      .select($"user_id", $"event_id", $"v_mu",
        expr("element_at(sort_array(arr), CAST((size(arr) + 1) DIV 2 AS INT))")
          .as("med_mu"))
      .orderBy($"user_id", $"event_id")
  }

  /** Hour-of-day seasonal profile + residual: mean value per
    * (event_type, hour-of-day) as an integer DIV, joined back so each
    * event carries its seasonal expectation and the de-seasonalized
    * residual — the decomposition step every time-series anomaly
    * pipeline runs before thresholding ([[Relational5]]'s ts_anomaly
    * flags z-scores; this removes the diurnal cycle first).
    *
    * Scale story: the profile aggregate is map-side-combined down to
    * |types|·24 rows — broadcast back, so the fact side never
    * shuffles (hour is pure integer arithmetic on epoch-µs; no
    * timezone/calendar dependence to diverge cross-engine). */
  val tsSeasonal: Q = (s, d) => {
    val base = Tables.events(s, d)
      .select($"event_id", $"event_type",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
      .withColumn("hr", expr("ts_us DIV 3600000000 % 24"))
    val prof = base.groupBy($"event_type", $"hr")
      .agg(sum($"v_mu").as("s_mu"), count(lit(1)).as("n"))
      .select($"event_type", $"hr", expr("s_mu DIV n").as("seas_mu"))
    base.join(broadcast(prof), Seq("event_type", "hr"))
      .select($"event_id", $"event_type", $"hr", $"v_mu", $"seas_mu",
        ($"v_mu" - $"seas_mu").as("resid_mu"))
      .orderBy($"event_id")
  }

  /** A bigram must occur this often in the reference subcorpus to
    * count as "in-model" for [[textLmBigram]]. 10 sits at the knee
    * for the synthetic corpus (whose ~30-word shared vocabulary
    * saturates the bigram space: at 3 every language scores ~1.0, at
    * 20 almost nothing survives); real corpora separate at far lower
    * thresholds because vocabularies don't overlap. */
  val LmMinRefCount = 10

  /** Count-based bigram LM scoring (the KenLM-perplexity-filter
    * analog in exact integer form): induce a reference bigram set
    * from the ENGLISH documents (occurrence count ≥
    * [[LmMinRefCount]]), then score EVERY document by the fraction
    * of its bigram occurrences the reference contains. Text that
    * resembles the reference distribution scores high (on the
    * synthetic corpus the en docs self-train to a measurable ~7%
    * advantage; on a real corpus the gap is categorical) — the
    * train-on-clean / apply-to-all asymmetry that distinguishes this
    * from [[Relational6.tokVocabCoverage]]'s self-referential
    * unigram coverage.
    *
    * Scale story: bigram counting is map-side-combined; the
    * score-side probe is a bigram-keyed equi-join (NOT a broadcast —
    * a 100 TB corpus's reference bigram table is itself huge), where
    * hot bigrams ("of the") are exactly the AQE-skew-split case; the
    * per-doc roll-up shuffles only (doc_id, matched) pairs. Docs
    * with < 2 tokens survive via explode_outer and score −1. */
  val textLmBigram: Q = (s, d) => {
    val bigramsSql = "CASE WHEN size(toks) >= 2 THEN transform(" +
      "sequence(1, size(toks) - 1), i -> concat(element_at(toks, i), ' ', " +
      "element_at(toks, i + 1))) ELSE array() END"
    val bg = Tables.documents(s, d)
      .select($"doc_id", $"lang", TextFeatures.tokens($"text").as("toks"))
      .select($"doc_id", $"lang", explode_outer(expr(bigramsSql)).as("bg"))
    val ref = bg.filter($"lang" === "en" && $"bg".isNotNull)
      .groupBy($"bg").agg(count(lit(1)).as("n"))
      .filter($"n" >= LmMinRefCount)
      .select($"bg", lit(1L).as("in_ref"))
    bg.join(ref, Seq("bg"), "left")
      .groupBy($"doc_id")
      .agg(count($"bg").as("n_bigrams"),
        count($"in_ref").as("n_seen"))
      .withColumn("score_e4", expr(
        "CASE WHEN n_bigrams = 0 THEN -1 " +
          "ELSE (n_seen * 10000) DIV n_bigrams END"))
      .orderBy($"doc_id")
  }

  /** Minimum in-core degree for [[graphKcore]]. 12 cascades over 4
    * peel rounds on the sf0.01 co-occurrence graph (lower K converges
    * in 2 — no cascade to exercise). */
  val KCoreK = 12

  /** Peel-round bound: the oracle unrolls exactly this many rounds,
    * and the Spark loop stops early at the fixpoint, so the two agree
    * whenever the peel depth fits (4 ≤ 8 at the gated SF; the bound
    * is a knob, not an algorithmic cap — degeneracy peel depth grows
    * slowly, O(log n) on real-world graphs). */
  val KCoreMaxRounds = 8

  /** K-core decomposition of the part co-occurrence graph by
    * iterative peeling: drop every node with degree < [[KCoreK]],
    * recompute degrees, repeat to fixpoint — the classic dense-
    * subgraph / community-seed primitive ([[Relational4]] counts its
    * triangles, [[Relational7]] scores its links; this extracts its
    * load-bearing skeleton).
    *
    * Scale story per round: ONE map-side-combined degree aggregate +
    * two semi-joins keyed on the edge endpoints (never a broadcast —
    * the survivor set is |V|-sized), with [[Checkpoints.cutCounted]]
    * pinning each round's edges AND surfacing the convergence count
    * from the same materialization job — a separate count() would
    * re-read the whole just-checkpointed edge set every round, a full
    * O(|E|) storage scan per round under reliable checkpointing. Same
    * deterministic 25% order sample as graph_triangles (disclosed,
    * algorithm sample-free). */
  val graphKcore: Q = (s, d) => {
    // r19: li cut — the self-join consumes it twice and aliasing
    // defeats exchange reuse, so the scan+filter ran once per side
    // (probed 0.83 s → 0.73 s steady at sf0.1 for the edge build;
    // pre-distinct was probed too and lost — the extra shuffle costs
    // more than the duplicate rows it removes on this data)
    val li = Checkpoints.cut(Tables.lineitem(s, d)
      .filter($"l_orderkey" % 4 === 0)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")))
    var (e, n) = Checkpoints.cutCounted(li.as("a")
      .join(li.as("b"), $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct())
    var r = 0
    var done = false
    while (r < KCoreMaxRounds && !done) {
      val keep = e.select($"u".as("n")).unionAll(e.select($"v".as("n")))
        .groupBy($"n").agg(count(lit(1)).as("dg"))
        .filter($"dg" >= KCoreK).select($"n")
      val (next, m) = Checkpoints.cutCounted(
        e.join(keep.withColumnRenamed("n", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("n", "v"), Seq("v"), "left_semi"))
      done = m == n
      e = next; n = m; r += 1
    }
    e.select($"u".as("n")).unionAll(e.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("deg"))
      .orderBy($"n")
  }

  /** Count-min sketch geometry: [[CmsDepth]] independent hash rows ×
    * [[CmsWidth]] buckets — 4×256 keeps the sketch a 1 KB-scale
    * constant at EVERY input size (that is the point of a sketch). */
  val CmsDepth = 4
  val CmsWidth = 256

  /** Count-min sketch heavy-hitter estimation over `l_partkey`: build
    * the d×w counter table (bucket = polyhash(j:key) mod w per hash
    * row j), then read the top-20 true-count keys back out of the
    * sketch (estimate = min over rows of the key's counter) and
    * report estimate vs truth. Deterministic end-to-end — the hashes
    * are the engine's own cross-engine `graft_polyhash`, so the
    * ORACLE BUILDS THE IDENTICAL SKETCH and the gate stays
    * hash-exact, unlike approx_count_distinct whose HLL internals are
    * engine-private (the reason agg_approx_distinct is the inventory's
    * no-oracle row). CMS guarantees est ≥ true (spec-asserted).
    *
    * Scale story: the build is a typed partial aggregate whose state
    * IS the sketch — one fixed d·w long array per task, updated in
    * place per row and merged elementwise across partitions — so the
    * exchange is O(partitions·d·w) regardless of input rows; the
    * probe side broadcasts the d·w-row sketch (constant-sized by
    * construction) — at 100 TB this is exactly how you'd sketch a
    * quadrillion-row key column. */
  val aggCountmin: Q = (s, d) => {
    graft.engine.ops.TextFeatures.ensureRegistered(s)
    val hashSql = s"graft_polyhash(concat(CAST(j AS STRING), ':', " +
      s"CAST(pk AS STRING))) % $CmsWidth"
    val ins = Tables.lineitem(s, d).select($"l_partkey".as("pk"))
    // typed CmsAggregator build (functions.CmsAggregator): the d×w
    // counter table IS the partial-aggregate state — one flat-array
    // sketch per task, elementwise merge — instead of fanning every
    // row out d× through explode before the hash aggregate. Cells are
    // IDENTICAL (same polyhash("j:key") buckets, parity
    // property-tested), so the oracle's sketch is unchanged.
    val cmsUdaf = udaf(new graft.engine.functions.CmsAggregator(CmsDepth, CmsWidth))
    val cells = ins.agg(cmsUdaf($"pk").as("cells"))
      .select(posexplode($"cells").as(Seq("i", "c")))
      .select(expr(s"CAST(i DIV $CmsWidth AS INT)").as("j"),
        ($"i" % CmsWidth).cast("long").as("b"), $"c")
      .filter($"c" > 0)
    val keys = ins.groupBy($"pk").agg(count(lit(1)).as("true_cnt"))
      .orderBy($"true_cnt".desc, $"pk").limit(20)
    keys
      .select($"pk", $"true_cnt",
        explode(expr(s"sequence(0, ${CmsDepth - 1})")).as("j"))
      .withColumn("b", expr(hashSql))
      .join(broadcast(cells), Seq("j", "b"))
      .groupBy($"pk", $"true_cnt").agg(min($"c").as("est_cnt"))
      .select($"pk", $"true_cnt", $"est_cnt",
        ($"est_cnt" - $"true_cnt").as("over_cnt"))
      .orderBy($"true_cnt".desc, $"pk")
  }

  /** Histogram bucket width (cents) for [[aggMedianSelect]]'s first
    * pass: $1000 buckets → ~100 buckets over this data's price range. */
  val MedianBucketC = 100000L

  /** EXACT global median (lower median, the (n+1)/2-th order
    * statistic) of lineitem price WITHOUT a global sort — the
    * two-pass distributed selection: (1) a map-side-combined
    * histogram over [[MedianBucketC]]-wide buckets, cumulated
    * driver-side (bucket-count-sized collect, the sanctioned
    * control-plane pattern); (2) a TakeOrdered of only the k-th
    * bucket's rows. A naive `ORDER BY c LIMIT k` globally sorts — at
    * 100 TB that is the difference between one narrow aggregate +
    * one small scan and an O(n log n) full-data exchange. If a
    * single bucket were still too large, the same split recurses
    * inside it (narrower buckets) — the knob is documented, not
    * needed at any tested SF. Exact integer cents end-to-end; the
    * oracle's `quantile_disc(0.5)` is the same (n+1)/2-th statistic. */
  val aggMedianSelect: Q = (s, d) => {
    val v = Tables.lineitem(s, d)
      .select(($"l_extendedprice".cast(Dec) * 100).cast("long").as("c"))
    val hist = v.groupBy(expr(s"c DIV $MedianBucketC").as("bkt"))
      .agg(count(lit(1)).as("n"))
      .collect().sortBy(_.getLong(0))
    if (hist.isEmpty) {
      // Empty input: no k-th statistic exists — mirror the oracle's
      // quantile over zero rows (NULL median) instead of indexing at -2.
      v.sparkSession.range(1)
        .select(lit(0L).as("n_rows"), lit(0L).as("k"),
          lit(null).cast("long").as("median_c"))
    } else {
      val total = hist.map(_.getLong(1)).sum
      val k = (total + 1) / 2
      val cumBefore = hist.scanLeft(0L)(_ + _.getLong(1))
      val idx = cumBefore.indexWhere(_ >= k) - 1 // last bucket with cum < k
      val (bkt, before) = (hist(idx).getLong(0), cumBefore(idx))
      val kLocal = (k - before).toInt
      v.filter(expr(s"c DIV $MedianBucketC") === bkt)
        .orderBy($"c").limit(kLocal)
        .agg(max($"c").as("median_c"))
        .select(lit(total).as("n_rows"), lit(k).as("k"), $"median_c")
    }
  }

  /** Dedup-aware mixture reweighting: source sampling weights from
    * EFFECTIVE (post-exact-dedup) token counts — each distinct
    * normalized text counts its tokens once however many copies a
    * source holds, so a source that puffs itself up with duplicates
    * gets the weight of its unique content (the composition of
    * dedup_exact and mix_weights a real mixture designer runs;
    * counting raw tokens overweights exactly the sources dedup will
    * later shrink).
    *
    * Scale story: the dedup aggregate groups on (source,
    * polyhash(norm_text)) — 16-byte rows shuffle, never full texts;
    * per-source rollup is map-side combined; the corpus total is a
    * 1-row broadcast cross-join. Weights are floor-scaled basis
    * points; the ratio product runs in DECIMAL(38,0) (HUGEINT
    * oracle) on the |sources|-row rollup — free at that cardinality,
    * and a BIGINT eff_toks·10⁴ would wrap past ~9e14 tokens in one
    * source, within reach of a petabyte-class corpus. */
  val mixDedupWeights: Q = (s, d) => {
    TextFeatures.ensureRegistered(s)
    val docs = Tables.documents(s, d)
      .select($"source",
        expr(TextFeatures.charHashSql(
          "regexp_replace(trim(lower(text)), '\\\\s+', ' ')")).as("h"),
        TextFeatures.tokenCount($"text").cast("long").as("n_toks"))
    val uniq = docs.groupBy($"source", $"h")
      .agg(count(lit(1)).as("n_docs"), min($"n_toks").as("n_toks"))
    val src = uniq.groupBy($"source")
      .agg(sum($"n_toks").cast("long").as("eff_toks"),
        sum($"n_docs").cast("long").as("n_docs"),
        count(lit(1)).as("n_uniq"))
    val tot = src.agg(sum($"eff_toks").cast("long").as("t"))
    src.crossJoin(broadcast(tot))
      .select($"source", $"eff_toks", $"n_docs", $"n_uniq",
        expr("CAST(eff_toks AS DECIMAL(38,0)) * 10000 DIV t")
          .as("weight_bp"))
      .orderBy($"source")
  }

  /** Bucket count for [[joinBucketed]] — both sides must agree for
    * exchange-free co-location. */
  val BucketN = 8

  /** CO-LOCATED join via Spark BUCKETED TABLES: both fact sides are
    * written `bucketBy(8, orderkey)` + `sortBy` into the session
    * warehouse once per scale dir, after which the join plans a
    * SortMergeJoin with ZERO Exchange — the bucketed scan itself
    * satisfies the join's clustering requirement (spec-asserted).
    * This is the storage-level answer to the repeated-join workload
    * at 100 TB: pay one bucketed write, then every subsequent
    * orderkey join of these tables shuffles NOTHING — the difference
    * between an O(fact) network exchange per query and none. The
    * other join rows demonstrate runtime strategies (broadcast,
    * bloom, salt, AQE skew); this one demonstrates layout, the knob
    * that dominates when the same keys join daily.
    *
    * Determinism: the bucketed write is only a physical layout —
    * the joined result is the plain join's row multiset, and the
    * presentation aggregates per priority in exact decimal money. */
  val joinBucketed: Q = (s, d) => {
    // Collision-resistant tag: abs(hashCode) could collide across scale
    // dirs (and abs(Int.MinValue) is negative); a SHA-256 prefix cannot.
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    val (to, tl) = (s"graft_bkt_orders_$tag", s"graft_bkt_lineitem_$tag")
    // The in-memory catalog dies with the JVM while the warehouse dir
    // persists, so `tableExists` alone is a trap: a fresh session would
    // hit "managed table location already exists". Reuse only a table
    // THIS session registered; otherwise clear any stale warehouse path
    // (DROP covers a registered-but-being-replaced table, the FS delete
    // covers the orphaned dir from a previous JVM) and rewrite.
    if (!s.catalog.tableExists(to)) {
      Seq(to, tl).foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val p = new org.apache.hadoop.fs.Path(
          s.sessionState.conf.warehousePath, t.toLowerCase)
        val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(p)) fs.delete(p, true)
      }
      Tables.orders(s, d).select($"o_orderkey", $"o_orderpriority")
        .write.format("parquet")
        .bucketBy(BucketN, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(to)
      Tables.lineitem(s, d).select($"l_orderkey", revE4.as("rev_e4"))
        .write.format("parquet")
        .bucketBy(BucketN, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(tl)
    }
    s.table(to)
      .join(s.table(tl), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderpriority")
      .agg(sum($"rev_e4").cast("long").as("rev_e4"),
        count(lit(1)).as("n_items"))
      .orderBy($"o_orderpriority")
  }

  /** Hampel outlier multiplier: flag when |x − med| > k·MAD, spelled
    * in integers as `|x − med| > HampelK · mad`. */
  val HampelK = 3L

  /** Hampel filter over the [[MedianK]]-sample rolling frame: an
    * event is an outlier when it deviates from its frame's median by
    * more than [[HampelK]]× the frame's median absolute deviation —
    * the robust outlier detector (a z-score's mean AND stddev are
    * both dragged by the very spike being tested; median/MAD are
    * not; ts_anomaly keeps the z-score form for comparison). Both
    * the median and the MAD are lower medians of ≤K integers, so the
    * whole path is BIGINT and the flag is an exact integer
    * inequality — no float, no threshold rounding hazard.
    *
    * Scale story: identical to [[winRollingMedian]] — one exchange,
    * one sort, O(K log K) per row from the same collected frame (the
    * MAD reuses the already-collected array, not a second window). */
  val winHampel: Q = (s, d) => {
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      .rowsBetween(-(MedianK - 1), 0)
    val med = "element_at(sort_array(arr), CAST((size(arr) + 1) DIV 2 AS INT))"
    val mad = "element_at(sort_array(transform(arr, x -> abs(x - med_mu)))," +
      " CAST((size(arr) + 1) DIV 2 AS INT))"
    Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_mu"))
      .withColumn("arr", collect_list($"v_mu").over(w))
      .withColumn("med_mu", expr(med))
      .withColumn("mad_mu", expr(mad))
      .select($"user_id", $"event_id", $"v_mu", $"med_mu", $"mad_mu",
        (abs($"v_mu" - $"med_mu") > lit(HampelK) * $"mad_mu")
          .cast("int").as("outlier"))
      .orderBy($"user_id", $"event_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("win_hampel", winHampel, Some(
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | l AS (
        |  SELECT user_id, event_id, v_mu,
        |    list(v_mu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN ${MedianK - 1} PRECEDING AND CURRENT ROW) AS arr
        |  FROM e),
        | m AS (
        |  SELECT user_id, event_id, v_mu, arr,
        |    list_sort(arr)[(len(arr) + 1) // 2] AS med_mu
        |  FROM l)
        |SELECT user_id, event_id, v_mu, med_mu,
        |  list_sort(list_transform(arr, x -> abs(x - med_mu)))
        |    [(len(arr) + 1) // 2] AS mad_mu,
        |  CAST(abs(v_mu - med_mu) > $HampelK *
        |    list_sort(list_transform(arr, x -> abs(x - med_mu)))
        |      [(len(arr) + 1) // 2] AS INTEGER) AS outlier
        |FROM m ORDER BY user_id, event_id""".stripMargin)),

    QueryDef("agg_tpch_q14", aggTpchQ14, Some(
      """WITH f AS (
        |  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |           * 10000 AS BIGINT) AS rev_e4,
        |         p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-04-01')
        |SELECT
        |  CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS BIGINT)
        |    AS promo_e4,
        |  CAST(SUM(rev_e4) AS BIGINT) AS total_e4,
        |  count(1) AS n_rows,
        |  CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_e4 ELSE 0 END) AS HUGEINT)
        |       * 1000000 // CAST(SUM(rev_e4) AS HUGEINT) AS BIGINT)
        |    AS promo_share_e6
        |FROM f""".stripMargin)),

    QueryDef("join_tpch_q10", joinTpchQ10, Some(
      """WITH r AS (
        |  SELECT o_custkey,
        |         CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |           * 10000 AS BIGINT)) AS BIGINT) AS rev_e4
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE l_returnflag = 'R'
        |    AND o_orderdate >= '1997-01-01' AND o_orderdate < '1997-04-01'
        |  GROUP BY o_custkey)
        |SELECT c_custkey, c_name, n_name, rev_e4
        |FROM r
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY rev_e4 DESC, c_custkey
        |LIMIT 20""".stripMargin)),

    QueryDef("win_rolling_median", winRollingMedian, Some(
      s"""WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | l AS (
        |  SELECT user_id, event_id, v_mu,
        |    list(v_mu) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN ${MedianK - 1} PRECEDING AND CURRENT ROW) AS arr
        |  FROM e)
        |SELECT user_id, event_id, v_mu,
        |  list_sort(arr)[(len(arr) + 1) // 2] AS med_mu
        |FROM l ORDER BY user_id, event_id""".stripMargin)),

    QueryDef("ts_seasonal", tsSeasonal, Some(
      """WITH e AS (
        |  SELECT event_id, event_type, epoch_us(ts) AS ts_us,
        |    CAST(floor(value * 1000) AS BIGINT) AS v_mu
        |  FROM events),
        | b AS (
        |  SELECT event_id, event_type, v_mu,
        |    ts_us // 3600000000 % 24 AS hr
        |  FROM e),
        | prof AS (
        |  SELECT event_type, hr,
        |    CAST(CAST(SUM(v_mu) AS HUGEINT) // count(1) AS BIGINT) AS seas_mu
        |  FROM b GROUP BY event_type, hr)
        |SELECT event_id, b.event_type, b.hr, v_mu, seas_mu,
        |  v_mu - seas_mu AS resid_mu
        |FROM b JOIN prof ON b.event_type = prof.event_type AND b.hr = prof.hr
        |ORDER BY event_id""".stripMargin)),

    QueryDef("text_lm_bigram", textLmBigram, Some(
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        | bgs AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, len(toks)),
        |      i -> toks[i] || ' ' || toks[i+1])) AS bg
        |  FROM t WHERE len(toks) >= 2),
        | ref AS (
        |  SELECT bg FROM bgs WHERE lang = 'en'
        |  GROUP BY bg HAVING count(1) >= $LmMinRefCount),
        | scored AS (
        |  SELECT t.doc_id,
        |    count(b.bg) AS n_bigrams,
        |    COALESCE(SUM(CASE WHEN r.bg IS NOT NULL THEN 1 ELSE 0 END), 0)
        |      AS n_seen
        |  FROM t
        |    LEFT JOIN bgs b ON t.doc_id = b.doc_id
        |    LEFT JOIN ref r ON b.bg = r.bg
        |  GROUP BY t.doc_id)
        |SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
        |  CAST(n_seen AS BIGINT) AS n_seen,
        |  CAST(CASE WHEN n_bigrams = 0 THEN -1
        |       ELSE n_seen * 10000 // n_bigrams END AS BIGINT) AS score_e4
        |FROM scored ORDER BY doc_id""".stripMargin)),

    QueryDef("graph_kcore", graphKcore, Some {
      // unroll the peel: e0 = co-occurrence edges, then R rounds of
      // (degree filter -> edge restriction); the Spark side stops at
      // its fixpoint, which equals round R whenever depth <= R
      // MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, so an
      // unrolled 8-round peel would expand e0 ~3^8 times (and ran the
      // process out of file handles re-opening lineitem.parquet)
      val rounds = (1 to KCoreMaxRounds).map { i =>
        s""" k$i AS MATERIALIZED (
           |  SELECT n FROM (SELECT u AS n FROM e${i - 1}
           |                 UNION ALL SELECT v FROM e${i - 1})
           |  GROUP BY n HAVING count(1) >= $KCoreK),
           | e$i AS MATERIALIZED (
           |  SELECT u, v FROM e${i - 1}
           |  WHERE u IN (SELECT n FROM k$i) AND v IN (SELECT n FROM k$i))"""
          .stripMargin
      }.mkString(",")
      s"""WITH li AS (
        |  SELECT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |  WHERE l_orderkey % 4 = 0),
        | e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),$rounds
        |SELECT n, CAST(count(1) AS BIGINT) AS deg
        |FROM (SELECT u AS n FROM e$KCoreMaxRounds
        |      UNION ALL SELECT v FROM e$KCoreMaxRounds)
        |GROUP BY n ORDER BY n""".stripMargin
    }),

    QueryDef("agg_countmin", aggCountmin, Some {
      val h = DedupOps.duckCharHash(
        "concat(CAST(j.j AS VARCHAR), ':', CAST(pk AS VARCHAR))")
      s"""WITH js AS (SELECT unnest(range($CmsDepth)) AS j),
        | ins AS (SELECT l_partkey AS pk FROM lineitem),
        | cells AS MATERIALIZED (
        |  SELECT j.j AS j, $h % $CmsWidth AS b, count(1) AS c
        |  FROM ins, js j GROUP BY 1, 2),
        | keys AS (
        |  SELECT pk, count(1) AS true_cnt FROM ins GROUP BY pk
        |  ORDER BY true_cnt DESC, pk LIMIT 20),
        | probes AS (
        |  SELECT pk, true_cnt, j.j AS j, $h % $CmsWidth AS b
        |  FROM keys, js j)
        |SELECT p.pk, CAST(p.true_cnt AS BIGINT) AS true_cnt,
        |  CAST(min(c.c) AS BIGINT) AS est_cnt,
        |  CAST(min(c.c) - p.true_cnt AS BIGINT) AS over_cnt
        |FROM probes p JOIN cells c ON p.j = c.j AND p.b = c.b
        |GROUP BY p.pk, p.true_cnt
        |ORDER BY true_cnt DESC, pk""".stripMargin
    }),

    QueryDef("agg_median_select", aggMedianSelect, Some(
      """SELECT CAST(count(1) AS BIGINT) AS n_rows,
        |  CAST((count(1) + 1) // 2 AS BIGINT) AS k,
        |  quantile_disc(
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT),
        |    0.5) AS median_c
        |FROM lineitem""".stripMargin)),

    QueryDef("mix_dedup_weights", mixDedupWeights, Some {
      val h = DedupOps.duckCharHash(
        "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')")
      s"""WITH docs AS (
        |  SELECT source, $h AS h,
        |    len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_toks
        |  FROM documents),
        | uniq AS (
        |  SELECT source, h, count(1) AS n_docs, min(n_toks) AS n_toks
        |  FROM docs GROUP BY source, h),
        | src AS (
        |  SELECT source, CAST(SUM(n_toks) AS BIGINT) AS eff_toks,
        |    CAST(SUM(n_docs) AS BIGINT) AS n_docs, count(1) AS n_uniq
        |  FROM uniq GROUP BY source),
        | tot AS (SELECT CAST(SUM(eff_toks) AS BIGINT) AS t FROM src)
        |SELECT source, eff_toks, n_docs, n_uniq,
        |  CAST(CAST(eff_toks AS HUGEINT) * 10000 // t AS BIGINT)
        |    AS weight_bp
        |FROM src, tot ORDER BY source""".stripMargin
    }),

    QueryDef("join_bucketed", joinBucketed, Some(
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (1 - CAST(l_discount AS DECIMAL(18,2)))
        |    * 10000 AS BIGINT)) AS BIGINT) AS rev_e4,
        |  count(1) AS n_items
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
  )
}
