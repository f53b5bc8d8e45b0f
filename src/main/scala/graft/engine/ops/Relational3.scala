package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.engine.Tables

/** Third relational batch: extended string functions, argmax/collect
  * aggregates, bitwise ops, and RANGE window frames. Determinism
  * contract as ever (SURVEY §7.3); collected arrays are sorted and
  * string-joined so the cross-engine compare is scalar. */
object Relational3 {
  type Q = (SparkSession, String) => DataFrame
  private val dec = DecimalType(18, 2)

  /** Extended string function surface. */
  val fnString2: Q = (s, d) =>
    Tables.part(s, d)
      .select(
        $"p_partkey",
        lpad($"p_brand", 12, "*").as("pad_l"),
        rpad($"p_brand", 12, ".").as("pad_r"),
        translate($"p_name", "ae", "43").as("leeted"),
        reverse($"p_brand").as("rev"),
        substring_index($"p_type", " ", 1).as("first_part"),
        levenshtein($"p_brand", lit("Brand#00")).as("edit_dist"),
        expr("left(p_name, 6)").as("head6"),
        expr("right(p_name, 4)").as("tail4"),
        instr($"p_type", "BRUSHED").as("brushed_at"))
      .orderBy($"p_partkey")

  /** max_by / min_by (argmax) aggregates per group. The ordering value
    * is a fixed-width (price, key) string so ties on price break
    * deterministically and identically in both engines (DuckDB's
    * arg_max takes no composite ordering). */
  val aggMinmaxBy: Q = (s, d) => {
    val ord = concat(format_string("%020.2f", $"o_totalprice"), lit("-"),
      format_string("%020d", $"o_orderkey"))
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        max_by($"o_orderkey", ord).as("priciest_key"),
        min_by($"o_orderkey", ord).as("cheapest_key"),
        max($"o_totalprice").as("max_price"))
      .orderBy($"o_orderpriority")
  }

  /** collect_list → sorted → joined: deterministic scalar encoding of
    * a grouped collection (cross-engine array compares are fragile). */
  val aggCollect: Q = (s, d) =>
    Tables.nation(s, d)
      .groupBy($"n_regionkey")
      .agg(array_join(array_sort(collect_list($"n_name")), ",").as("nations"))
      .orderBy($"n_regionkey")

  /** Bitwise arithmetic over keys. */
  val fnBitwise: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(
        $"l_orderkey", $"l_linenumber",
        ($"l_orderkey".bitwiseAND(255)).as("band"),
        ($"l_orderkey".bitwiseOR($"l_linenumber")).as("bor"),
        ($"l_orderkey".bitwiseXOR($"l_linenumber")).as("bxor"),
        shiftleft($"l_linenumber", 4).as("shl"),
        shiftright($"l_orderkey", 3).as("shr"))
      .orderBy($"l_orderkey", $"l_linenumber")

  /** RANGE frame: sum of all orders within 5000.00 of the current
    * price for the same priority (value-range window, not row-count).
    *
    * DECOMPOSED since round 12 — the windowed spelling
    * (`rangeBetween(-5000, 0)` over `partitionBy(o_orderpriority)`)
    * caps parallelism at the 5 priorities at ANY scale AND pays
    * O(frame) buffer replay per row (Spark's sliding range frame
    * rebuilds the aggregate whenever the lower bound moves — ~2.7k
    * rows per frame at sf0.1; this was the #2 bench row). Identity:
    * nearby_sum(p) = C(≤ p) − C(< p−5000) over per-(priority, price)
    * group sums. C is ONE distributed inclusive prefix sum
    * (range-partition by (priority, price), per-partition running
    * sums, #partitions-sized offset map — the cdc_progress pattern);
    * the own-group lookup is an equi-join; the frame-start lookup is
    * ONE native as-of join (backward: greatest group price ≤ p−5000 —
    * subtract that group's EXCLUSIVE cum when it sits exactly on the
    * boundary, else its inclusive cum). Sums run in exact cents
    * (BIGINT, fold-order-free); boundary comparisons run in DOUBLE
    * exactly as both engines' RANGE frames compute them (`p − 5000.0`
    * in double arithmetic — an exact-decimal boundary could flip
    * ulp-boundary rows vs the oracle). Every stage is hash/range-
    * parallel except the as-of merge, which is LINEAR per priority
    * instead of O(n·frame) — and salting (join_asof_salted) extends
    * it when 1/|priorities| of the corpus outgrows a task. */
  val winRange: Q = (s, d) =>
    nearbySum(Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice"))

  /** The decomposed value-range window over any `(o_orderkey,
    * o_orderpriority, o_totalprice)` frame — factored out of
    * [[winRange]] so NearbySumSpec can fuzz it against a local model
    * of the windowed spelling on adversarial boundary/tie shapes. */
  def nearbySum(orders: DataFrame): DataFrame = {
    val ord = orders
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        ($"o_totalprice".cast(dec) * 100).cast("long").as("pc"))
    val g = ord
      .groupBy($"o_orderpriority".as("g_pri"), $"o_totalprice".as("g_price"))
      .agg(sum($"pc").as("gc"))
    val ranged = g.repartitionByRange($"g_pri", $"g_price")
      .withColumn("pid", spark_partition_id())
      .transform(Checkpoints.cut) // pin the sampled range boundaries
    val parts = ranged.groupBy($"pid", $"g_pri").agg(sum($"gc").as("t"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // priority -> (pid -> cents mass in the SAME priority's earlier
    // partitions); ≤ ~2·#partitions entries total (priorities are
    // contiguous under the range partitioning). Two-level map, NOT a
    // "pri|pid" string-concat key: the helper accepts arbitrary
    // frames, and a priority containing '|' followed by digits could
    // alias two concat keys and corrupt the cumulative sums
    val offsets: Map[String, Map[Int, Long]] =
      parts.groupBy(_._2).map { case (pri, rows) =>
        pri -> rows.map { case (pid, _, _) =>
          pid -> parts.collect {
            case (p2, pri2, t2) if pri2 == pri && p2 < pid => t2
          }.sum
        }.toMap
      }
    val wp = Window.partitionBy($"pid", $"g_pri").orderBy($"g_price")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = ranged
      .withColumn("cum_incl", sum($"gc").over(wp) +
        element_at(element_at(typedLit(offsets), $"g_pri"), $"pid"))
      .withColumn("cum_excl", $"cum_incl" - $"gc")
      .select($"g_pri", $"g_price", $"cum_incl", $"cum_excl")
      .transform(Checkpoints.cut) // read twice: own-group join + as-of side
    val own = ord
      .join(cum.select($"g_pri", $"g_price", $"cum_incl".as("own_cum")),
        $"o_orderpriority" === $"g_pri" && $"o_totalprice" === $"g_price")
      .select($"o_orderkey", $"o_orderpriority", $"own_cum",
        ($"o_totalprice" - 5000.0d).as("frame_start"))
    graft.engine.plans.AsOfJoin.frames(
      own,
      cum.select($"g_pri".as("b_pri"), $"g_price".as("b_price"),
        $"cum_incl".as("b_incl"), $"cum_excl".as("b_excl")),
      leftKey = "o_orderpriority", rightKey = "b_pri",
      leftTime = "frame_start", rightTime = "b_price", rightTie = "b_price",
      outer = true)
      .withColumn("excluded", coalesce(
        when($"b_price" === $"frame_start", $"b_excl").otherwise($"b_incl"),
        lit(0L)))
      .select($"o_orderkey", $"o_orderpriority",
        (($"own_cum" - $"excluded").cast("double") / 100.0d).as("nearby_sum"))
      // materialize before the presentation sort: the sort's range
      // sampler otherwise re-executes everything below a second time
      .transform(Checkpoints.cut)
      .orderBy($"o_orderkey")
  }

  /** Pearson correlation from exact decimal sums (same technique as
    * agg_stats' stddev): both engines evaluate one fixed double
    * expression tree over order-independent exact aggregates, so the
    * result is bit-stable — the built-in corr() is not (its running
    * summation order varies with partitioning).
    *
    * The hot path stays BIGINT codegen: values convert ONCE per row to
    * exact cents (the decimal(18,2) cast recovers the true 2-dp money
    * value the double can't hold), the three quadratic products
    * multiply as longs — cents² ≤ 1.2e14, overflow-free at ANY corpus
    * size because the bound is per-row, not per-sum (measured ~9%
    * off the query: the decimal SUM accumulator, which exactness does
    * require, dominates the decimal multiplies this removes) — and
    * only the SUMS accumulate as DECIMAL(38,0) — exact to
    * any corpus size. The final tree divides the scale back out in
    * exact decimal (scale-6 results carry the 2/4 fractional digits
    * losslessly) so each statistic converts the identical rational to
    * double in both spellings and both engines. */
  val aggCorr: Q = (s, d) => {
    val li = Tables.lineitem(s, d)
    val xc = ($"l_quantity".cast(dec) * 100).cast("long")
    val yc = ($"l_extendedprice".cast(dec) * 100).cast("long")
    li.select($"l_returnflag", xc.as("xc"), yc.as("yc"))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        // r19: SplitSum — value-identical DECIMAL(38,0) totals, but the
        // per-row accumulate is three long adds in codegen instead of a
        // Decimal128 add + overflow check (measured 1.0–1.2 s → see
        // SplitSum doc; the identity is exact for ALL signed longs —
        // SplitSumSpec pins the full domain including both extremes)
        SplitSum.splitSum($"xc").as("sxc"), SplitSum.splitSum($"yc").as("syc"),
        SplitSum.splitSum($"xc" * $"xc").as("sxxc"),
        SplitSum.splitSum($"yc" * $"yc").as("syyc"),
        SplitSum.splitSum($"xc" * $"yc").as("sxyc"))
      // divide the cents scale back out as exact decimals BEFORE the
      // double conversion: same rational -> same double as the old
      // decimal(38,4)-sum spelling and as the DuckDB oracle
      .select($"l_returnflag", $"n",
        expr("sxc / 100").as("sx"), expr("syc / 100").as("sy"),
        expr("sxxc / 10000").as("sxx"), expr("syyc / 10000").as("syy"),
        expr("sxyc / 10000").as("sxy"))
      .select($"l_returnflag", $"n",
        round(
          (($"sxy".cast("double") - $"sx".cast("double") * $"sy".cast("double") / $"n")
            / sqrt(($"sxx".cast("double") - $"sx".cast("double") * $"sx".cast("double") / $"n")
              * ($"syy".cast("double") - $"sy".cast("double") * $"sy".cast("double") / $"n"))),
          4).as("corr_qty_price"))
      .orderBy($"l_returnflag")
  }

  /** Shuffle-hash-hinted join — same semantics as join_inner, but the
    * hint pins the physical strategy (useful when stats mislead the
    * planner; at scale, hash beats sort-merge when one side fits
    * per-task memory but is too big to broadcast). */
  val joinShuffleHash: Q = (s, d) =>
    Tables.orders(s, d)
      .join(Tables.customer(s, d).hint("shuffle_hash"),
        $"o_custkey" === $"c_custkey", "inner")
      .select($"o_orderkey", $"c_custkey", $"c_name", $"o_totalprice")
      .orderBy($"o_orderkey")

  /** Multi-field JSON extraction via the json_tuple generator (the
    * second field is absent from the data — null semantics for missing
    * keys are part of the contract). */
  val fnJsonTuple: Q = (s, d) =>
    // raw-sort first (unique event_id), extract after — avoids the
    // presentation-sort double-eval of the generator (see fn_try)
    Tables.events(s, d)
      .orderBy($"event_id")
      .select($"event_id", json_tuple($"props", "k", "missing"))
      .toDF("event_id", "k", "missing")
      .withColumn("k", $"k".cast("int"))

  /** Per-stratum sampling rates of [[sampleStratified]], in basis
    * points of 10000 hash buckets. */
  val StratifiedBp = Map("A" -> 1000L, "N" -> 2000L, "R" -> 1000L)

  /** Stratified sample by return flag as a reusable transform. The
    * draw is a DETERMINISTIC HASH BUCKET on row content
    * (`graft_polyhash` of the row's integer key columns, mod 10000 vs
    * the stratum's basis-point rate), not `sampleBy`: `sampleBy` runs
    * `rand(seed)` seeded per PARTITION INDEX, so its "determinism"
    * holds only while the input layout never changes — false at
    * 100 TB, where file splits and AQE coalescing move rows between
    * partitions run to run. A content-hash draw selects the same ROWS
    * whatever the layout (and whatever engine — which is also what
    * lets the row be DIFFERENTIALLY GATED: the DuckDB oracle rebuilds
    * the identical polyhash draw, where `sampleBy`'s engine-private
    * RNG stream forced the old no-oracle carve-out). The key sticks
    * to INTEGER columns — a double-typed key column would make the
    * hash depend on cross-engine float-to-string printing. Map-only:
    * no shuffle before the final counting aggregate. */
  def stratifiedSampleOn(li: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    TextFeatures.ensureRegistered(li.sparkSession)
    val bp = StratifiedBp.map { case (k, v) => s"'$k', ${v}L" }.mkString(", ")
    li.withColumn("bucket", expr(
        "pmod(graft_polyhash(concat_ws(':', l_orderkey, l_linenumber, " +
          "l_partkey, l_suppkey)), 10000)"))
      .withColumn("rate_bp", expr(s"element_at(map($bp), l_returnflag)"))
      .filter($"rate_bp".isNotNull && $"bucket" < $"rate_bp")
  }

  /** The declared query: sampled-row counts per stratum (the aggregate
    * keeps the verify artifact small and rows>0-checkable). */
  val sampleStratified: Q = (s, d) =>
    stratifiedSampleOn(Tables.lineitem(s, d))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n_sampled"))
      .orderBy($"l_returnflag")

  /** lead(): next order's price per customer (the forward twin of
    * Relational.winLag). */
  val winLead: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("next_price", lead($"o_totalprice", 1).over(
        Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")))
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"next_price")
      .orderBy($"o_custkey", $"o_orderkey")

  /** UNION DISTINCT (set union proper, vs set_union's UNION ALL). */
  val setUnionDistinct: Q = (s, d) =>
    Tables.orders(s, d).select($"o_custkey".as("k"))
      .union(Tables.events(s, d).select($"user_id".as("k")))
      .distinct()
      .orderBy($"k")

  /** Band (range) join via integer bucketing — the equi-join rewrite of
    * an interval predicate (what a range-join hint does natively on
    * engines that have one): parts priced within ±0.5 of a unit-priced
    * line's value. Each probe row explodes to its bucket ±1 (bucket
    * width ≥ band width guarantees coverage), the join is a plain hash
    * equi-join on the bucket, and the exact band predicate filters the
    * residual. Without this rewrite Spark plans BroadcastNestedLoopJoin
    * — O(N·M) at any scale; with it the cost is the true candidate
    * count. */
  val joinRangeBucket: Q = (s, d) => {
    val li = Tables.lineitem(s, d).filter($"l_quantity" === 1.0)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice".as("u"))
    val p = Tables.part(s, d).select($"p_partkey", $"p_retailprice")
      .withColumn("bucket", floor($"p_retailprice"))
    li.withColumn("bucket",
        explode(array(floor($"u") - 1, floor($"u"), floor($"u") + 1)))
      .join(p, "bucket")
      .filter(abs($"u" - $"p_retailprice") <= 0.5)
      .select($"l_orderkey", $"l_linenumber", $"p_partkey",
        round(abs($"u" - $"p_retailprice"), 4).as("price_diff"))
      .orderBy($"l_orderkey", $"l_linenumber", $"p_partkey", $"price_diff")
  }

  /** The SAME band join written the naive way — `abs(u − p) <= 0.5`
    * with no manual bucketing. [[graft.engine.plans.BandJoinRule]]
    * (injected via GraftExtensions) rewrites it to the bucketed
    * equi-join automatically; identical oracle to join_range_bucket,
    * and BandJoinRuleSpec asserts the plan carries no nested loop. */
  val joinBandAuto: Q = (s, d) => {
    val li = Tables.lineitem(s, d).filter($"l_quantity" === 1.0)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice".as("u"))
    li.join(Tables.part(s, d).select($"p_partkey", $"p_retailprice"),
        abs($"u" - $"p_retailprice") <= 0.5)
      .select($"l_orderkey", $"l_linenumber", $"p_partkey",
        round(abs($"u" - $"p_retailprice"), 4).as("price_diff"))
      .orderBy($"l_orderkey", $"l_linenumber", $"p_partkey", $"price_diff")
  }

  /** Equi-width numeric histogram (the profiling primitive): 20 bins
    * between the global min/max of `events.value`. Two passes — a
    * broadcast scalar (min, max) then a map-only binning + count
    * aggregate — no shuffle of the data rows, so it scans at 100 TB.
    * Cross-engine: bin = floor((v−mn)/width) is IEEE arithmetic on
    * bit-identical doubles evaluated in the same op order in both
    * engines; `least(19, …)` folds the v=max edge into the last bin. */
  val aggHistogram: Q = (s, d) => {
    val ev = Tables.events(s, d)
    val bounds = ev.agg(min($"value").as("mn"), max($"value").as("mx"))
    ev.crossJoin(broadcast(bounds))
      // degenerate range (mx == mn, e.g. a single distinct value) puts
      // everything in bin 0 instead of dividing by a zero width
      .withColumn("bin",
        when($"mx" === $"mn", lit(0L))
          .otherwise(least(lit(19L),
            floor(($"value" - $"mn") / (($"mx" - $"mn") / 20.0))))
          .cast("int"))
      .groupBy($"bin").agg(count(lit(1)).as("n"))
      .orderBy($"bin")
  }

  /** Incremental-view-maintenance algebra under the differential gate:
    * the orders aggregate is computed as BASE (orderdate < cut,
    * pre-aggregated) merged with DELTA (orderdate >= cut) by re-
    * aggregating the partials — sum-of-counts, sum-of-sums — while the
    * oracle recomputes the FULL aggregate from scratch. Equality proves
    * the merge is lossless, which is the property that lets a 100 TB
    * materialized aggregate absorb a day's delta without a full rescan.
    * Decimal partials: exact associative merge, no float fold hazard. */
  val aggIncremental: Q = (s, d) => {
    val cut = lit("1998-01-01").cast("timestamp")
    // r20: SplitSum discipline (ops.SplitSum) in the hot partial pass;
    // the partials are exact DECIMAL(38,0) cents — still associative,
    // still wide enough for any group total — and the 2-row-per-group
    // merge divides the scale back out once
    def partial(f: DataFrame): DataFrame = f
      .withColumn("tc", ($"o_totalprice".cast(dec) * 100).cast("long"))
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("pn"), SplitSum.splitSum($"tc").as("ps"))
    val o = Tables.orders(s, d)
    partial(o.filter($"o_orderdate" < cut))
      .unionByName(partial(o.filter($"o_orderdate" >= cut)))
      .groupBy($"o_orderpriority")
      .agg(sum($"pn").as("n_orders"),
        (sum($"ps") / 100).cast("double").as("sum_price"))
      .orderBy($"o_orderpriority")
  }

  /** The native as-of join ([[graft.engine.plans.AsOfJoinExec]] — the
    * custom LogicalPlan + Strategy + SparkPlan extension path) on the
    * same semantics and oracle as the composed `join_asof`: latest
    * order at or before each event's time per user. The composition
    * materializes every in-window (event, order) pair before `max_by`
    * collapses them; the operator streams one merge pass with one
    * buffered row of state. Both time columns are TIMESTAMP_NTZ, so
    * the merge compares one physical type with no cast. */
  val joinAsofNative: Q = nativeAsof(outer = false)

  /** Shared body for the native as-of queries — inner and left-outer
    * differ ONLY in the operator flag, so the projections and join
    * columns cannot drift apart. */
  private def nativeAsof(outer: Boolean): Q =
    nativeAsofOpts(outer = outer)

  /** Fully-parameterized native as-of body shared by every direction /
    * tolerance variant over the same (events, orders) pairing. The time
    * columns are TIMESTAMP_NTZ, whose internal representation is Long
    * MICROSECONDS — tolerance is expressed in those units. */
  private def nativeAsofOpts(outer: Boolean = false,
                             direction: String = "backward",
                             tolerance: Option[Long] = None): Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select($"event_id", $"user_id", $"ts".as("ets"))
    val o = Tables.orders(s, d)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
    graft.engine.plans.AsOfJoin.frames(ev, o,
      leftKey = "user_id", rightKey = "o_custkey",
      leftTime = "ets", rightTime = "o_orderdate", rightTie = "o_orderkey",
      outer = outer, direction = direction, tolerance = tolerance)
      .select($"event_id", $"o_orderkey", $"o_orderdate")
      .orderBy($"event_id")
  }

  /** Click/purchase split of the event stream shared by the direction /
    * tolerance as-of variants — a SELF as-of (same table both sides),
    * which also exercises the operator's shared-lineage re-aliasing.
    * Orders can't serve here: every order predates every event, so
    * forward/tolerance variants would be vacuous against them. */
  private def eventSides(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = Tables.events(s, d)
    (ev.filter($"event_type" === "click")
       .select($"event_id", $"user_id", $"ts".as("ets")),
     ev.filter($"event_type" === "purchase")
       .select($"event_id".as("p_event_id"), $"user_id".as("p_user"),
         $"ts".as("p_ts")))
  }

  private def eventAsof(direction: String, tolerance: Option[Long]): Q =
    (s, d) => {
      val (c, p) = eventSides(s, d)
      graft.engine.plans.AsOfJoin.frames(c, p,
        leftKey = "user_id", rightKey = "p_user",
        leftTime = "ets", rightTime = "p_ts", rightTie = "p_event_id",
        direction = direction, tolerance = tolerance)
        .select($"event_id", $"p_event_id", $"p_ts")
        .orderBy($"event_id")
    }

  /** Forward as-of: each click matched to the user's EARLIEST purchase
    * at-or-after it — the "time-to-conversion" lookup. Same
    * one-merge-pass operator, mirrored advance rule; clicks after a
    * user's last purchase drop out (inner). */
  val joinAsofForward: Q = eventAsof("forward", None)

  /** Nearest as-of: the time-closer of the backward and forward
    * purchase candidates, ties preferring backward — sensor-alignment
    * semantics (match each reading to the closest calibration record). */
  val joinAsofNearest: Q = eventAsof("nearest", None)

  /** One day in microseconds (TIMESTAMP_NTZ's internal unit) — the
    * tolerance bound for [[joinAsofTolerance]] and the oracle literal. */
  private val TolMicros1d: Long = 24L * 3600 * 1000000L

  /** Bounded-staleness as-of: backward match only if the latest prior
    * purchase is within one day — the freshness guard a feature-store
    * lookup needs (a month-old state row is worse than no match). */
  val joinAsofTolerance: Q = eventAsof("backward", Some(TolMicros1d))

  /** Exact distinct count via bitmap aggregation — the scale path for
    * dense-ish integer keys: map each key to (bucket = key/64,
    * bit = 1<<(key%64)), OR the bits per bucket (map-side combined,
    * 64 keys collapse into one long before the shuffle), then popcount.
    * Versus `count(distinct)`, the shuffle carries one long per
    * 64-key bucket instead of every distinct raw value — the
    * roaring-bitmap rollup trick. Oracle is the plain COUNT(DISTINCT):
    * equality proves the bitmap path exact, not approximate. */
  val aggBitmapDistinct: Q = (s, d) =>
    Tables.orders(s, d)
      .select(expr("o_custkey DIV 64").as("bucket"),
        expr("shiftleft(1L, cast(o_custkey % 64 as int))").as("bit"))
      .groupBy($"bucket").agg(bit_or($"bit").as("bm"))
      .agg(sum(bit_count($"bm")).cast("long").as("n_distinct"))

  /** Left-outer flavor of the native as-of join: events with no order
    * at-or-before their time survive with a null-padded right side
    * (none exist in the synthetic data — the unmatched path is
    * spec-covered with synthetic frames; the gate still locks the
    * matched semantics and the nullable output schema). */
  val joinAsofOuter: Q = nativeAsof(outer = true)

  /** Grid resampling by AS-OF join — the "state at regular instants"
    * operator every time-series store exposes (downsampling, feature
    * snapshots, training-time alignment): a 6-hour grid is generated
    * per user spanning their event history, and each grid instant
    * picks up the latest `(ts, event_id)` event at or before it
    * through the native [[graft.engine.plans.AsOfJoin]] — one
    * co-partitioned merge pass with one buffered row of state, NEVER
    * the grid × history pair blow-up the composed range-join form
    * would materialize (a year of history per grid point at 100 TB).
    * The grid starts one step after each user's first event, so every
    * point has a match and inner semantics lose nothing. The oracle
    * engine has no tie-controlled ASOF join, so it spells the same
    * semantics as join + two-stage reduction (max ts, then max
    * event_id among that ts). */
  val tsAsofGrid: Q = (s, d) => {
    val Step = 21600000000L // 6 h in µs
    val ev = Tables.events(s, d)
      .select($"user_id", $"event_id",
        expr("unix_micros(CAST(ts AS TIMESTAMP))").as("ts_us"))
    val grid = ev.groupBy($"user_id")
      .agg(expr(s"(min(ts_us) DIV $Step) * $Step").as("g0"),
        expr(s"(max(ts_us) DIV $Step) * $Step").as("g1"))
      .select($"user_id".as("g_user"),
        explode(expr(s"sequence(g0 + $Step, g1 + $Step, $Step)")).as("grid_us"))
    graft.engine.plans.AsOfJoin.frames(
        grid, ev.select($"user_id".as("e_user"), $"event_id", $"ts_us"),
        leftKey = "g_user", rightKey = "e_user",
        leftTime = "grid_us", rightTime = "ts_us", rightTie = "event_id")
      .select($"g_user".as("user_id"), $"grid_us",
        $"event_id".as("last_event_id"), $"ts_us".as("last_ts_us"))
      .orderBy($"user_id", $"grid_us")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("ts_asof_grid", tsAsofGrid, Some(
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        | b AS (
        |  SELECT user_id,
        |    (min(ts_us) // 21600000000) * 21600000000 AS g0,
        |    (max(ts_us) // 21600000000) * 21600000000 AS g1
        |  FROM e GROUP BY user_id),
        | g AS (
        |  SELECT user_id, unnest(generate_series(
        |    g0 + 21600000000, g1 + 21600000000, 21600000000)) AS grid_us
        |  FROM b),
        | j AS (
        |  SELECT g.user_id, g.grid_us, e.ts_us, e.event_id
        |  FROM g JOIN e ON e.user_id = g.user_id AND e.ts_us <= g.grid_us),
        | m AS (
        |  SELECT user_id, grid_us, max(ts_us) AS last_ts_us
        |  FROM j GROUP BY 1, 2)
        |SELECT m.user_id, m.grid_us,
        |  CAST(max(j.event_id) AS BIGINT) AS last_event_id, m.last_ts_us
        |FROM m JOIN j ON j.user_id = m.user_id AND j.grid_us = m.grid_us
        |  AND j.ts_us = m.last_ts_us
        |GROUP BY m.user_id, m.grid_us, m.last_ts_us
        |ORDER BY m.user_id, m.grid_us""".stripMargin)),

    QueryDef("agg_bitmap_distinct", aggBitmapDistinct, Some(
      "SELECT count(DISTINCT o_custkey) AS n_distinct FROM orders")),

    QueryDef("join_asof_native", joinAsofNative, Some(
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
        |  FROM events e
        |  JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    QueryDef("join_asof_outer", joinAsofOuter, Some(
      """SELECT event_id, o_orderkey, o_orderdate FROM (
        |  SELECT e.event_id, o.o_orderkey, o.o_orderdate,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY o.o_orderdate DESC NULLS LAST,
        |               o.o_orderkey DESC NULLS LAST) AS rn
        |  FROM events e
        |  LEFT JOIN orders o ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    QueryDef("join_asof_forward", joinAsofForward, Some(
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        | p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts
        |       FROM events WHERE event_type = 'purchase')
        |SELECT event_id, p_event_id, p_ts FROM (
        |  SELECT c.event_id, p.p_event_id, p.p_ts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.p_ts ASC, p.p_event_id ASC) AS rn
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.p_ts >= c.ts
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    // per-side candidate first (greatest <= ts / least > ts, each with
    // its own tie order), THEN the closer side wins, ties to backward —
    // exactly the operator's selection rule. Distances compare in
    // integer epoch-microseconds, the operator's internal time unit.
    QueryDef("join_asof_nearest", joinAsofNearest, Some(
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        | p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts
        |       FROM events WHERE event_type = 'purchase'),
        | b AS (
        |  SELECT * FROM (
        |    SELECT c.event_id, p.p_event_id, p.p_ts,
        |      epoch_us(c.ts) - epoch_us(p.p_ts) AS dist,
        |      row_number() OVER (PARTITION BY c.event_id
        |        ORDER BY p.p_ts DESC, p.p_event_id DESC) AS rn
        |    FROM c JOIN p ON c.user_id = p.user_id AND p.p_ts <= c.ts
        |  ) WHERE rn = 1),
        | f AS (
        |  SELECT * FROM (
        |    SELECT c.event_id, p.p_event_id, p.p_ts,
        |      epoch_us(p.p_ts) - epoch_us(c.ts) AS dist,
        |      row_number() OVER (PARTITION BY c.event_id
        |        ORDER BY p.p_ts ASC, p.p_event_id ASC) AS rn
        |    FROM c JOIN p ON c.user_id = p.user_id AND p.p_ts > c.ts
        |  ) WHERE rn = 1)
        |SELECT c.event_id,
        |  CASE WHEN b.dist IS NOT NULL AND (f.dist IS NULL OR b.dist <= f.dist)
        |       THEN b.p_event_id ELSE f.p_event_id END AS p_event_id,
        |  CASE WHEN b.dist IS NOT NULL AND (f.dist IS NULL OR b.dist <= f.dist)
        |       THEN b.p_ts ELSE f.p_ts END AS p_ts
        |FROM c
        |LEFT JOIN b ON b.event_id = c.event_id
        |LEFT JOIN f ON f.event_id = c.event_id
        |WHERE b.dist IS NOT NULL OR f.dist IS NOT NULL
        |ORDER BY c.event_id""".stripMargin)),

    QueryDef("join_asof_tolerance", joinAsofTolerance, Some(
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        | p AS (SELECT event_id AS p_event_id, user_id, ts AS p_ts
        |       FROM events WHERE event_type = 'purchase')
        |SELECT event_id, p_event_id, p_ts FROM (
        |  SELECT c.event_id, p.p_event_id, p.p_ts,
        |    row_number() OVER (PARTITION BY c.event_id
        |      ORDER BY p.p_ts DESC, p.p_event_id DESC) AS rn
        |  FROM c JOIN p ON c.user_id = p.user_id AND p.p_ts <= c.ts
        |    AND epoch_us(c.ts) - epoch_us(p.p_ts) <= 86400000000
        |) WHERE rn = 1 ORDER BY event_id""".stripMargin)),

    QueryDef("agg_histogram", aggHistogram, Some(
      """WITH b AS (SELECT min(value) AS mn, max(value) AS mx FROM events)
        |SELECT CAST(CASE WHEN mx = mn THEN 0
        |  ELSE least(19, floor((value - mn) / ((mx - mn) / 20.0)))
        |  END AS INTEGER) AS bin,
        |  count(1) AS n
        |FROM events, b GROUP BY 1 ORDER BY bin""".stripMargin)),

    QueryDef("agg_incremental", aggIncremental, Some(
      """SELECT o_orderpriority, count(1) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("join_band_auto", joinBandAuto, Some(
      """SELECT l.l_orderkey, l.l_linenumber, p.p_partkey,
        |  round(abs(l.l_extendedprice - p.p_retailprice), 4) AS price_diff
        |FROM lineitem l JOIN part p
        |  ON abs(l.l_extendedprice - p.p_retailprice) <= 0.5
        |WHERE l.l_quantity = 1
        |ORDER BY l.l_orderkey, l.l_linenumber, p.p_partkey, price_diff""".stripMargin)),

    QueryDef("join_range_bucket", joinRangeBucket, Some(
      """SELECT l.l_orderkey, l.l_linenumber, p.p_partkey,
        |  round(abs(l.l_extendedprice - p.p_retailprice), 4) AS price_diff
        |FROM lineitem l JOIN part p
        |  ON abs(l.l_extendedprice - p.p_retailprice) <= 0.5
        |WHERE l.l_quantity = 1
        |ORDER BY l.l_orderkey, l.l_linenumber, p.p_partkey, price_diff""".stripMargin)),

    QueryDef("win_lead", winLead, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice,
        |  lead(o_totalprice, 1) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey) AS next_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin)),

    QueryDef("set_union_distinct", setUnionDistinct, Some(
      """SELECT o_custkey AS k FROM orders
        |UNION
        |SELECT user_id AS k FROM events
        |ORDER BY k""".stripMargin)),

    QueryDef("agg_corr", aggCorr, Some(
      """WITH a AS (
        |  SELECT l_returnflag, count(1) AS n,
        |    SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sx,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy,
        |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx,
        |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS syy,
        |    SUM(CAST(CAST(l_quantity AS DECIMAL(18,2))
        |        * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(
        |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
        |    / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
        |         * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)),
        |    4) AS corr_qty_price
        |FROM a ORDER BY l_returnflag""".stripMargin)),

    QueryDef("join_shuffle_hash", joinShuffleHash, Some(
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin)),

    QueryDef("fn_json_tuple", fnJsonTuple, Some(
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
        |  json_extract_string(props, '$.missing') AS missing
        |FROM events ORDER BY event_id""".stripMargin)),

    QueryDef("sample_stratified", sampleStratified, Some {
      val key = "concat_ws(':', l_orderkey, l_linenumber, l_partkey, l_suppkey)"
      val rate = StratifiedBp.map { case (k, v) => s"WHEN '$k' THEN $v" }
        .mkString(" ")
      s"""SELECT l_returnflag, CAST(count(1) AS BIGINT) AS n_sampled
        |FROM (
        |  SELECT l_returnflag,
        |    ${DedupOps.duckCharHash(key)} % 10000 AS bucket,
        |    CASE l_returnflag $rate END AS rate_bp
        |  FROM lineitem)
        |WHERE rate_bp IS NOT NULL AND bucket < rate_bp
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin
    }),

    QueryDef("fn_string2", fnString2, Some(
      """SELECT p_partkey,
        |  lpad(p_brand, 12, '*') AS pad_l,
        |  rpad(p_brand, 12, '.') AS pad_r,
        |  translate(p_name, 'ae', '43') AS leeted,
        |  reverse(p_brand) AS rev,
        |  split_part(p_type, ' ', 1) AS first_part,
        |  CAST(levenshtein(p_brand, 'Brand#00') AS INTEGER) AS edit_dist,
        |  left(p_name, 6) AS head6,
        |  right(p_name, 4) AS tail4,
        |  CAST(CASE WHEN position('BRUSHED' IN p_type) IS NULL THEN 0
        |       ELSE position('BRUSHED' IN p_type) END AS INTEGER) AS brushed_at
        |FROM part ORDER BY p_partkey""".stripMargin)),

    QueryDef("agg_minmax_by", aggMinmaxBy, Some(
      """SELECT o_orderpriority,
        |  arg_max(o_orderkey, printf('%020.2f', o_totalprice) || '-'
        |    || printf('%020d', o_orderkey)) AS priciest_key,
        |  arg_min(o_orderkey, printf('%020.2f', o_totalprice) || '-'
        |    || printf('%020d', o_orderkey)) AS cheapest_key,
        |  max(o_totalprice) AS max_price
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    QueryDef("agg_collect", aggCollect, Some(
      """SELECT n_regionkey,
        |  array_to_string(list_sort(list(n_name)), ',') AS nations
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    QueryDef("fn_bitwise", fnBitwise, Some(
      """SELECT l_orderkey, l_linenumber,
        |  l_orderkey & 255 AS band,
        |  l_orderkey | l_linenumber AS bor,
        |  xor(l_orderkey, CAST(l_linenumber AS BIGINT)) AS bxor,
        |  CAST(l_linenumber << 4 AS INTEGER) AS shl,
        |  l_orderkey >> 3 AS shr
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    QueryDef("win_range", winRange, Some(
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_orderpriority ORDER BY o_totalprice
        |    RANGE BETWEEN 5000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS nearby_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin)),
  )
}
