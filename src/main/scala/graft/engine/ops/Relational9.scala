package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Ninth relational batch (round 5): storage-layout and sketch
  * primitives a 100 TB pipeline leans on daily — scale-safe global
  * row enumeration, compaction bin-packing, histogram-selection
  * winsorization, Johnson–Lindenstrauss random projection, and an
  * oracle-exact HyperLogLog twin (the register table built from the
  * engine's own cross-engine hash, so the approximate sketch is
  * hash-gated exactly like `agg_countmin`).
  *
  * Determinism: SURVEY §7.3 throughout — floor-scaled BIGINT for
  * every computed double, DECIMAL(38,0)/HUGEINT for products that
  * can exceed int64, unique sort keys on every output.
  */
object Relational9 {
  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------------- enumerate

  /** Stable global row enumeration of documents by (source, doc_id)
    * WITHOUT a single-partition window — the [[ZipIndex]] global rank.
    * The `row_number() OVER (ORDER BY ...)` the oracle runs is exactly
    * the plan shape that does NOT survive 100 TB (one task sorts
    * everything); this is its scale-safe equivalent, and the spec
    * asserts the plan contains no SinglePartition exchange.
    *
    * ZipIndex ranks on the (source, doc_id) columns DIRECTLY — the
    * earlier `cumBefore(count=1)` spelling had to linearize the tuple
    * order into one zero-padded U+0001-separated concat key for its
    * single-column range key, and paid a second full exchange for its
    * per-partition window; a count prefix sum IS the rank, so both go
    * away. doc_id is unique, making the tuple a total order (§7.3
    * unique-sort-key rule). */
  val dataEnumerate: Q = (s, d) => {
    val (idxed, _) = ZipIndex.ranked(
      Tables.documents(s, d).select($"doc_id", $"source"),
      Seq($"source", $"doc_id"), "idx0")
    idxed
      .select($"doc_id", $"source", ($"idx0" + 1L).as("global_idx"))
      .orderBy($"global_idx")
  }

  // ---------------------------------------------------------------- compact

  /** Compaction bin width in document characters (stand-in for file
    * bytes): small enough that every source needs several bins at
    * sf0.01, large enough that most bins hold >1 file. */
  val CompactTarget = 4000L

  /** Documents per synthetic "file" id stripe (doc_id DIV 100 within
    * a source ≈ one parquet footer's worth of rows). */
  val CompactStripe = 100L

  /** Small-file compaction planning (the OPTIMIZE/bin-pack primitive):
    * synthesize per-source "files" (doc_id stripes with summed char
    * sizes), then assign each file to a compaction bin by exclusive
    * running size DIV target — contiguous range packing, exactly what
    * a table-format OPTIMIZE job does (adjacent small files coalesce;
    * no reordering, so the table's sort survives).
    *
    * Scale story: the file list is |data| / file-size rows — already
    * millions of times smaller than the data; the per-source window
    * is bounded by files-per-partition (a real OPTIMIZE plans one
    * table partition at a time). The plan never touches the row data:
    * one map-side-combined aggregate builds the file list, one narrow
    * window lays out the bins. */
  val dataCompactPlan: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy($"source", expr(s"doc_id DIV $CompactStripe").as("file_id"))
      .agg(sum($"n_chars").as("f_bytes"), count(lit(1)).as("n_docs"))
      .withColumn("cum_before", coalesce(
        sum($"f_bytes").over(Window.partitionBy($"source").orderBy($"file_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select($"source", $"file_id", $"n_docs", $"f_bytes",
        expr(s"cum_before DIV $CompactTarget").as("bin_id"),
        ($"cum_before" % lit(CompactTarget)).as("bin_off"))
      .orderBy($"source", $"file_id")

  // ---------------------------------------------------------------- winsorize

  /** Winsorization percentile in percent (clip at p05 / p95). */
  val WinsorPct = 5L

  /** Per-type winsorization (outlier clipping) with percentiles picked
    * by HISTOGRAM SELECTION, not a rank window: per (event_type,
    * value) counts roll up map-side, a window over the value-histogram
    * (|distinct values| rows, not |events| rows) finds the smallest
    * value whose cumulative count reaches ceil(p·n), and the two
    * thresholds broadcast back onto the events. A per-type rank window
    * over raw events would buffer a whole type's events in one task —
    * the partition-sized-state hazard; the histogram is the same
    * answer at a fraction of the state (`agg_median_select` is the
    * two-pass cousin for a single global median).
    *
    * All thresholds are SAMPLE values (lower percentile), so the whole
    * path stays in floor-scaled BIGINT micro-units. */
  val tsWinsorize: Q = (s, d) => {
    val ev = Tables.events(s, d)
      .select($"event_id", $"event_type",
        expr("CAST(floor(value * 1000000) AS BIGINT)").as("v_mu"))
    val hist = ev.groupBy($"event_type", $"v_mu").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum($"c").over(
        Window.partitionBy($"event_type").orderBy($"v_mu")
          .rowsBetween(Window.unboundedPreceding, 0)))
    val bounds = hist
      .join(broadcast(ev.groupBy($"event_type").agg(count(lit(1)).as("n"))),
        Seq("event_type"))
      .groupBy($"event_type")
      .agg(
        min(when($"cum" >= expr(s"(n * $WinsorPct + 99) DIV 100"), $"v_mu"))
          .as("p_lo_mu"),
        min(when($"cum" >= expr(s"(n * ${100 - WinsorPct} + 99) DIV 100"), $"v_mu"))
          .as("p_hi_mu"))
    ev.join(broadcast(bounds), Seq("event_type"))
      .select($"event_id", $"event_type", $"v_mu", $"p_lo_mu", $"p_hi_mu",
        least(greatest($"v_mu", $"p_lo_mu"), $"p_hi_mu").as("v_clip_mu"))
      .orderBy($"event_id")
  }

  // ---------------------------------------------------------------- random projection

  /** Output dimensionality of the random projection. */
  val RpDims = 16

  /** Johnson–Lindenstrauss random projection 64 → [[RpDims]] dims with
    * a DETERMINISTIC ±1 sign matrix derived from the engine's own
    * cross-engine hash (`graft_polyhash("rp:k:j") % 2`), so the oracle
    * rebuilds the identical matrix and the gate is hash-exact — the
    * same sketch-from-own-hash trick as `agg_countmin`.
    *
    * Elements enter as floor(x·10⁶) BIGINT micro-units, so each
    * projection is a ±1-weighted INTEGER sum — order-invariant, no
    * float fold hazard (|x| ≤ ~1 ⇒ |proj| ≤ 64·10⁶, far from
    * overflow). Shape: map-only — per row 16 bounded folds over the
    * 64 elements, zero shuffle (the spec asserts shuffle-free);
    * dimension reduction before an ANN stage is exactly where you
    * cannot afford a pass that shuffles. */
  val embedRp: Q = (s, d) => {
    TextFeatures.ensureRegistered(s)
    // the ±1 sign matrix is CONSTANT — derive it once driver-side from
    // the same engine hash the oracle mirrors (VectorOps.polyHash ==
    // graft_polyhash by construction) and inline it as a literal, so
    // the per-row work is ONE native codegen'd integer matvec
    // (functions.IntMatVec) instead of rows·dims = 1024 interpreted
    // lambda steps (the nested transform/aggregate spelling — measured
    // ~10× slower); bit-parity with the declarative fold is
    // property-tested in Relational9Spec
    val signs = (0 until RpDims).flatMap { k =>
      (0 until 64).map { j =>
        if (graft.engine.functions.VectorOps.polyHash(
          org.apache.spark.unsafe.types.UTF8String.fromString(s"rp:$k:$j"))
          % 2 == 0) 1L else -1L
      }
    }
    val mLit = "array(" + signs.map(_ + "L").mkString(",") + ")"
    Tables.embeddings(s, d)
      .select($"vec_id",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")
          .as("v_mu"))
      .select($"vec_id",
        posexplode(expr(s"graft_matvec(v_mu, $mLit, $RpDims)"))
          .as(Seq("k", "proj_mu")))
      .select($"vec_id", $"k".cast("long").as("k"), $"proj_mu")
      .orderBy($"vec_id", $"k")
  }

  // ---------------------------------------------------------------- hyperloglog

  /** HLL register count (2^8) and the scaled bias constant
    * floor(0.7213 / (1 + 1.079/256) · 10⁶). */
  val HllM = 256
  val HllAlphaE6 = 718272L

  /** HyperLogLog distinct-count twin with an ORACLE-EXACT register
    * table: bucket and rank are two disjoint 32-bit slices of ONE md5
    * digest per key (hex chars 1–8 and 9–16), so DuckDB builds
    * bit-identical registers and even the approximate estimate is
    * hash-gated — the same trick that promoted `agg_countmin`, filling
    * the gap that keeps builtin `agg_approx_distinct` no-oracle (HLL++
    * internals aren't portable; this one's are, by construction).
    *
    * md5, NOT `graft_polyhash`: a polynomial rolling hash is an
    * EQUALITY hash — same-length keys land in a few contiguous
    * magnitude bands, so its leading-zero rank takes ~3 distinct
    * values and the estimate came out 42% low. HLL consumes hash BITS;
    * only an avalanching digest is uniform bit-by-bit (even two Lehmer
    * rounds on the polyhash still left 30% bias — measured, not
    * guessed). Cross-engine: Spark `conv(substr(md5(…)),16,10)`,
    * DuckDB `CAST('0x'||substr(md5(…)) AS BIGINT)` — same digest, same
    * slices.
    *
    * rho is the 30-bit leading-zero rank spelled with binary-string
    * length (31 − len(bin(h)), h=0 → 31) — identical in both engines;
    * registers are max-per-bucket (map-side combined: the shuffle
    * carries ≤ partitions·256 rows no matter how many input rows);
    * the estimate α·m²/Σ2^(−r) runs in DECIMAL(38,0)/HUGEINT with
    * 2^(31−r) integer weights. No small-range linear-counting branch:
    * that needs ln(), and the zero-register count V is emitted so a
    * presentation layer can apply it; at the declared cardinality
    * (~15k orderkeys at sf0.01) HLL is in its asymptotic regime.
    *
    * Scale story: the sketch is THE cardinality plan at 100 TB — the
    * exact `count(DISTINCT)` the output also carries for the error
    * column is the one that shuffles every key; the registers never
    * exceed 256 rows. */
  val aggHll: Q = (s, d) => {
    val ins = Tables.lineitem(s, d).select($"l_orderkey".cast("string").as("k"))
    graft.engine.functions.VectorOps.register(s)
    // native register extraction (graft_hll_reg): same (b, rho) as the
    // md5 → conv(substr) → bin-length chain the oracle keeps, without
    // the concat + 32-char hex + two substring copies per row
    // (HllRegSpec fuzzes the equivalence)
    val regs = ins
      .select(expr(s"graft_hll_reg(k, $HllM)").as("br"))
      .select($"br.b".as("b"), $"br.rho".as("rho"))
      .groupBy($"b").agg(max($"rho").as("r"))
    val universe = ins.sparkSession.range(HllM).select($"id".as("b"))
    val est = universe.join(regs, Seq("b"), "left")
      .select(coalesce($"r", lit(0)).as("r"))
      .agg(
        sum(expr("shiftleft(1L, 31 - r)")).as("s_inv"),
        sum(when($"r" === 0, 1L).otherwise(0L)).as("v_zero"))
      .select($"s_inv", $"v_zero", expr(
        s"""CAST((CAST($HllAlphaE6 AS DECIMAL(38,0)) * $HllM * $HllM * 2147483648)
           | DIV (CAST(s_inv AS DECIMAL(38,0)) * 1000000) AS BIGINT)""".stripMargin
          .replaceAll("\n", "")).as("est_hll"))
    val exact = ins.agg(countDistinct($"k").as("exact_distinct"))
    est.crossJoin(exact)
      .select(lit(HllM.toLong).as("m"), $"v_zero", $"s_inv", $"est_hll",
        $"exact_distinct",
        expr("abs(est_hll - exact_distinct) * 10000 DIV exact_distinct")
          .as("err_bp"))
  }

  private def duckPoly(arg: String): String = DedupOps.duckCharHash(arg)

  val defs: Seq[QueryDef] = Seq(
    QueryDef("data_enumerate", dataEnumerate, Some(
      """SELECT doc_id, source,
        |  row_number() OVER (ORDER BY source, doc_id) AS global_idx
        |FROM documents ORDER BY global_idx""".stripMargin)),

    QueryDef("data_compact_plan", dataCompactPlan, Some(
      s"""WITH f AS (
        |  SELECT source, CAST(doc_id // $CompactStripe AS BIGINT) AS file_id,
        |    CAST(count(1) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS f_bytes
        |  FROM documents GROUP BY 1, 2),
        | c AS (
        |  SELECT source, file_id, n_docs, f_bytes,
        |    CAST(coalesce(sum(f_bytes) OVER (PARTITION BY source
        |      ORDER BY file_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0) AS BIGINT) AS cum_before
        |  FROM f)
        |SELECT source, file_id, n_docs, f_bytes,
        |  CAST(cum_before // $CompactTarget AS BIGINT) AS bin_id,
        |  CAST(cum_before % $CompactTarget AS BIGINT) AS bin_off
        |FROM c ORDER BY source, file_id""".stripMargin)),

    QueryDef("ts_winsorize", tsWinsorize, Some(
      s"""WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(value * 1000000) AS BIGINT) AS v_mu
        |  FROM events),
        | h AS (
        |  SELECT event_type, v_mu, count(1) AS c FROM e GROUP BY 1, 2),
        | cum AS (
        |  SELECT event_type, v_mu,
        |    sum(c) OVER (PARTITION BY event_type ORDER BY v_mu
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM h),
        | n AS (SELECT event_type, count(1) AS n FROM e GROUP BY 1),
        | b AS (
        |  SELECT cum.event_type,
        |    min(CASE WHEN cum >= (n * $WinsorPct + 99) // 100
        |        THEN v_mu END) AS p_lo_mu,
        |    min(CASE WHEN cum >= (n * ${100 - WinsorPct} + 99) // 100
        |        THEN v_mu END) AS p_hi_mu
        |  FROM cum JOIN n ON n.event_type = cum.event_type
        |  GROUP BY cum.event_type)
        |SELECT event_id, e.event_type, v_mu, p_lo_mu, p_hi_mu,
        |  least(greatest(v_mu, p_lo_mu), p_hi_mu) AS v_clip_mu
        |FROM e JOIN b ON b.event_type = e.event_type
        |ORDER BY event_id""".stripMargin)),

    QueryDef("embed_rp", embedRp, Some {
      val h = duckPoly("concat('rp:', CAST(k AS VARCHAR), ':', CAST(j AS VARCHAR))")
      s"""WITH v AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v_mu
        |  FROM embeddings),
        | ks AS (SELECT unnest(range($RpDims)) AS k),
        | sgn AS (
        |  SELECT k, j, CASE WHEN $h % 2 = 0 THEN 1 ELSE -1 END AS s
        |  FROM ks, (SELECT unnest(range(64)) AS j)),
        | terms AS (
        |  SELECT vec_id, sgn.k AS k, sgn.s * v_mu[sgn.j + 1] AS t
        |  FROM v, sgn)
        |SELECT vec_id, CAST(k AS BIGINT) AS k,
        |  CAST(sum(t) AS BIGINT) AS proj_mu
        |FROM terms GROUP BY vec_id, k ORDER BY vec_id, k""".stripMargin
    }),

    QueryDef("agg_hll", aggHll, Some(
      s"""WITH ins AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
        | hx AS (SELECT md5(concat('hll:', k)) AS hx FROM ins),
        | hv AS (
        |  SELECT CAST(concat('0x', substr(hx, 1, 8)) AS BIGINT) % $HllM AS b,
        |    CAST(concat('0x', substr(hx, 9, 8)) AS BIGINT) % 1073741824 AS h
        |  FROM hx),
        | hs AS (
        |  SELECT b,
        |    31 - (CASE WHEN h = 0 THEN 0 ELSE length(bin(h)) END) AS rho
        |  FROM hv),
        | regs AS (SELECT b, max(rho) AS r FROM hs GROUP BY b),
        | filled AS (
        |  SELECT u.b, coalesce(regs.r, 0) AS r
        |  FROM (SELECT unnest(range($HllM)) AS b) u
        |    LEFT JOIN regs ON regs.b = u.b),
        | agg AS (
        |  SELECT CAST(sum(CAST(1 AS BIGINT) << (31 - r)) AS BIGINT) AS s_inv,
        |    CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_zero
        |  FROM filled),
        | ex AS (SELECT CAST(count(DISTINCT k) AS BIGINT) AS exact_distinct
        |        FROM ins)
        |SELECT CAST($HllM AS BIGINT) AS m, v_zero, s_inv,
        |  CAST((CAST($HllAlphaE6 AS HUGEINT) * $HllM * $HllM * 2147483648)
        |    // (CAST(s_inv AS HUGEINT) * 1000000) AS BIGINT) AS est_hll,
        |  exact_distinct,
        |  CAST(abs(CAST((CAST($HllAlphaE6 AS HUGEINT) * $HllM * $HllM * 2147483648)
        |    // (CAST(s_inv AS HUGEINT) * 1000000) AS BIGINT) - exact_distinct)
        |    * 10000 // exact_distinct AS BIGINT) AS err_bp
        |FROM agg, ex""".stripMargin)),
  )
}
