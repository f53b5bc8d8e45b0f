package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Near-duplicate detection family over `documents` / `embeddings`
  * (north-star LLM-pipeline operators): exact n-gram Jaccard,
  * MinHash+LSH banding, SimHash, and embedding-cosine near-dup.
  *
  * Scale design: [[dedupMinhash]] is the 100 TB path — per-doc MinHash
  * signatures (linear map-only pass), band explosion (16 rows/doc),
  * and an equi-join on band keys, so candidate generation never goes
  * quadratic. [[dedupNear]] is the exact similarity join (narrow-row
  * shingle equi-join, bounded by shingle frequency, not corpus size);
  * [[dedupEmbed]] pairs the FULL corpus through bounded IVF candidates
  * (adaptive √N centroids, bucket-capped) + exact-cosine verify, and
  * [[dedupSimhashDup]] pairs fingerprints through provably-lossless
  * Hamming banding.
  *
  * All hashes are 31-base polynomial mod 1e9+7 (cross-engine-stable);
  * permutations are fixed literal (a, b) pairs, so MinHash signatures
  * are bit-identical in Spark and the DuckDB oracle.
  */
object DedupOps {
  import TextFeatures._
  type Q = (SparkSession, String) => DataFrame

  private val P = "1000000007"
  private val A = Seq(7, 13, 31, 43, 59, 61, 73, 97, 101, 127, 131, 151, 163, 181, 197, 199)
  private val B = Seq(3, 17, 29, 41, 53, 71, 89, 103, 113, 139, 149, 167, 179, 191, 211, 223)

  /** IVF parameters for [[dedupEmbed]]: probes per vector (recall
    * knob) and the per-bucket candidate cap (work bound). The coarse
    * centroid count is NOT a constant — it grows with the corpus via
    * [[embedCentroidCount]], keeping expected bucket size ~2·√N. */
  val EmbedProbes = 2

  /** Hard per-bucket cap: a centroid bucket larger than this is
    * EXCLUDED from candidate generation (recall knob, mirrored by the
    * oracle), so worst-case pair work is bounded by C·cap²/2 no matter
    * how degenerate the vector distribution — the same df-cap contract
    * [[dedupNearCapped]] uses for hot shingles. At the test SFs the
    * largest bucket is ~200 rows, so the guard is inert locally;
    * EmbedGuardSpec proves it fires on an adversarial all-one-direction
    * corpus. */
  val EmbedMaxBucket = 4096L

  /** Coarse-centroid count for corpus size n: max(8, ⌈√n/2⌉), capped
    * at 99,999 (the sortable-BIGINT encoding packs the centroid id
    * into the low 5 decimal digits). Assignment is a brute-force
    * N·C dot pass — fine through C ~ 10⁵; past that (n ≳ 10¹⁰
    * vectors) a two-level / hierarchical centroid assignment replaces
    * the flat argmax, leaving the rest of the pipeline unchanged. */
  def embedCentroidCount(n: Long): Int =
    math.min(99999L, math.max(8L, math.ceil(math.sqrt(n.toDouble) / 2).toLong)).toInt

  /** (doc_id, sh, n) where sh = distinct 3-token shingles.
    *
    * Repartition FIRST so the expensive tokenize→shingle projection
    * runs on all cores (the single-file parquet scan is otherwise one
    * partition), then `localCheckpoint` to materialize the shingle
    * sets exactly once: every consumer (the exact-Jaccard join reuses
    * it twice, MinHash three times) reads the computed arrays instead
    * of re-running the regexp chain — at cluster scale this is the
    * persisted signature/feature table every dedup pipeline keeps. */
  private def shingled(s: SparkSession, d: String): DataFrame = {
    ensureRegistered(s)
    // no filter on the computed column here: a pushed-down filter gets
    // the whole shingle expression re-inlined below the exchange and
    // re-evaluated single-threaded at the scan. Empty shingle sets are
    // harmless downstream (explode drops them; no bands, no pairs).
    Tables.documents(s, d)
      .select($"doc_id", $"text")
      .repartition($"doc_id")
      .withColumn("toks", tokens($"text"))
      .withColumn("sh", expr("graft_shingles(toks)"))
      .select($"doc_id", $"sh", size($"sh").as("n"))
      .transform(Checkpoints.cut)
  }

  /** Max document frequency for a shingle to participate in
    * [[dedupNear]] candidate generation. A shingle shared by F docs
    * contributes C(F,2) join rows — one adversarially hot shingle
    * (boilerplate headers, license text) makes the equi-join
    * quadratic. Capping trades recall exactly like any candidate
    * pruner: a dropped shingle only lowers the computed |A∩B|, so the
    * cap can only REMOVE pairs, never add (property-tested). The
    * default is ~40× the hottest shingle at sf0.1 (25), so test-scale
    * results are unchanged. */
  val NearMaxShingleDf = 1000

  /** The df-windowed posting list feeding [[dedupNearCapped]] and
    * [[dedupContainment]]'s self-equi-joins: one (doc_id, n, shingle)
    * row per posting whose shingle has 2 ≤ df ≤ maxDf, checkpointed
    * (the self-join consumes it twice and aliasing defeats exchange
    * reuse under AQE).
    *
    * The document frequency comes from `count(*) OVER (PARTITION BY
    * g)` — exactly the per-shingle group count — instead of the r19
    * groupBy(g)+join-back spelling: ONE pass over the postings (one
    * explode, one exchange by g, window count, filter) where the
    * aggregate+join-back planned the explode subtree twice and paid a
    * second (partial-agg-compressed but near-full: shingles rarely
    * repeat within a map partition) posting shuffle for the df table
    * before broadcasting it back over the postings. Identical kept
    * multiset by construction; measured r20 isolated A/B −43%/−45% on
    * dedup_near/dedup_containment at sf0.1 (2.08→1.20 s, 2.15→1.17 s
    * steady), rows byte-identical.
    *
    * Prefilter semantics (unchanged from r19): a shingle in exactly
    * ONE document can never produce a pair — the self-equi-join needs
    * both sides to share g and doc_a < doc_b — so the lower bound is
    * a no-op on results; the upper cap is the hot-shingle pruner that
    * keeps Σ C(df,2) from blowing up on boilerplate at 100 TB (a
    * dropped shingle only lowers the computed |A∩B|; the oracle
    * applies the identical cap).
    * (Negative probes, do not redo: an inverted-index formulation —
    * collect_list posting per shingle, lambda-explode the pairs — was
    * measured 25% SLOWER despite one fewer exchange (higher-order
    * functions run interpreted, the self-equi-join stays inside
    * whole-stage codegen); a full AllPairs/PPJoin prefix filter was
    * built and measured in round 9: byte-identical results but 2×
    * SLOWER at sf0.1 — prefix filtering pays only when hot shingles
    * explode Σ C(df,2), which the df cap already prevents.) */
  private def keptPostings(s: SparkSession, d: String, maxDf: Long): DataFrame = {
    val base = shingled(s, d)
    // n rides along for the length prune at enumeration and the final
    // Jaccard/containment scores (8 bytes per posting row in the
    // checkpoint; carrying it as a group key downstream is what lets
    // both consumers skip their former per-side size joins)
    val ex = base.select($"doc_id", $"n", explode($"sh").as("g"))
    Checkpoints.cut(
      ex.withColumn("df",
          count(lit(1)).over(Window.partitionBy($"g")))
        .filter($"df" >= 2 && $"df" <= maxDf)
        .select($"doc_id", $"n", $"g"))
  }

  /** Exact 3-gram (shingle) Jaccard near-dup pairs at τ = 0.5 over
    * the full corpus, via the scalable exact similarity join: explode
    * shingles → self-equi-join on the shingle string → per-pair match
    * count (|A∩B|) by hash aggregate → Jaccard filter. No nested-loop
    * pairing, no wide arrays through the shuffle — every row that
    * moves is (doc_id, n, shingle) or (doc_a, doc_b, na, nb, inter).
    * Pairs sharing zero shingles can't reach τ > 0, so the equi-join
    * loses nothing; df-capped postings come from [[keptPostings]]. */
  def dedupNearCapped(maxDf: Long): Q = (s, d) => {
    val kept = keptPostings(s, d, maxDf)
    // Length filter AT ENUMERATION (the similarity-join literature's
    // length prune): Jaccard >= 0.5 forces |n_a - n_b| <= min(na, nb),
    // i.e. 2·least >= greatest — the exact integer spelling of the
    // post-aggregate `least >= 0.5·greatest` double predicate (both
    // sides exact: longs ≤ 2^53). The predicate reads only (na, nb),
    // never `inter`, so pruning a pair's rows here removes precisely
    // the groups the downstream filter discards — results unchanged
    // (the differential gate pins it), but mismatched-length pairs
    // never reach the aggregate. On this length-homogeneous test
    // corpus that is ~24% of pair rows; on a real mixed-length corpus
    // the prune is the difference between Σ C(df,2) and a fraction of
    // it, at the cost of one BIGINT per posting row in the checkpoint.
    // na/nb ride the aggregate as GROUP KEYS (functionally dependent
    // on doc_a/doc_b — same group cardinality, +16 bytes per pair row
    // through the exchange) instead of the r19 per-side size joins
    // back against `base`: two fewer joins, and at corpus scale the
    // pair table never re-shuffles against a corpus-sized size table.
    // (The r19 post-aggregate length filter is gone with them — the
    // enumeration predicate above already enforced exactly it, so it
    // passed every surviving group by construction.)
    kept.as("x").join(kept.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")) * 2 >= greatest(col("x.n"), col("y.n")))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", round($"inter".cast("double") / ($"na" + $"nb" - $"inter"), 4))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  val dedupNear: Q = dedupNearCapped(NearMaxShingleDf)

  /** Asymmetric shingle CONTAINMENT `|A∩B| / min(|A|,|B|)` ≥ 0.8 — the
    * superset detector: a document quoted wholesale inside a larger
    * one scores near 1.0 here while its symmetric Jaccard (dedup_near)
    * can stay arbitrarily low, which is why dedup pipelines run both.
    * Same sub-quadratic machinery as [[dedupNearCapped]] (df-windowed
    * posting list → self-equi-join → per-pair intersection counts);
    * the score is pure BIGINT (`inter·10⁴ DIV min`), so the gate
    * carries no float at all. */
  val dedupContainment: Q = (s, d) => {
    val kept = keptPostings(s, d, NearMaxShingleDf)
    // no length prune here — containment's `min(na,nb)` denominator
    // admits any size ratio (a tiny doc quoted inside a huge one is
    // the signal), so every shared-shingle pair is a candidate.
    // na/nb as group keys, same as dedupNearCapped.
    kept.as("x").join(kept.as("y"),
        col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n").as("na"), col("y.n").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_e4", expr("(inter * 10000) DIV least(na, nb)"))
      .filter($"cont_e4" >= 8000)
      .select($"doc_a", $"doc_b", $"cont_e4")
      .orderBy($"doc_a", $"doc_b")
  }

  /** MinHash(16) signatures (doc_id, mh0..mh15) for a (doc_id, sh)
    * shingle frame — the signature build shared by [[dedupMinhash]]
    * and the streaming LSH dedup (`streaming.StreamingMinHash`).
    * Relational pipeline: each shingle hashed exactly ONCE (explode →
    * charHash), then all 16 permutation minima in a single grouped
    * aggregate — one shuffle, map-side partial min. (A nested
    * transform(sequence(0,15), …) formulation re-hashes every shingle
    * 16× after projection collapse — 30× slower at sf0.1.) */
  private[graft] def minhashSigs(docs: DataFrame): DataFrame = {
    val hashed = docs
      .select($"doc_id", explode($"sh").as("shingle"))
      .withColumn("h", expr(charHashSql("shingle")))
    val minCols = (0 until 16).map(i =>
      min((lit(A(i)) * $"h" + lit(B(i))) % lit(1000000007L)).as(s"mh$i"))
    hashed.groupBy($"doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** The shingled corpus frame, exposed for the streaming LSH twin's
    * spec (same (doc_id, sh, n) checkpoint [[dedupMinhash]] reads). */
  private[graft] def shingledDocs(s: SparkSession, d: String): DataFrame =
    shingled(s, d)

  /** MinHash(16) + LSH(4 bands × 4 rows) near-dup pairs, verified with
    * exact shingle Jaccard ≥ 0.5. Pipeline:
    *   shingle → hash → 16-permutation MinHash signature (map-only)
    *   → explode 4 band keys per doc → self-equi-join on (band, key)
    *   → distinct candidate pairs → exact-Jaccard verify.
    * The only shuffles are the band-key join and the distinct — both on
    * narrow keys; signatures never travel with the shingle sets. */
  val dedupMinhash: Q = (s, d) => {
    // NO repartition here: shingled() already spread the compute and
    // checkpointed 32 even partitions — re-partitioning the checkpoint
    // was measured re-shuffling the full (doc_id, sh) arrays once per
    // consumer branch (388 KB × 2 at sf0.001, 6× every other stage
    // combined; MetricsSpec pins the corrected total).
    val docs = shingled(s, d)
    val sigs = minhashSigs(docs)
    val bands = sigs.selectExpr("doc_id",
      "stack(4, " + (0 until 4).map(b =>
        s"$b, concat_ws('_', mh${b * 4}, mh${b * 4 + 1}, mh${b * 4 + 2}, mh${b * 4 + 3})")
        .mkString(", ") + ") as (band, band_key)")
    val (cands, nCands) = Checkpoints.cutCounted(
      bands.as("x").join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
        .distinct())
    // Verify joins BROADCAST the candidate-proportional side so the
    // corpus shingle arrays never re-shuffle: candidates are ≪ corpus
    // by LSH design, while a plain equi-join here was measured moving
    // every (doc_id, sh) row through two exchanges — 6× the bytes of
    // every other stage combined (MetricsSpec pins the corrected
    // ratio). Beyond broadcastable candidate volume the verify flips
    // to shuffle equi-joins on the doc keys — the shingle arrays then
    // pay one hash-partition pass per side (plus riding the matched
    // candidate rows between the two joins), the honest relational
    // cost once candidates outgrow executor memory — and the flip is
    // a SIZE GATE on the candidate count, which cutCounted surfaces
    // for free from the candidate materialization job, not a comment
    // asking a future operator to edit the query. Both paths are
    // result-identical (MinhashVerifyPathSpec pins it by forcing the
    // knob to 0).
    val maxBroadcastCands = s.conf.get(
      "spark.graft.minhash.broadcastMaxCandidates", "10000000").toLong
    // The SECOND broadcast (withA) gets its own, BYTE-TRUE gate: a
    // cands row is two BIGINTs, but a withA row drags doc_a's full
    // shingle array along (KBs per row — a few-KB web doc is ~700
    // shingles ≈ 17 KB serialized), so a candidate count that
    // broadcasts fine as bare id pairs can still blow past driver
    // memory / Spark's 8 GB broadcast hard limit once the arrays ride
    // the rows. |withA| == nCands exactly (each candidate matches one
    // doc_a), and the per-row bytes are ESTIMATED from a 1024-doc
    // sample of the already-checkpointed frame (limit() reads one
    // partition — O(sample), not O(corpus), at any scale): UTF-8
    // chars + ~16 B/element array overhead + row header. A row-count
    // gate alone would mis-size corpora whose documents are much
    // larger than this one's (the round-15 ADVICE low).
    // MinhashVerifyPathSpec pins all three paths (both broadcasts /
    // cands-only / neither) result-identical on the real corpus.
    val maxVerifyBytes = s.conf.get(
      "spark.graft.minhash.broadcastMaxVerifyBytes",
      (1L << 30).toString).toLong
    val est = docs.limit(1024)
      .selectExpr("size(sh) AS n",
        "aggregate(sh, 0, (a, x) -> a + length(x)) AS chars")
      .agg(avg(col("n")), avg(col("chars"))).head()
    def estCol(i: Int): Double = if (est.isNullAt(i)) 0.0 else est.getDouble(i)
    val estRowBytes = (estCol(1) + 16.0 * estCol(0) + 64.0).toLong.max(64L)
    val hintCands: DataFrame => DataFrame =
      if (nCands <= maxBroadcastCands) broadcast else identity
    val hintWithA: DataFrame => DataFrame =
      if (nCands * estRowBytes <= maxVerifyBytes) broadcast else identity
    val withA = docs.select($"doc_id".as("doc_a"), $"sh".as("sh_a"))
      .join(hintCands(cands), "doc_a")
    docs.select($"doc_id".as("doc_b"), $"sh".as("sh_b"))
      .join(hintWithA(withA), "doc_b")
      .withColumn("inter", size(array_intersect($"sh_a", $"sh_b")))
      .withColumn("jaccard", round($"inter".cast("double")
        / (size($"sh_a") + size($"sh_b") - $"inter"), 4))
      .filter($"jaccard" >= 0.5)
      .select($"doc_a", $"doc_b", $"jaccard")
      .orderBy($"doc_a", $"doc_b")
  }

  /** 32-bit SimHash of a token-hash array column `th`: bit j is the
    * sign of Σ_tokens vote_j(token-hash), where vote_j is +1 iff the
    * INDEPENDENT affine re-hash `(x·a_j + b_j) mod P` lands in the
    * upper half of [0, P). Shared by the fingerprint query and the
    * banded near-dup join.
    *
    * Why a re-hash per bit instead of "bit j of the token hash": the
    * token hash is mod P = 1e9+7 < 2³⁰, so bits ≥ 30 are constant and
    * even bits 21–29 carry a uniform-range bias that the majority
    * vote AMPLIFIES into deterministic fingerprint bits — measured on
    * the test corpus, raw-bit simhash collapsed 500 docs onto 231
    * fingerprints spanning ~15 effective bits (45% of ALL pairs
    * within Hamming 3 — banding useless). The affine upper-half vote
    * is 0.5 ± 1/P per bit, giving a full-entropy 32-bit fingerprint;
    * the (a_j, b_j) pairs cycle the MinHash permutation constants
    * with coprime strides so all 32 are distinct. Evaluated by the
    * native codegen [[graft.engine.functions.SimHash32]] — the
    * declarative nested-lambda spelling runs interpreted and measured
    * ~1000× slower (2.9 s for 5,000 docs); [[duckSimhashSql]] is the
    * oracle's declarative twin of the same constants. */
  private val simhashSql: String = "graft_simhash(th)"

  /** DuckDB twin of [[simhashSql]] (same constants, same fold shape). */
  private def duckSimhashSql: String = {
    val aa = A.mkString("list_value(", ",", ")")
    val bb = B.mkString("list_value(", ",", ")")
    "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(0, 32), j -> CASE WHEN " +
      "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(th, x -> CASE WHEN ((x * $aa[(j % 16) + 1] + " +
      s"$bb[((j * 3 + j // 16) % 16) + 1]) % $P) * 2 >= $P " +
      "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), " +
      "(a, b) -> a + b) >= 0 " +
      "THEN (CAST(1 AS BIGINT) << j) ELSE CAST(0 AS BIGINT) END)), " +
      "(a, b) -> a + b)"
  }

  /** 32-bit SimHash fingerprint per document over distinct word tokens.
    * Map-only linear pass; near-dup candidates at scale come from
    * banding the fingerprint bytes — [[dedupSimhashDup]]. */
  val dedupSimhash: Q = (s, d) => {
    ensureRegistered(s)
    Tables.documents(s, d)
      .repartition($"doc_id") // single-file scan → spread across cores
      .withColumn("toks", array_distinct(tokens($"text")))
      .withColumn("th", expr("graft_tok_hashes(toks)"))
      .withColumn("simhash", expr(simhashSql))
      .select($"doc_id", $"simhash")
      .orderBy($"doc_id")
  }

  /** Df cap for [[dedupSimhashDup]] band buckets: a band value shared
    * by B docs contributes C(B,2) candidate pairs, so one boilerplate
    * fingerprint byte (near-empty docs, templated text) would go
    * quadratic at scale. Same recall contract as every posting-list
    * cap in this family, and it genuinely FIRES on the driver corpus
    * at sf0.1 — the synthetic docs share 70–90% of their vocabulary,
    * so fingerprints cluster and the largest band bucket holds 4,373
    * docs (9.6M pairs from ONE bucket); the cap drops those degenerate
    * buckets and candidates fall 25M → 128k while every surviving
    * pair that ALSO matches a sane band is still found. Mirrored by
    * the oracle; inert at the correctness-gate SFs (largest bucket
    * 443). On a non-degenerate corpus a 500-doc identical-band
    * cluster is overwhelmingly true duplication, which the exact-band
    * (Hamming-0) path inside smaller buckets and the MinHash pipeline
    * both still catch. */
  val SimhashMaxBand = 500L

  /** SimHash near-dup PAIRS at Hamming distance ≤ 3 — the text twin
    * of the image pipeline's pHash banding (mm_phash_dup): split the
    * 32-bit fingerprint into 4 disjoint 8-bit bands; a pair within
    * Hamming 3 differs in at most 3 bands, so by pigeonhole it agrees
    * EXACTLY on at least one — candidate generation is a narrow
    * (band, value) equi-join, provably lossless at the threshold,
    * never all-pairs. Only candidates pay the popcount verify
    * (`bit_count(x ⊕ y) ≤ 3`, pure integer, cross-engine exact).
    *
    * Zero-token docs are excluded: their fingerprint is the degenerate
    * all-ones value (empty majority vote) and every such pair is
    * Hamming 0 — noise, not duplication signal. */
  val dedupSimhashDup: Q = (s, d) => {
    ensureRegistered(s)
    val fp = Tables.documents(s, d)
      .repartition($"doc_id")
      .withColumn("toks", array_distinct(tokens($"text")))
      .filter(size($"toks") > 0)
      .withColumn("th", expr("graft_tok_hashes(toks)"))
      .withColumn("simhash", expr(simhashSql))
      .select($"doc_id", $"simhash")
      .transform(Checkpoints.cut) // fingerprints feed bands + both join sides
    val bands = fp
      .select($"doc_id", $"simhash", explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("bv", expr("shiftright(simhash, b * 8) & 255"))
    val hot = bands.groupBy($"b", $"bv").count()
      .filter($"count" > SimhashMaxBand).select($"b", $"bv")
    val kept = bands.join(broadcast(hot), Seq("b", "bv"), "left_anti")
    kept.as("x").join(kept.as("y"),
        col("x.b") === col("y.b") && col("x.bv") === col("y.bv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("CAST(bit_count(x.simhash ^ y.simhash) AS BIGINT)").as("hamming"))
      .filter($"hamming" <= 3)
      .distinct() // a pair agreeing on 2+ bands appears per agreeing band
      // closest-first shortlist over a TOTAL order (deterministic
      // LIMIT): this homogeneous corpus yields ~850k qualifying pairs
      // at sf0.1 — the full set is an intermediate for clustering,
      // not a result a reviewer reads
      .orderBy($"hamming", $"doc_a", $"doc_b")
      .limit(1000)
  }

  /** Embedding-cosine near-dup pairs (rounded cosine ≥ 0.45) over the
    * FULL corpus — IVF-candidate generation + exact-cosine verify, the
    * shape that survives 100 TB (the former all-pairs theta join
    * planned a BroadcastNestedLoopJoin: O(N²) pairs, dead long before
    * scale).
    *
    * Pipeline: the first C = [[embedCentroidCount]](N) vectors are the
    * coarse centroids (k-means in production); every vector is
    * assigned to its top-[[EmbedProbes]] centroids by a PURE
    * PROJECTION over literal unit-centroid arrays (collected once at
    * plan build — C rows, control-plane-sized); candidate pairs are a
    * narrow self-EQUI-join on the centroid id, with buckets over
    * [[EmbedMaxBucket]] excluded (hard work bound, EmbedGuardSpec);
    * only candidates pay the exact 64-dim cosine. C grows ⌈√N/2⌉ with
    * the corpus, so expected bucket size stays ~2·√N and candidate
    * work ~N^1.5 probes² — ENFORCED, not a doc knob. Probes buys
    * recall. EmbedGuardSpec measures the contract on a realistic
    * corpus: every reported pair is a true near-dup (precision) and
    * planted near-identical pairs (cos ≥ 0.99, the regime embedding
    * dedup targets) are fully recalled; barely-similar pairs
    * (cos 0.45–0.60) are the hardest regime for ANY sublinear method
    * and bucket together only partially.
    *
    * The oracle mirrors the same deterministic assignment, so the
    * result is cross-engine exact: assignment ranks centroids by
    * round(dot·1e6) with centroid-id tie-break, encoded into one
    * BIGINT so both engines sort identical integers (centroid id in
    * the low 5 decimal digits → supports C < 10⁵).
    *
    * The centroid matrix rides as ONE [[typedLit]] array literal into
    * the native `graft_ivf_encs` kernel, never as a parsed SQL string
    * (with C ~ dozens of 64-dim centroids the string form is tens of
    * KB of parser+analyzer work per plan build — the round-9 bench
    * drift, 4.3 s on a 2,000-row input, was exactly this fixed cost)
    * and never as C per-centroid columns (plan- and codegen-hostile
    * once C reaches the thousands; see [[graft.engine.functions.VectorOps.ivfEncs]]). */
  /** The IVF-bounded assignment frame shared by [[dedupEmbed]] and
    * SimOps.simKnnGraph: every vector with (v, nrm) carried, exploded
    * to its top-[[EmbedProbes]] centroid buckets, buckets over
    * [[EmbedMaxBucket]] dropped. Linear in the corpus (N·probes
    * rows). */
  private[ops] def ivfAssigned(s: SparkSession, d: String): DataFrame = {
    ensureRegistered(s)
    val C = embedCentroidCount(Tables.embeddings(s, d).count())
    // unit-normalized centroid literals; fold order of the norm matches
    // the oracle's list_reduce(list_prepend(0.0, …)) exactly
    val cents: Array[Seq[Double]] = Tables.embeddings(s, d)
      .filter($"vec_id" < C).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      .map { c =>
        val n = math.sqrt(c.foldLeft(0.0)((a, x) => a + x * x))
        c.map(_ / n).toSeq
      }
    // enc_k = (round(dot·1e6) + 4e9)·1e5 + (C-1-k): one sortable BIGINT
    // per centroid — rank by dot, tie → smaller centroid id.
    // ENCODING BOUND: the +4e9 bias assumes round(dot·1e6) > -4e9,
    // i.e. |dot(v, ĉ)| < 4000 — with unit centroids that is ‖v‖ <
    // 4000, far above any float-embedding norm here (‖v‖ ≤ √64·1 = 8
    // for this corpus; typical real embeddings are unit-ish). Past
    // the bound enc goes negative and the % 100000 decode yields a
    // wrong centroid id on BOTH engines identically — a recall loss,
    // not a divergence; see also [[embedCentroidCount]]'s C < 10⁵
    // constraint from the same 5-digit packing.
    //
    // The whole encode runs in graft_ivf_encs — matrix as ONE
    // row-major literal, one codegen'd static call per row. The
    // per-centroid columnar spelling (C `round(graft_dot(v, cent_k)…)`
    // literal columns under array_sort) is bit-identical (IvfEncsSpec
    // fuzzes equality at C ≥ 1000) but breaks down in the analyzer and
    // past the 64 KB JIT limit around C ~ thousands, far below the
    // encoding's 10⁵ cap.
    val flatCents: Seq[Double] = cents.toSeq.flatten
    // SimOps.vecs: the one shared vector-prep (identical fold order is
    // what keeps every embedding oracle cross-engine exact); checkpoint
    // so the join doesn't re-cast 64 floats per CANDIDATE (projection
    // collapse)
    val ve = SimOps.vecs(s, d).transform(Checkpoints.cut)
    // top-probes decode via slice-of-reversed, NOT fixed positions
    // C, C-1: a corpus smaller than the centroid floor has only
    // size(encs) = n < C entries, and element_at(encs, C) would throw
    // under ANSI — slice caps at the array length, so tiny corpora
    // emit min(probes, n) probes. The oracle decodes with the SAME
    // list_slice(list_reverse(enc), 1, probes) shape (a fixed-position
    // enc[len(enc)-p] would emit a NULL cid on a 1-vector corpus —
    // benign only because NULL never equi-joins, so it is mirrored
    // structurally instead of relied on)
    val probes = expr(
      s"transform(slice(reverse(encs), 1, $EmbedProbes), " +
        s"e -> ${C - 1}L - e % 100000L)")
    // carry (v, nrm) INTO the bucket join: the assigned frame is
    // N·probes rows — linear in the corpus, ~the size of ve itself —
    // so the cid equi-join shuffles far less than joining candidate
    // pairs back to their vectors would
    val assigned = ve
      .withColumn("encs",
        call_function("graft_ivf_encs", $"v", typedLit(flatCents)))
      .select($"vec_id", $"v", $"nrm", explode(probes).as("cid"))
    // bucket guard: ≤C rows of (cid, count) → broadcast semi filter;
    // buckets over EmbedMaxBucket are dropped from candidate
    // generation entirely (bounded work beats unbounded recall)
    val okCids = assigned.groupBy($"cid").count()
      .filter($"count" <= EmbedMaxBucket).select($"cid")
    // r19: cut — both consumers (dedupEmbed, simKnnGraph) self-join this
    // frame, and the STREAMED side of the cid join re-executes the whole
    // N·C graft_ivf_encs encode (only exchange stages are AQE-reusable;
    // a broadcast-join probe side is not behind one). Probed at sf0.1:
    // sim_knn_graph 1.71 s → 1.48 s steady; dedup_embed unchanged
    // (0.9 s both ways — its pair join is cheap enough that the second
    // encode hid in the noise). Also halves the plan size: the flat
    // centroid literal (C·64 doubles) otherwise appears once per side.
    Checkpoints.cut(assigned
      .join(broadcast(okCids), Seq("cid"))
      .select($"vec_id", $"v", $"nrm", $"cid"))
  }

  val dedupEmbed: Q = (s, d) => {
    val bounded = ivfAssigned(s, d)
    // both residual predicates live IN the join condition, cheap one
    // first: letting Catalyst push the τ filter down reorders it BEFORE
    // vec_id<, doubling the 64-dim dot evaluations (both orientations
    // of every bucket pair); the exact cosine + τ filter run streaming
    // inside the join (≥99% of bucket pairs die before the final
    // distinct ever sees them)
    val cosXY = round(call_function("graft_dot", col("x.v"), col("y.v"))
      / (col("x.nrm") * col("y.nrm")), 4)
    bounded.as("x").join(bounded.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id")
          && cosXY >= 0.45)
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosXY.as("cos"))
      .distinct() // a pair sharing 2 probe cids appears twice, same cos
      .orderBy($"vec_a", $"vec_b")
  }

  /** Duplicate-cluster resolution: connected components over the
    * MinHash-verified near-dup pair graph, canonical = min doc_id per
    * component (the survivor-selection step after pair detection).
    * Label propagation: every node starts labeled with itself; each
    * round joins labels across edges (both directions) and keeps the
    * min; converges in ≤ diameter rounds (components here are tiny;
    * the loop is capped and stops early on fixpoint). Each round is
    * two narrow equi-joins + an aggregate — the standard distributed
    * connected-components shape. Output: non-canonical members with
    * their canonical survivor. */
  val dedupClusters: Q = (s, d) => {
    val pairs = Checkpoints.cut(dedupMinhash(s, d).select($"doc_a", $"doc_b"))
    val edges = pairs
      .unionByName(pairs.select($"doc_b".as("doc_a"), $"doc_a".as("doc_b")))
    val nodes = edges.select($"doc_a".as("doc")).distinct()
    var labels = Checkpoints.cut(nodes.withColumn("label", $"doc"))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 20) {
      val viaEdges = edges
        .join(labels, edges("doc_b") === labels("doc"))
        .select(edges("doc_a").as("doc"), $"label", lit(false).as("own"))
      // the aggregate carries the node's PREVIOUS label alongside the
      // new minimum, and the changed-row count IS the checkpoint's own
      // materialization-job result (cutFlagCounted) — no second action
      // re-reading the round result, which at reliable-checkpoint
      // scale is a full O(|V|) storage scan per round. Checkpoints
      // honor spark.graft.checkpointDir: reliable checkpointing on a
      // cluster (executor loss mustn't kill a 100 TB run
      // mid-iteration), local blocks on local[32].
      val (next, chg) = Checkpoints.cutFlagCounted(
        labels.select($"doc", $"label", lit(true).as("own"))
          .unionByName(viaEdges)
          .groupBy($"doc")
          .agg(min($"label").as("label"), min(when($"own", $"label")).as("prev"))
          .withColumn("chg", $"label" < $"prev"),
        "chg")
      changed = chg
      labels = next.select($"doc", $"label")
      rounds += 1
    }
    labels.filter($"doc" =!= $"label")
      .select($"doc".as("doc_id"), $"label".as("canonical"))
      .orderBy($"doc_id")
  }

  /** Connected components by LARGE-STAR/SMALL-STAR alternation (the
    * Kiveris et al. MapReduce formulation) over the same MinHash pair
    * edges — and the same oracle — as [[dedupClusters]]. Where label
    * propagation needs one round per hop of the component DIAMETER,
    * star contraction converges in O(log² n) rounds regardless of
    * shape: a 10 000-hop chain (a pathological near-dup "tunnel" at
    * 100 TB) is ~10 rounds instead of 10 000. Each phase is one
    * grouped min + one narrow equi-join on doc ids; the fixpoint check
    * is ONE aggregate per round over the round's own output (is it a
    * disjoint star set?) — no set comparison against the previous
    * edges, no extra shuffle.
    *
    * Phase rules (edges kept symmetric between phases, no self-loops):
    *  - large-star: u links every LARGER neighbor to m(u) =
    *    min(N(u) ∪ u) — each undirected edge is processed by its
    *    smaller endpoint, so nothing is lost;
    *  - small-star: u links every neighbor ≤ u, and itself, to the
    *    least of them.
    * At the joint fixpoint the graph is a disjoint set of stars
    * centered on each component's minimum, so the answer is read
    * directly off the edge list: every (u, v<u) edge IS
    * (member, canonical). */
  val dedupClustersStar: Q = (s, d) => {
    val pairs = Checkpoints.cut(dedupMinhash(s, d).select($"doc_a", $"doc_b"))
    starContract(pairs)
      .select($"doc".as("doc_id"), $"label".as("canonical"))
      .orderBy($"doc_id")
  }

  /** The reusable star-contraction core: undirected edge pairs
    * (col1, col2) → (doc, label) rows for every non-canonical member.
    * `maxRounds` is a safety cap; the alternation fixpoints in
    * O(log² n) rounds. */
  def starContract(pairs: DataFrame, maxRounds: Int = 12): DataFrame = {
    // r19: symmetric closure via explode(array(e, flip(e))) — ONE pass
    // over the source subtree — instead of unionByName(df, flip(df)),
    // whose two branches each re-plan (and re-execute) the whole
    // upstream join/filter pipeline per round (union branches are
    // separate subtrees; only exchange stages are AQE-reusable).
    // Identical row set into the same distinct(). Measured at sf0.1:
    // dedup_clusters_star 2.70-3.09 s → 1.68-2.09 s same-JVM (−35%).
    def sym(df: DataFrame): DataFrame = df
      .select(explode(array(
        struct($"u", $"v"),
        struct($"v".as("u"), $"u".as("v")))).as("e"))
      .select($"e.u".as("u"), $"e.v".as("v"))
    var edges = Checkpoints.cut(sym(pairs.toDF("u", "v")).distinct())
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      // large-star: m = min over the FULL neighborhood (and u itself)
      val minsL = edges.groupBy($"u").agg(min($"v").as("mv"))
        .select($"u", least($"mv", $"u").as("m"))
      val ls = edges.filter($"v" > $"u").join(minsL, "u")
        .select($"v".as("u"), $"m".as("v")).filter($"u" =!= $"v")
      val lsSym = sym(ls).distinct()
      // small-star over the large-star result: only neighbors ≤ u
      val esm = lsSym.filter($"v" < $"u")
      val minsS = esm.groupBy($"u").agg(min($"v").as("m"))
      val ss = esm.join(minsS, "u").select($"v".as("u"), $"m".as("v"))
        .unionByName(minsS.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
      val next = Checkpoints.cut(sym(ss).distinct())
      // ONE aggregate convergence probe (was count + count + a full
      // exceptAll shuffle per round): the alternation's only fixpoints
      // are disjoint star sets, and the (v < u) half of `next` is a
      // star set iff every member points at exactly one center and no
      // center is itself a member. Both conditions fold into a single
      // per-node role aggregate over the checkpointed round result —
      // no comparison against the previous edge set at all, and the
      // star test can fire a round EARLIER than set-equality did.
      // (r19: the two role orientations explode from one pass over
      // `l` for the same single-subtree reason as sym().)
      val l = next.filter($"v" < $"u")
      val roles = l.select(explode(array(
          struct($"u".as("n"), lit(1L).as("mem"), lit(0L).as("cen")),
          struct($"v".as("n"), lit(0L).as("mem"), lit(1L).as("cen")))).as("r"))
        .select($"r.n".as("n"), $"r.mem".as("mem"), $"r.cen".as("cen"))
      done = roles.groupBy($"n")
        .agg(sum($"mem").as("m"), sum($"cen").as("c"))
        .filter($"m" > 1 || ($"m" > 0 && $"c" > 0))
        .limit(1).count() == 0
      edges = next
      rounds += 1
    }
    edges.filter($"v" < $"u").select($"u".as("doc"), $"v".as("label"))
  }

  /** Benchmark decontamination: flag corpus documents sharing ≥ 10
    * distinct 3-gram shingles with the eval set (doc_id < 20 stands in
    * for the held-out benchmark) — the n-gram-overlap contamination
    * check every serious training-data pipeline runs before training.
    * Shape: the eval shingle set is SMALL by nature → broadcast
    * equi-join against the exploded corpus shingles, one count
    * aggregate; the corpus side is map-only + one shuffle on doc_id.
    * At 100 TB this is a broadcast-semi-join scan, not a join of two
    * big sides. */
  val dedupContamination: Q = (s, d) => {
    val base = shingled(s, d)
    val evalSh = base.filter($"doc_id" < 20)
      .select(explode($"sh").as("g")).distinct()
    base.filter($"doc_id" >= 20)
      .select($"doc_id", explode($"sh").as("g"))
      .join(broadcast(evalSh), "g")
      .groupBy($"doc_id").agg(count(lit(1)).as("overlap"))
      .filter($"overlap" >= 10)
      .orderBy($"doc_id")
  }

  /** CCNet-style paragraph-level dedup: corpus-wide, each distinct
    * paragraph survives only at its FIRST occurrence (lowest
    * (doc_id, idx)); every document is then reassembled from its
    * surviving paragraphs. The testdata corpus has no newlines, so
    * "paragraph" is a deterministic 10-token chunk — the splitter is
    * corpus-specific, the dedup machinery is not.
    *
    * Scale shape: one map-only pass to chunk + hash, ONE hash
    * aggregate per paragraph-hash picking the min-(doc_id, idx)
    * survivor via a struct min (map-side partial combine — never a
    * window sort over the exploded corpus), then a per-doc re-agg.
    * Emits counts + an md5 digest of the reassembled text so the
    * compared output stays narrow. */
  val dedupParagraph: Q = (s, d) => {
    graft.engine.functions.VectorOps.register(s)
    val docs = Tables.documents(s, d).repartition($"doc_id")
    val paras = docs
      .withColumn("toks", tokens($"text"))
      .select($"doc_id", posexplode(expr(
        "CASE WHEN size(toks) = 0 THEN array() ELSE " +
          "transform(sequence(0, (size(toks) + 9) DIV 10 - 1), " +
          "i -> concat_ws(' ', slice(toks, i * 10 + 1, 10))) END"))
        .as(Seq("idx", "para")))
      .withColumn("h", expr("graft_polyhash(para)"))
      .transform(Checkpoints.cut) // feeds both the survivor pick and the totals
    val survivors = paras
      .groupBy($"h")
      .agg(min(struct($"doc_id", $"idx", $"para")).as("s"))
      .select($"s.doc_id".as("doc_id"), $"s.idx".as("idx"), $"s.para".as("para"))
    val rebuilt = survivors.groupBy($"doc_id")
      .agg(count(lit(1)).as("n_kept"),
        md5(concat_ws(" ",
          expr("transform(array_sort(collect_list(struct(idx, para))), x -> x.para)")))
          .as("digest"))
    paras.groupBy($"doc_id").agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id", $"n_paras",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"digest", lit("d41d8cd98f00b204e9800998ecf8427e")).as("digest"))
      .orderBy($"doc_id")
  }

  /** Substring-duplication window width (tokens). */
  val SubstrK = 8

  /** Exact-substring duplication profile (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * metric, token-windowed): every positional [[SubstrK]]-token
    * window is hashed; a window whose hash occurs ≥2 times anywhere
    * in the corpus (another document OR another position of the same
    * document — self-repetition is still duplication) is "duplicated",
    * and each document reports its duplicated-window fraction in
    * basis points. The suffix-array step of the paper collapses to a
    * fixed-width rolling window here, which is what makes the op
    * embarrassingly distributable: explode windows → one hash
    * aggregate for global occurrence counts → one per-doc aggregate.
    * Only (doc_id, window-hash) rows ever shuffle — the 31-base
    * polynomial hash keeps the shuffled key 8 bytes instead of the
    * window text, and a mod-P collision is identical in both engines
    * (the oracle hashes the same way), so the gate stays exact. */
  val dedupSubstring: Q = (s, d) => {
    ensureRegistered(s)
    val grams = Tables.documents(s, d)
      .select($"doc_id", $"text")
      .repartition($"doc_id")
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") >= SubstrK)
      // native sliding-window hash (functions.WindowHash): value-
      // identical to the transform/concat_ws/polyhash spelling the
      // oracle mirrors (PropertySpec parity test), without the
      // per-window joined-string allocation + interpreted lambda
      .select($"doc_id", explode(expr(s"graft_winhash(toks, $SubstrK)")).as("g"))
      // r20: occurrence counts via count-over-window on g — ONE pass
      // (one exchange by g) where the r19 occ-aggregate + join-back
      // planned the gram build twice and re-shuffled it (the same
      // rewrite that took dedup_near/containment −43% this round; the
      // cut is gone with the second consumer). ProbeD: 0.98 → 0.62 s
      // isolated at sf0.1 (−36%), rows identical, oracle hash-exact.
    grams.withColumn("occ", count(lit(1)).over(Window.partitionBy($"g")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_windows"),
        sum(when($"occ" >= 2, 1L).otherwise(0L)).as("dup"))
      .withColumn("dup_bp", expr("dup * 10000 DIV n_windows"))
      .select($"doc_id", $"n_windows", $"dup_bp")
      .orderBy($"doc_id")
  }

  private[ops] def duckCharHash(arg: String): String =
    "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
      s"list_filter(string_split($arg, ''), c -> c <> ''), " +
      "c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h * 31 + c) % 1000000007)"

  private val duckShingled =
    """docs AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      |  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      |        FROM documents)
      |  WHERE len(toks) >= 3)""".stripMargin

  // the star-contraction variant computes the SAME clusters a
  // different way — one oracle, two implementations under test
  private val clustersOracle =
    s"""WITH RECURSIVE $duckShingled,
       | sigs AS (
       |  SELECT doc_id, sh,
       |    list_transform(range(0, 16), i -> list_min(list_transform(
       |      list_transform(sh, s -> ${duckCharHash("s")}),
       |      x -> ([${A.mkString(",")}][i + 1] * x
       |            + [${B.mkString(",")}][i + 1]) % 1000000007))) AS mh
       |  FROM docs WHERE len(sh) > 0),
       | bands AS (
       |  SELECT doc_id, band,
       |    CAST(mh[band * 4 + 1] AS VARCHAR) || '_' || CAST(mh[band * 4 + 2] AS VARCHAR)
       |    || '_' || CAST(mh[band * 4 + 3] AS VARCHAR) || '_'
       |    || CAST(mh[band * 4 + 4] AS VARCHAR) AS band_key
       |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band)),
       | cands AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       | pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM cands JOIN docs a ON a.doc_id = doc_a JOIN docs b ON b.doc_id = doc_b
       |  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
       |      / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5),
       | edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       | reach(doc, root) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.doc)
       |SELECT doc AS doc_id, min(root) AS canonical
       |FROM reach GROUP BY doc HAVING doc <> min(root)
       |ORDER BY doc_id""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("dedup_substring", dedupSubstring, Some(
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
         |  FROM documents),
         | grams AS (
         |  SELECT doc_id, unnest(list_transform(range(1, len(t) - ${SubstrK - 2}),
         |    i -> ${duckCharHash(s"array_to_string(t[i : i + ${SubstrK - 1}], ' ')")})) AS g
         |  FROM toks WHERE len(t) >= $SubstrK),
         | occ AS (SELECT g, count(1) AS occ FROM grams GROUP BY g),
         | per AS (
         |  SELECT doc_id, count(1) AS n_windows,
         |    sum(CASE WHEN occ.occ >= 2 THEN 1 ELSE 0 END) AS dup
         |  FROM grams JOIN occ USING (g) GROUP BY doc_id)
         |SELECT doc_id, CAST(n_windows AS BIGINT) AS n_windows,
         |  CAST(dup * 10000 // n_windows AS BIGINT) AS dup_bp
         |FROM per ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_paragraph", dedupParagraph, Some {
      val charhash =
        "list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(" +
          "list_filter(string_split(para, ''), c -> c <> ''), " +
          "c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h * 31 + c) % 1000000007)"
      s"""WITH toks AS (SELECT doc_id,
         |    regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
         | pl AS (SELECT doc_id,
         |   list_transform(range(0, (len(t)+9)//10),
         |     i -> array_to_string(t[i*10+1 : i*10+10], ' ')) AS ps
         |   FROM toks),
         | paras AS (SELECT doc_id, unnest(range(0, len(ps))) AS idx,
         |           unnest(ps) AS para FROM pl),
         | hashed AS (SELECT doc_id, idx, para, $charhash AS h FROM paras),
         | surv AS (SELECT doc_id, idx, para FROM (
         |   SELECT *, row_number() OVER (PARTITION BY h
         |     ORDER BY doc_id, idx) AS rn FROM hashed) WHERE rn = 1),
         | rebuilt AS (SELECT doc_id, count(1) AS n_kept,
         |   md5(string_agg(para, ' ' ORDER BY idx)) AS digest
         |   FROM surv GROUP BY doc_id),
         | totals AS (SELECT doc_id, count(1) AS n_paras
         |   FROM paras GROUP BY doc_id)
         |SELECT t.doc_id, t.n_paras, COALESCE(r.n_kept, 0) AS n_kept,
         |  COALESCE(r.digest, md5('')) AS digest
         |FROM totals t LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin
    }),

    QueryDef("dedup_contamination", dedupContamination, Some(
      s"""WITH $duckShingled,
         | ev AS (SELECT DISTINCT unnest(sh) AS g FROM docs WHERE doc_id < 20),
         | cx AS (SELECT doc_id, unnest(sh) AS g FROM docs WHERE doc_id >= 20)
         |SELECT doc_id, count(1) AS overlap
         |FROM cx JOIN ev USING (g)
         |GROUP BY doc_id HAVING count(1) >= 10
         |ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_near", dedupNear, Some(
      s"""WITH $duckShingled
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
         |FROM docs a JOIN docs b
         |  ON a.doc_id < b.doc_id
         |  AND least(len(a.sh), len(b.sh)) >= 0.5 * greatest(len(a.sh), len(b.sh))
         |WHERE len(a.sh) > 0 AND len(b.sh) > 0
         |  AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("dedup_containment", dedupContainment, Some(
      // mirrors the Spark side's df-windowed posting list EXACTLY —
      // including the 2 <= df <= NearMaxShingleDf cap — so a shingle
      // crossing the cap at a larger scale factor lowers `inter`
      // identically in both engines (a full list_intersect here would
      // diverge the moment any shingle exceeds the cap)
      s"""WITH $duckShingled,
         | ex AS (SELECT doc_id, unnest(sh) AS g FROM docs),
         | shared AS (SELECT g FROM ex GROUP BY g
         |            HAVING count(1) BETWEEN 2 AND $NearMaxShingleDf),
         | kept AS (SELECT ex.doc_id, ex.g FROM ex JOIN shared USING (g)),
         | inter AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(count(1) AS BIGINT) AS inter
         |  FROM kept x JOIN kept y ON x.g = y.g AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         | sizes AS (SELECT doc_id, len(sh) AS n FROM docs)
         |SELECT doc_a, doc_b,
         |  CAST((inter * 10000) // least(a.n, b.n) AS BIGINT) AS cont_e4
         |FROM inter
         |JOIN sizes a ON doc_a = a.doc_id
         |JOIN sizes b ON doc_b = b.doc_id
         |WHERE (inter * 10000) // least(a.n, b.n) >= 8000
         |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("dedup_minhash", dedupMinhash, Some(
      s"""WITH $duckShingled,
         | sigs AS (
         |  SELECT doc_id, sh,
         |    list_transform(range(0, 16), i -> list_min(list_transform(
         |      list_transform(sh, s -> ${duckCharHash("s")}),
         |      x -> ([${A.mkString(",")}][i + 1] * x
         |            + [${B.mkString(",")}][i + 1]) % 1000000007))) AS mh
         |  FROM docs WHERE len(sh) > 0),
         | bands AS (
         |  SELECT doc_id, band,
         |    CAST(mh[band * 4 + 1] AS VARCHAR) || '_' || CAST(mh[band * 4 + 2] AS VARCHAR)
         |    || '_' || CAST(mh[band * 4 + 3] AS VARCHAR) || '_'
         |    || CAST(mh[band * 4 + 4] AS VARCHAR) AS band_key
         |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS band)),
         | cands AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.band_key = y.band_key AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b,
         |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard
         |FROM cands JOIN docs a ON a.doc_id = doc_a JOIN docs b ON b.doc_id = doc_b
         |WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |    / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin)),

    QueryDef("dedup_simhash", dedupSimhash, Some(
      s"""WITH t AS (
         |  SELECT doc_id,
         |    list_transform(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
         |      tok -> ${duckCharHash("tok")}) AS th
         |  FROM documents)
         |SELECT doc_id, $duckSimhashSql AS simhash
         |FROM t ORDER BY doc_id""".stripMargin)),

    QueryDef("dedup_simhash_dup", dedupSimhashDup, Some(
      s"""WITH f AS (
         |  SELECT doc_id, $duckSimhashSql AS simhash
         |  FROM (
         |    SELECT doc_id,
         |      list_transform(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+')),
         |        tok -> ${duckCharHash("tok")}) AS th
         |    FROM documents
         |    WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0)),
         | bands AS (
         |  SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS bv
         |  FROM f CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b)),
         | hot AS (
         |  SELECT b, bv FROM bands GROUP BY b, bv
         |  HAVING count(*) > $SimhashMaxBand),
         | kept AS (
         |  SELECT * FROM bands
         |  WHERE NOT EXISTS (SELECT 1 FROM hot h
         |                    WHERE h.b = bands.b AND h.bv = bands.bv)),
         | pairs AS (
         |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(bit_count(CAST(xor(x.simhash, y.simhash) AS BIGINT)) AS BIGINT)
         |      AS hamming
         |  FROM kept x JOIN kept y
         |    ON x.b = y.b AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT doc_a, doc_b, hamming FROM pairs
         |WHERE hamming <= 3 ORDER BY hamming, doc_a, doc_b
         |LIMIT 1000""".stripMargin)),

    QueryDef("dedup_embed", dedupEmbed, Some(
      s"""WITH $duckIvfCandsCte
         |SELECT vec_a, vec_b, round(dot / nn, 4) AS cos
         |FROM p WHERE round(dot / nn, 4) >= 0.45 ORDER BY vec_a, vec_b""".stripMargin)),

    QueryDef("dedup_clusters", dedupClusters, Some(clustersOracle)),

    QueryDef("dedup_clusters_star", dedupClustersStar, Some(clustersOracle)),
  )

  /** The IVF candidate-pair CTE chain shared by the `dedup_embed` and
    * `sim_knn_graph` oracles — the SQL twin of [[ivfAssigned]] + the
    * scored a<b candidate join: ends at CTE `p(vec_a, vec_b, dot, nn)`. */
  private[ops] def duckIvfCandsCte: String =
    s"""n AS (
       |  SELECT vec_id, v,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
       |      (a, b) -> a + b)) AS nrm
       |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |        FROM embeddings)),
       | cc AS (
       |  SELECT least(99999, greatest(8, CAST(ceil(sqrt(count(*)) / 2) AS BIGINT)))
       |    AS c
       |  FROM n),
       | cents AS (
       |  SELECT vec_id AS cid, list_transform(v, x -> x / nrm) AS cu
       |  FROM n WHERE vec_id < (SELECT c FROM cc)),
       | encs AS (
       |  SELECT e.vec_id, list_sort(list(
       |    (CAST(round(list_reduce(list_prepend(0.0,
       |       list_transform(range(1, len(e.v) + 1), i -> e.v[i] * c.cu[i])),
       |       (a, b) -> a + b) * 1000000) AS BIGINT) + 4000000000)
       |    * 100000 + ((SELECT c FROM cc) - 1 - c.cid))) AS enc
       |  FROM n e, cents c GROUP BY e.vec_id),
       | assigned AS (
       |  SELECT vec_id,
       |    (SELECT c FROM cc) - 1
       |      - (unnest(list_slice(list_reverse(enc), 1, $EmbedProbes))
       |         % 100000) AS cid
       |  FROM encs),
       | okc AS (
       |  SELECT cid FROM assigned GROUP BY cid
       |  HAVING count(*) <= $EmbedMaxBucket),
       | bounded AS (
       |  SELECT a.vec_id, a.cid FROM assigned a JOIN okc USING (cid)),
       | cands AS (
       |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
       |  FROM bounded x JOIN bounded y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id),
       | p AS (
       |  SELECT vec_a, vec_b,
       |    list_reduce(list_prepend(0.0, list_transform(range(1, len(a.v) + 1),
       |      i -> a.v[i] * b.v[i])), (x, y) -> x + y) AS dot,
       |    a.nrm * b.nrm AS nn
       |  FROM cands JOIN n a ON a.vec_id = vec_a JOIN n b ON b.vec_id = vec_b)""".stripMargin
}
