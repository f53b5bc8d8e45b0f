package graft.engine.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Shared text-feature expression builders used by [[TextOps]],
  * [[DedupOps]] and the streaming engine. Everything is a native
  * Catalyst expression (regexp / higher-order array functions) — no
  * UDFs, so the work distributes and stays inside the optimized plan.
  *
  * Cross-engine note: each builder has an exact DuckDB twin used in the
  * oracle SQL (same fold order, same modulus), so integer results are
  * bit-identical across engines.
  */
object TextFeatures {
  /** Word tokens: maximal [a-z0-9] runs of the lower-cased text.
    * Backed by the native codegen [[graft.engine.functions.Tokenize]]
    * — byte-for-byte equal to
    * `regexp_extract_all(lower(text), '[a-z0-9]+')` (TokensSpec fuzzes
    * the equivalence; the DuckDB oracles keep the regexp spelling) but
    * without java.util.regex in the hot loop of every text query.
    * Callers must have [[ensureRegistered]] the session (GraftSession
    * injects via extensions). */
  def tokens(text: Column): Column =
    call_function("graft_tokens", text)

  /** `size(tokens(text))` with no array materialization (native
    * [[graft.engine.functions.TokenRunCount]]) — for the nine
    * count-only consumers (mixture planners, packing layouts); the
    * run structure is identical to [[tokens]] by construction (same
    * toLowerCase, same byte classes — TokensSpec fuzzes equality). */
  def tokenCount(text: Column): Column =
    call_function("graft_token_count", text)

  /** Whitespace-normalized text (trim + collapse runs to one space). */
  def normText(text: Column): Column =
    regexp_replace(trim(lower(text)), "\\s+", " ")

  /** Deterministic 31-base polynomial rolling hash of a string column,
    * mod 1e9+7 — the cross-engine stand-in for xxhash64 (whose seed and
    * implementation differ between engines). Backed by the native
    * codegen'd [[graft.engine.functions.PolyHash]] (the declarative
    * per-character lambda fold is ~30× slower interpreted); callers
    * must have called [[ensureRegistered]] on the session. */
  def charHashSql(col: String): String = s"graft_polyhash($col)"

  /** Register the engine's native SQL functions (idempotent). */
  def ensureRegistered(s: org.apache.spark.sql.SparkSession): Unit =
    graft.engine.functions.VectorOps.register(s)

  /** 3-token shingles of a `toks` array column, distinct. Guarded so
    * docs with < 3 tokens get an empty set (sequence() would otherwise
    * count backwards). Production queries use the native codegen
    * `graft_shingles` ([[graft.engine.functions.ShingleSet]]) instead —
    * the interpreted per-window lambda here was the dedup family's
    * hottest map stage; this declarative spelling remains as the
    * ShinglesSpec fuzz reference and the DuckDB oracles' twin. */
  def shingleSetSql(toks: String): String =
    s"CASE WHEN size($toks) >= 3 THEN array_distinct(transform(" +
      s"sequence(1, size($toks) - 2), i -> concat(element_at($toks, i), ' ', " +
      s"element_at($toks, i + 1), ' ', element_at($toks, i + 2)))) " +
      s"ELSE array() END"
}

/** Text-analysis operator family over the `documents` table (north-star
  * extensions: language-ID, quality scoring, token counting, document
  * fingerprinting — the per-document feature pass of an LLM training
  * data pipeline).
  *
  * All are embarrassingly parallel single-pass projections (no shuffle
  * except the final presentation sort / top-N), so they scale linearly
  * with input: at 100 TB each is a map-only stage over the parquet
  * scan with column pruning down to (doc_id, text[, lang]).
  */
object TextOps {
  import TextFeatures._
  type Q = (SparkSession, String) => DataFrame

  /** Exact dedup on whitespace/case-normalized text: one survivor (min
    * doc_id) per distinct normalized body + its multiplicity. Single
    * hash-aggregate shuffle on the normalized text; at scale, group on
    * a 128-bit hash of the text instead of the text itself to keep
    * shuffle rows narrow (semantics identical modulo hash collisions). */
  val dedupExact: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(normText($"text").as("norm"))
      .agg(min($"doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select($"doc_id", $"n_copies")
      .orderBy($"doc_id")

  /** Corpus-level top-20 term frequencies. explode → two-phase hash
    * aggregate (map-side partial) → global top-N via TakeOrdered. */
  val textTokens: Q = (s, d) =>
    Tables.documents(s, d)
      .repartition($"doc_id") // single-file scan → tokenize on all cores
      .select(explode(tokens($"text")).as("word"))
      .groupBy($"word")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"word")
      .limit(20)

  /** Token counting: whitespace tokens, BPE-ish subword count (letter
    * runs / single digits / single punctuation — the shape of a GPT-2
    * pre-tokenizer), and mean token length. Both counts come from ONE
    * native byte scan (`graft_token_counts`) instead of two
    * regexp_extract_all passes that each materialize a match array
    * per document only to take its size; the oracle keeps the regex
    * spellings, and TokensSpec fuzzes the equivalence. */
  val textTokenCount: Q = (s, d) => {
    ensureRegistered(s)
    // r20: raw sort first, project above (fn_try discipline) — the
    // range sampler below re-ran the whole projection; sorting the
    // (doc_id, text) rows first is row-order-preserving and the scan
    // is all the sampler re-reads. Applied to every map-only text_*
    // query sorted by the raw doc_id.
    Tables.documents(s, d)
      .select($"doc_id", $"text")
      .orderBy($"doc_id")
      .withColumn("tc", call_function("graft_token_counts", $"text"))
      .withColumn("n_ws", $"tc.n_ws")
      .withColumn("n_bpe", $"tc.n_bpe")
      .withColumn("avg_token_len",
        round(length($"text").cast("double") / nullif($"n_ws", lit(0)), 4))
      .select($"doc_id", $"n_ws", $"n_bpe", $"avg_token_len")
  }

  /** Quality scoring: alphabetic ratio, punctuation ratio, stopword
    * ratio, and a blended 0–1 quality score (the usual pre-training
    * heuristic filter features). The class counts are the native
    * `graft_count_in` byte scan — same exact integers as the
    * `length(regexp_replace(text, "[^…]", ""))` spelling (the oracle
    * keeps it; ASCII classes count identically on a byte scan because
    * non-ASCII code points have no ASCII bytes) without stripping a
    * copy of the document per feature. */
  val textQuality: Q = (s, d) => {
    ensureRegistered(s)
    val letters = (('a' to 'z') ++ ('A' to 'Z')).mkString
    // r20: raw sort first (see textTokenCount)
    Tables.documents(s, d)
      .select($"doc_id", $"text")
      .orderBy($"doc_id")
      .withColumn("toks", tokens($"text"))
      // raw (unrounded) ratios feed the blended score: rounding first
      // would create exact half-way cases at the final 4-dp round,
      // where engines' double-rounding modes diverge (SURVEY §7.3c)
      .withColumn("alpha_raw",
        call_function("graft_count_in", $"text", lit(letters)).cast("double")
          / nullif(length($"text"), lit(0)))
      .withColumn("punct_raw",
        call_function("graft_count_in", $"text", lit(".,;:!?")).cast("double")
          / nullif(length($"text"), lit(0)))
      .withColumn("alpha_ratio", round($"alpha_raw", 4))
      .withColumn("punct_ratio", round($"punct_raw", 4))
      .withColumn("stop_ratio",
        round(expr("size(filter(toks, t -> t IN ('the','a','an','and','of','to','in','is','it','that')))").cast("double")
          / nullif(size($"toks"), lit(0)), 4))
      // floor-scaled integer score: floor() is exact on the (bit-identical
      // cross-engine) double, unlike round(), whose half-way handling
      // differs between Spark (shortest-decimal HALF_UP) and DuckDB
      // (binary half-away) — SURVEY §7.3c
      .withColumn("quality",
        floor((lit(0.5) * $"alpha_raw" + lit(0.3) * (lit(1.0) - $"punct_raw")
          + lit(0.2) * least(lit(1.0), size($"toks").cast("double") / lit(100.0)))
          * lit(10000.0)).cast("long"))
      .select($"doc_id", $"alpha_ratio", $"punct_ratio", $"stop_ratio", $"quality")
  }

  /** Language ID by stopword-marker voting (n-gram-free heuristic:
    * count hits against per-language marker sets, argmax with a fixed
    * en>de>fr>es tie order). `lang` is carried through as the label
    * column for downstream precision queries. */
  val textLangid: Q = (s, d) =>
    // r20: raw sort first (see textTokenCount)
    Tables.documents(s, d)
      .select($"doc_id", $"lang", $"text")
      .orderBy($"doc_id")
      .withColumn("toks", tokens($"text"))
      .withColumn("hits_en", expr("size(filter(toks, t -> t IN ('the','and','is','of','to')))"))
      .withColumn("hits_de", expr("size(filter(toks, t -> t IN ('der','die','das','und','ist')))"))
      .withColumn("hits_fr", expr("size(filter(toks, t -> t IN ('le','la','les','et','est')))"))
      .withColumn("hits_es", expr("size(filter(toks, t -> t IN ('el','los','las','es','y')))"))
      .withColumn("pred_lang",
        when($"hits_en" >= $"hits_de" && $"hits_en" >= $"hits_fr" && $"hits_en" >= $"hits_es", lit("en"))
          .when($"hits_de" >= $"hits_fr" && $"hits_de" >= $"hits_es", lit("de"))
          .when($"hits_fr" >= $"hits_es", lit("fr"))
          .otherwise(lit("es")))
      .select($"doc_id", $"lang", $"pred_lang", $"hits_en")

  /** Character-n-gram language ID: count occurrences of each
    * language's profile trigrams in the lower-cased text (the native
    * `graft_count_sub` non-overlapping scan — exact, no regex engine
    * variation, and no regexp_replace building a copy of the document
    * per needle: 16 needles × a full-text replace each was the
    * family's slowest map stage), argmax with fixed en>de>fr>es tie
    * order. The n-gram counterpart of [[textLangid]]'s stopword
    * voting; the oracle keeps the length-difference `replace`
    * spelling, so the differential gate proves the scan equal to it. */
  val textLangidNgram: Q = (s, d) => {
    ensureRegistered(s)
    val profiles = Seq(
      "en" -> Seq("the", "ing", "ion", "and"),
      "de" -> Seq("der", "sch", "ein", "und"),
      "fr" -> Seq("les", "ent", "que", "eur"),
      "es" -> Seq("los", "cio", "dad", "ado"))
    def hits(grams: Seq[String]): Column =
      grams.map(g => call_function("graft_count_sub", $"lt", lit(g)))
        .reduce(_ + _)
    // r20: raw sort first (see textTokenCount)
    val withHits = profiles.foldLeft(
      Tables.documents(s, d)
        .select($"doc_id", $"lang", $"text")
        .orderBy($"doc_id")
        .withColumn("lt", lower($"text"))) {
      case (df, (lang, grams)) => df.withColumn(s"ng_$lang", hits(grams))
    }
    withHits
      .withColumn("pred_lang",
        when($"ng_en" >= $"ng_de" && $"ng_en" >= $"ng_fr" && $"ng_en" >= $"ng_es", lit("en"))
          .when($"ng_de" >= $"ng_fr" && $"ng_de" >= $"ng_es", lit("de"))
          .when($"ng_fr" >= $"ng_es", lit("fr"))
          .otherwise(lit("es")))
      .select($"doc_id", $"lang", $"pred_lang", $"ng_en", $"ng_de")
  }

  /** Document fingerprint: rolling polynomial hash of the first 256
    * chars of the normalized text — a cheap order-sensitive content
    * fingerprint (cross-engine-stable alternative to xxhash64). */
  val textFingerprint: Q = (s, d) => {
    ensureRegistered(s)
    // r20: raw sort first (see textTokenCount)
    Tables.documents(s, d)
      .select($"doc_id", $"text")
      .orderBy($"doc_id")
      .withColumn("head", substring(normText($"text"), 1, 256))
      .withColumn("fp", expr(TextFeatures.charHashSql("head")))
      .select($"doc_id", $"fp")
  }

  /** Top-3 keywords per document by an INTEGER-EXACT tf-idf ranking:
    * score = tf · N_docs · 10⁶ DIV df. Log-free on purpose — ln()'s
    * low bits are implementation-defined, so a conventional
    * tf·ln(N/df) could rank ties differently across engines; integer
    * scores rank identically everywhere and preserve the tf·(N/df)
    * order. A naive BIGINT tf·N_docs·10⁶ overflows once N_docs·tf
    * passes ~9e12 — any 100 TB corpus — throwing under ANSI mode or
    * silently re-ranking every keyword under legacy wrap; and putting
    * the product in DECIMAL(38,0) on the (doc, term) stream measures
    * 2× slower (decimals leave the compact-Long codegen path). So the
    * division is SPLIT instead: per term, q = N·10⁶ DIV df and
    * r = N·10⁶ % df are computed once on the vocab-sized df aggregate
    * (in decimal — free at vocab cardinality, exact past BIGINT), and
    * the per-row score is the algebraically identical
    * `tf·q + (tf·r) DIV df` — pure BIGINT whole-stage codegen, exact
    * whenever the score itself is BIGINT-representable (tf·r < tf·df
    * and tf·q ≤ score never overflow first; only an
    * appears-in-~every-doc term's score passes 9.2e18, and such terms
    * are stopwords by construction). The oracle keeps the one-line
    * HUGEINT product — the differential gate proves the split exact.
    * Shape: one tf aggregate (doc, term), one vocab-sized df
    * aggregate, an equi-join on term, and a per-doc ranked window —
    * every stage partial-aggregates map-side; nothing is
    * corpus-global except the broadcast scalar N. */
  val textTfidf: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d).repartition($"doc_id")
    val toks = docs.select($"doc_id", explode(tokens($"text")).as("term"))
    val tf = toks.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val idf = df.crossJoin(broadcast(n)).select($"term", $"df",
      expr("CAST(n_docs AS DECIMAL(38,0)) * 1000000 DIV df").as("idf_q"),
      expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * 1000000 % df AS BIGINT)")
        .as("idf_r"))
    val w = Window.partitionBy($"doc_id").orderBy($"score".desc, $"term")
    tf.join(idf, "term")
      .withColumn("score", expr("tf * idf_q + (tf * idf_r) DIV df"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 3)
      .select($"doc_id", $"term", $"score")
      .orderBy($"doc_id", $"score".desc, $"term")
  }

  /** Corpus-level bigram frequency: top-50 token 2-grams. The global
    * term-statistics pass of a data pipeline (boilerplate detection,
    * vocab building): bigram explode → one hash aggregate → bounded
    * top-N merge, all map-side-combined. */
  val textNgramFreq: Q = (s, d) =>
    Tables.documents(s, d)
      .repartition($"doc_id")
      .withColumn("toks", tokens($"text"))
      .select(explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) " +
          "ELSE array() END")).as("gram"))
      .groupBy($"gram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"gram")
      .limit(50)

  /** Repetition quality signals (the Gopher/C4-style repetition
    * filters): per doc, the fraction of all token bigrams taken by the
    * single most frequent bigram, and the fraction of duplicate lines.
    * Both are exact integer ratios (one IEEE division + round at the
    * end), so they hash-match cross-engine. Shape: bigram explode →
    * (doc, gram) count → per-doc max/sum — two map-side-combined
    * aggregates; line stats are a pure projection. */
  val textRepetition: Q = (s, d) => {
    ensureRegistered(s)
    // both repetition statistics come from one native pass per doc
    // (graft_bigram_stats / graft_line_stats): the declarative
    // spelling exploded every document's adjacent-pair list through
    // TWO grouped aggregates (a corpus × |doc| row multiplication for
    // two numbers per document) and ran the pair transform + line
    // filter as interpreted lambdas; map-only now, same exact
    // integers into the same double tree as the oracle (which keeps
    // the declarative form — TokensSpec fuzzes the kernels)
    Tables.documents(s, d).repartition($"doc_id")
      .withColumn("bs", call_function("graft_bigram_stats", tokens($"text")))
      .withColumn("ls", call_function("graft_line_stats", $"text"))
      .select($"doc_id",
        when($"bs.tot" > 0,
          round($"bs.mx".cast("double") / $"bs.tot", 4))
          .otherwise(0.0).as("top_bigram_frac"),
        when($"ls.n" > 0,
          round(($"ls.n" - $"ls.nd").cast("double") / $"ls.n", 4))
          .otherwise(0.0).as("dup_line_frac"))
      .orderBy($"doc_id")
  }

  /** Data-mixture rebalancing weights: per language, the sampling
    * fraction that downsamples every language to the rarest one's
    * token budget (the "equal share, capped by the smallest source"
    * mixture rule used when balancing corpus languages/domains).
    * Token counts are exact integers; one broadcast scalar + one IEEE
    * division per group — the fractions feed a stratified draw (see
    * `sample_stratified`'s content-hash buckets). The fraction is
    * emitted as exact basis points — `floor(ratio·1e4)` on the
    * bit-identical IEEE quotient — because a cross-engine `round()` on
    * a computed double is not hash-safe. */
  val mixWeights: Q = (s, d) => {
    val tok = Tables.documents(s, d)
      .repartition($"doc_id")
      .select($"lang", tokenCount($"text").cast("long").as("toks"))
    val per = tok.groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"), sum($"toks").as("tokens"))
    val mn = per.agg(min($"tokens").as("min_tokens"))
    per.crossJoin(broadcast(mn))
      .withColumn("sample_frac_bp", expr(
        "cast(floor(cast(min_tokens as double) / tokens * 10000D) as bigint)"))
      .select($"lang", $"n_docs", $"tokens", $"sample_frac_bp")
      .orderBy($"lang")
  }

  /** Token budget allocated by [[mixBudgetAlloc]]. */
  val MixBudget = 1000000L

  /** Largest-remainder integer allocation of a fixed token budget
    * across languages proportional to their token mass — the planner
    * step that turns mixture weights into EXACT integer quotas (the
    * floors of B·tok_l/total under-spend by < |langs| tokens; the
    * leftover goes +1 each to the languages with the largest
    * remainders, ties to the smaller language name — so the quotas
    * always sum to exactly B). Pure integer arithmetic end to end:
    * floor via integral DIV, remainders compared as `B·tok mod total`
    * — never a float share, so the oracle is hash-exact. Shape:
    * per-language aggregate (|langs| rows here; at scale the
    * allocation key can be domain-sized), corpus touched once,
    * map-side combined. The remainder rank is computed DISTRIBUTED
    * via the zipWithIndex pattern ([[CdcOps.cdcProgress]]): range-
    * partition by the rank order, rank within each partition, add
    * the cumulative sizes of the preceding partitions — never an
    * un-partitioned `Window.orderBy` (single-task at scale), and the
    * under-spend total comes from an aggregate + broadcast, never
    * `sum(...) OVER ()` (same single-task shape). */
  val mixBudgetAlloc: Q = (s, d) => {
    ensureRegistered(s)
    import org.apache.spark.sql.expressions.Window
    val per = Tables.documents(s, d)
      .repartition($"doc_id")
      .select($"lang", tokenCount($"text").cast("long").as("toks"))
      .groupBy($"lang").agg(sum($"toks").as("tokens"))
    val tot = per.agg(sum($"tokens").as("total"))
    // B·tokens runs in DECIMAL(38,0) (oracle: HUGEINT): a BIGINT
    // product overflows once a language holds > Long.Max/B ≈ 9.2e12
    // tokens — real at the 100 TB scale this op plans for
    val ranged = per.crossJoin(broadcast(tot))
      .withColumn("base", expr(
        s"(CAST($MixBudget AS DECIMAL(38,0)) * tokens) DIV total"))
      .withColumn("rem", expr(
        s"(CAST($MixBudget AS DECIMAL(38,0)) * tokens) % total"))
      .repartitionByRange($"rem".desc, $"lang")
      .withColumn("pid", spark_partition_id())
      .transform(Checkpoints.cut) // pin the sampled range boundaries
    val sizes = ranged.groupBy($"pid")
      .agg(count(lit(1)).as("cnt"), sum($"base").as("base_sum"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val leftover = MixBudget - sizes.map(_._3).sum
    val offsets = sizes.map(_._1).zip(
      sizes.map(_._2).scanLeft(0L)(_ + _)).toMap // pid -> rows before it
    val rk = row_number().over(
      Window.partitionBy($"pid").orderBy($"rem".desc, $"lang"))
      .cast("long") + element_at(typedLit(offsets), $"pid")
    ranged
      .withColumn("rk", rk)
      .select($"lang", $"tokens",
        ($"base" + when($"rk" <= leftover, 1L).otherwise(0L)).as("alloc"))
      .orderBy($"lang")
  }

  /** Temperature-scaled mixture weights (the mC4/ROOTS multilingual
    * sampling scheme): language l draws proportionally to
    * tokens^(1/T), here T = 2 → sqrt — rare languages upweighted
    * smoothly relative to proportional sampling, without
    * [[mixWeights]]' hard equal-budget clamp. Cross-engine exactness:
    * sqrt is IEEE-correctly-rounded (bit-identical on exact BIGINT
    * token counts), and the normalizing Σ√tokens folds over the
    * SORTED language list (a grouped double-sum's fold order is
    * partition-dependent; a 5-element sorted-list fold is
    * deterministic in both engines — the |languages|-sized list is
    * control-plane data, never corpus-sized). */
  val mixTemperature: Q = (s, d) => {
    val per = Tables.documents(s, d)
      .repartition($"doc_id")
      .select($"lang", tokenCount($"text").cast("long").as("toks"))
      .groupBy($"lang").agg(sum($"toks").as("tokens"))
    val tw = per.agg(expr(
      "aggregate(array_sort(collect_list(struct(lang, tokens))), 0.0D, " +
        "(a, x) -> a + sqrt(cast(x.tokens as double)))").as("tw"))
    per.crossJoin(broadcast(tw))
      .select($"lang", $"tokens",
        floor(sqrt($"tokens".cast("double")) / $"tw" * 1e6).cast("long")
          .as("frac_e6"))
      .orderBy($"lang")
  }

  /** The composed mixture pipeline: [[mixWeights]]'s per-language
    * fractions APPLIED by a deterministic multiplicative-hash draw
    * (the `sample_hash` scheme on doc_id mod 10000 buckets) — the
    * full rebalance → draw path under one gate. One corpus scan feeds
    * both the token budgets and the draw; the fraction table
    * broadcasts. Every language appears in the output (left join from
    * the fraction table), with exact integer kept-counts/token sums. */
  val pipelineMix: Q = (s, d) => {
    val tokDocs = Tables.documents(s, d)
      .repartition($"doc_id")
      .select($"doc_id", $"lang", tokenCount($"text").cast("long").as("toks"))
      .transform(Checkpoints.cut) // one tokenize pass feeds budgets AND the draw
    val per = tokDocs.groupBy($"lang").agg(sum($"toks").as("tokens"))
    val mn = per.agg(min($"tokens").as("min_tokens"))
    val frac = per.crossJoin(broadcast(mn))
      .select($"lang", $"tokens", expr(
        "cast(floor(cast(min_tokens as double) / tokens * 10000D) as bigint)")
        .as("bp"))
    val kept = tokDocs
      .withColumn("bucket", expr("(doc_id * 2654435761) % 4294967296 % 10000"))
      .join(broadcast(frac.select($"lang", $"bp")), Seq("lang"))
      .filter($"bucket" < $"bp")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"toks").as("tokens_kept"))
    frac.join(kept, Seq("lang"), "left")
      .select($"lang", $"tokens", $"bp",
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"tokens_kept", lit(0L)).as("tokens_kept"))
      .orderBy($"lang")
  }

  /** Vocabulary induction: the FIRST BPE merge iteration — corpus-wide
    * counts of adjacent character pairs inside tokens, top-30. This is
    * the statistic a byte-pair-encoding trainer computes every merge
    * round; at scale it is two nested explodes into ONE map-side-
    * combined hash aggregate (shuffle rows = distinct pairs, ~1k, not
    * corpus tokens) + a bounded top-N merge. Iterating the full BPE
    * training loop is this same query re-run over re-segmented tokens
    * with the merge table broadcast. */
  val tokBpePairs: Q = (s, d) =>
    Tables.documents(s, d)
      // pair counting is doc-identity-free, so prune to the text column
      // BEFORE the exchange and spread round-robin: the doc_id hash
      // shuffled all five document columns (and can bucket-skew); this
      // moves only text bytes and balances exactly (the single-row-group
      // testdata parquet cannot split, so the repartition itself is what
      // parallelizes the explode)
      .select($"text")
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(tokens($"text")).as("tok"))
      .filter(length($"tok") >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy($"pair").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(30)

  /** Character-diversity quality signal: per doc, the distinct-char
    * count and the char collision probability (Simpson index, Σc²/n²)
    * in basis points — the log-free gibberish/repetition detector (a
    * keyboard-mash or repeated-char doc has high collision, natural
    * text ~600–800 bp). Integer char counts + ONE division, floored —
    * exact cross-engine, unlike a Shannon entropy whose ln() low bits
    * are engine-defined. Shape: per-(doc, char) count → per-doc Σc² —
    * both map-side-combined; at 100 TB it is one narrow two-level
    * aggregate (≤ alphabet-size rows per doc). */
  val textCharDiversity: Q = (s, d) => {
    ensureRegistered(s)
    Tables.documents(s, d)
      .repartition($"doc_id") // single-row-group scans can't split;
                              // spread the per-doc kernel across tasks
      // one native pass per document replaces
      // explode(split(text, '')) → (doc, char) counts → per-doc agg:
      // the explode multiplies the corpus by |doc| rows BEFORE any
      // aggregation — at 100 TB that is petabytes of generated rows
      // for two numbers per document. Same code-point units, same
      // exact integers into the same double tree as the oracle.
      .withColumn("st", call_function("graft_char_stats", lower($"text")))
      .filter($"st.n" > 0) // empty docs are ABSENT in the explode
                           // spelling (no rows survive the split)
      .select($"doc_id", $"st.n_distinct".as("n_distinct_chars"),
        expr("cast(floor(cast(st.s2 as double) " +
          "/ (st.n * st.n) * 10000D) as bigint)").as("collision_bp"))
      .orderBy($"doc_id")
  }

  /** Function words for the Gopher stopword rule, drawn from the
    * synthetic corpus's high-frequency vocabulary (the real pipeline
    * would use the language's closed-class words — the rule is "a
    * natural-language document contains common function words", and
    * what is "common" is corpus-relative). */
  val GopherStopwords: Seq[String] =
    Seq("data", "table", "row", "value", "query", "join", "key", "column")

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1),
    * each an exact integer/boolean predicate so the gate carries no
    * float: word count in [10, 1000]; mean word length in [3, 10]
    * spelled as `3n ≤ Σlen ≤ 10n` (integer-exact — never divide);
    * ≥80% of words contain an alphabetic char (`5·n_alpha ≥ 4·n`);
    * ≥2 function words. `pass` is the conjunction — the row filter a
    * pre-training pipeline applies before tokenization. Map-only: one
    * projection over the scan, no shuffle but the presentation sort. */
  val textGopherRules: Q = (s, d) => {
    ensureRegistered(s)
    // r20: raw sort first (see textTokenCount)
    Tables.documents(s, d)
      .select($"doc_id", $"text")
      .orderBy($"doc_id")
      .withColumn("toks", tokens($"text"))
      .withColumn("n_words", size($"toks").cast("long"))
      // one native pass per doc (graft_gopher_counts) replaces three
      // interpreted higher-order lambdas — one of them a regex per
      // TOKEN (`rlike '[a-z]'`); same exact counts, oracle keeps the
      // declarative spelling, TokensSpec fuzzes the kernel
      .withColumn("gc",
        call_function("graft_gopher_counts", $"toks",
          typedLit(GopherStopwords)))
      .withColumn("sum_len", $"gc.sum_len")
      .withColumn("n_alpha", $"gc.n_alpha")
      .withColumn("n_stop", $"gc.n_stop")
      .withColumn("ok_nwords", $"n_words" >= 10 && $"n_words" <= 1000)
      .withColumn("ok_wordlen",
        $"sum_len" >= $"n_words" * 3 && $"sum_len" <= $"n_words" * 10)
      .withColumn("ok_alpha", $"n_alpha" * 5 >= $"n_words" * 4)
      .withColumn("ok_stop", $"n_stop" >= 2)
      .withColumn("pass",
        $"ok_nwords" && $"ok_wordlen" && $"ok_alpha" && $"ok_stop")
      .select($"doc_id", $"n_words", $"ok_nwords", $"ok_wordlen",
        $"ok_alpha", $"ok_stop", $"pass")
  }

  /** Chunk window (tokens) and stride for [[tokChunkOverlap]]; stride
    * < window ⇒ adjacent chunks overlap by `ChunkW - ChunkS` tokens. */
  val ChunkW = 64
  val ChunkS = 48

  /** Sliding-window token chunking with overlap — the RAG-indexing /
    * context-packing prep step: each document becomes
    * `1 + ⌈max(0, n−W)/S⌉` chunks of ≤ W tokens starting every S
    * tokens (W=[[ChunkW]], S=[[ChunkS]]: 16-token overlap), each with
    * a cross-engine-stable content hash (graft_polyhash of the
    * space-joined chunk) so downstream chunk-level dedup/lineage can
    * key on it. Stride < window guarantees the last chunk is
    * non-empty. Map-only explode — the corpus never shuffles; at
    * 100 TB this is one linear pass with column pruning to
    * (doc_id, text). */
  val tokChunkOverlap: Q = (s, d) => {
    ensureRegistered(s)
    val (w, st) = (ChunkW, ChunkS)
    Tables.documents(s, d)
      .repartition($"doc_id") // single-file scan → spread across cores
      .withColumn("toks", tokens($"text"))
      .filter(size($"toks") > 0)
      .withColumn("chunk_id", explode(expr(
        s"sequence(0, CASE WHEN size(toks) <= $w THEN 0" +
          s" ELSE (size(toks) - $w + $st - 1) DIV $st END)")))
      .withColumn("chunk", expr(s"slice(toks, chunk_id * $st + 1, $w)"))
      .select($"doc_id", $"chunk_id".cast("long").as("chunk_id"),
        size($"chunk").cast("long").as("n_toks"),
        expr(charHashSql("array_join(chunk, ' ')")).as("chunk_hash"))
      .orderBy($"doc_id", $"chunk_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("mix_budget_alloc", mixBudgetAlloc, Some(
      s"""WITH per AS (
        |  SELECT lang,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY lang),
        | t AS (SELECT CAST(sum(tokens) AS BIGINT) AS total FROM per),
        | r AS (
        |  SELECT lang, tokens,
        |    CAST((CAST($MixBudget AS HUGEINT) * tokens) // total AS BIGINT)
        |      AS base,
        |    row_number() OVER (
        |      ORDER BY (CAST($MixBudget AS HUGEINT) * tokens) % total DESC, lang)
        |      AS rk
        |  FROM per, t),
        | l AS (SELECT $MixBudget - CAST(sum(base) AS BIGINT) AS leftover FROM r)
        |SELECT lang, tokens,
        |  CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc
        |FROM r, l ORDER BY lang""".stripMargin)),

    QueryDef("tok_chunk_overlap", tokChunkOverlap, Some(
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents
        |  WHERE len(regexp_extract_all(lower(text), '[a-z0-9]+')) > 0),
        | ks AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, CASE WHEN len(toks) <= $ChunkW THEN 1
        |      ELSE 2 + (len(toks) - $ChunkW - 1) // $ChunkS END)) AS chunk_id
        |  FROM t),
        | c AS (
        |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    toks[chunk_id * $ChunkS + 1 : chunk_id * $ChunkS + $ChunkW] AS chunk
        |  FROM ks)
        |SELECT doc_id, chunk_id, CAST(len(chunk) AS BIGINT) AS n_toks,
        |  ${graft.engine.ops.DedupOps.duckCharHash("array_to_string(chunk, ' ')")} AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin)),

    QueryDef("text_gopher_rules", textGopherRules, Some {
      val stopList = GopherStopwords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
        |  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        | f AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(toks, x -> CAST(length(x) AS BIGINT))),
        |      (a, x) -> a + x) AS BIGINT) AS sum_len,
        |    CAST(len(list_filter(toks,
        |      x -> regexp_matches(x, '[a-z]'))) AS BIGINT) AS n_alpha,
        |    CAST(len(list_filter(toks,
        |      x -> list_contains([$stopList], x))) AS BIGINT) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_words,
        |  n_words >= 10 AND n_words <= 1000 AS ok_nwords,
        |  sum_len >= n_words * 3 AND sum_len <= n_words * 10 AS ok_wordlen,
        |  n_alpha * 5 >= n_words * 4 AS ok_alpha,
        |  n_stop >= 2 AS ok_stop,
        |  (n_words >= 10 AND n_words <= 1000)
        |    AND (sum_len >= n_words * 3 AND sum_len <= n_words * 10)
        |    AND (n_alpha * 5 >= n_words * 4) AND (n_stop >= 2) AS pass
        |FROM f ORDER BY doc_id""".stripMargin
    }),

    QueryDef("text_char_diversity", textCharDiversity, Some(
      """SELECT doc_id,
        |  CAST(count(1) AS BIGINT) AS n_distinct_chars,
        |  CAST(floor(CAST(sum(cnt * cnt) AS DOUBLE)
        |    / (sum(cnt) * sum(cnt)) * 10000) AS BIGINT) AS collision_bp
        |FROM (
        |  SELECT doc_id, c, count(1) AS cnt FROM (
        |    SELECT doc_id, unnest(string_split(lower(text), '')) AS c
        |    FROM documents)
        |  WHERE c <> '' GROUP BY doc_id, c)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    QueryDef("tok_bpe_pairs", tokBpePairs, Some(
      """SELECT pair, count(1) AS n FROM (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |           i -> tok[i:i+1])) AS pair
        |  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
        |        FROM documents)
        |  WHERE length(tok) >= 2)
        |GROUP BY pair ORDER BY n DESC, pair LIMIT 30""".stripMargin)),

    QueryDef("pipeline_mix", pipelineMix, Some(
      """WITH td AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS toks
        |  FROM documents),
        | per AS (SELECT lang, CAST(sum(toks) AS BIGINT) AS tokens
        |         FROM td GROUP BY lang),
        | frac AS (
        |  SELECT lang, tokens,
        |    CAST(floor(CAST((SELECT min(tokens) FROM per) AS DOUBLE)
        |      / tokens * 10000) AS BIGINT) AS bp
        |  FROM per),
        | kept AS (
        |  SELECT td.lang, count(1) AS n_kept,
        |    CAST(sum(td.toks) AS BIGINT) AS tokens_kept
        |  FROM td JOIN frac ON frac.lang = td.lang
        |  WHERE (td.doc_id * 2654435761) % 4294967296 % 10000 < frac.bp
        |  GROUP BY td.lang)
        |SELECT f.lang, f.tokens, f.bp,
        |  COALESCE(k.n_kept, 0) AS n_kept,
        |  COALESCE(k.tokens_kept, 0) AS tokens_kept
        |FROM frac f LEFT JOIN kept k ON k.lang = f.lang
        |ORDER BY f.lang""".stripMargin)),

    QueryDef("mix_weights", mixWeights, Some(
      """WITH per AS (
        |  SELECT lang, count(1) AS n_docs,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY lang)
        |SELECT lang, n_docs, tokens,
        |  CAST(floor(CAST((SELECT min(tokens) FROM per) AS DOUBLE)
        |    / tokens * 10000) AS BIGINT) AS sample_frac_bp
        |FROM per ORDER BY lang""".stripMargin)),

    QueryDef("mix_temperature", mixTemperature, Some(
      """WITH per AS (
        |  SELECT lang,
        |    CAST(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
        |      AS tokens
        |  FROM documents GROUP BY lang),
        | tw AS (
        |  SELECT list_reduce(list_prepend(0.0,
        |    list(sqrt(CAST(tokens AS DOUBLE)) ORDER BY lang)),
        |    (a, b) -> a + b) AS tw
        |  FROM per)
        |SELECT lang, tokens,
        |  CAST(floor(sqrt(CAST(tokens AS DOUBLE)) / tw.tw * 1000000) AS BIGINT)
        |    AS frac_e6
        |FROM per, tw ORDER BY lang""".stripMargin)),

    QueryDef("text_repetition", textRepetition, Some(
      """WITH g AS (
        |  SELECT doc_id,
        |    round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 4) AS top_bigram_frac
        |  FROM (
        |    SELECT doc_id, gram, count(1) AS cnt FROM (
        |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
        |               i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |            FROM documents))
        |    GROUP BY doc_id, gram)
        |  GROUP BY doc_id),
        | l AS (
        |  SELECT doc_id,
        |    CASE WHEN len(lines) > 0 THEN
        |      round(CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |        / len(lines), 4) ELSE 0.0 END AS dup_line_frac
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(text, chr(10)), x -> x <> '') AS lines
        |        FROM documents))
        |SELECT l.doc_id, coalesce(g.top_bigram_frac, 0.0) AS top_bigram_frac,
        |  l.dup_line_frac
        |FROM l LEFT JOIN g ON g.doc_id = l.doc_id
        |ORDER BY l.doc_id""".stripMargin)),

    QueryDef("dedup_exact", dedupExact, Some(
      """SELECT min(doc_id) AS doc_id, count(1) AS n_copies
        |FROM (SELECT doc_id,
        |        regexp_replace(trim(lower(text)), '\s+', ' ', 'g') AS norm
        |      FROM documents)
        |GROUP BY norm ORDER BY doc_id""".stripMargin)),

    QueryDef("text_tokens", textTokens, Some(
      """SELECT word, count(1) AS n FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS word
        |  FROM documents)
        |GROUP BY word ORDER BY n DESC, word LIMIT 20""".stripMargin)),

    QueryDef("text_token_count", textTokenCount, Some(
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS INTEGER) AS n_ws,
        |  CAST(len(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \t\r\n]')) AS INTEGER) AS n_bpe,
        |  round(CAST(length(text) AS DOUBLE)
        |    / nullif(len(regexp_extract_all(text, '\S+')), 0), 4) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("text_quality", textQuality, Some(
      """WITH t AS (
        |  SELECT doc_id,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks,
        |    CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |      / nullif(length(text), 0) AS alpha_raw,
        |    CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
        |      / nullif(length(text), 0) AS punct_raw
        |  FROM documents)
        |SELECT doc_id,
        |  round(alpha_raw, 4) AS alpha_ratio,
        |  round(punct_raw, 4) AS punct_ratio,
        |  round(CAST(len(list_filter(toks, t -> t IN
        |      ('the','a','an','and','of','to','in','is','it','that'))) AS DOUBLE)
        |    / nullif(len(toks), 0), 4) AS stop_ratio,
        |  CAST(floor((0.5 * alpha_raw + 0.3 * (1.0 - punct_raw)
        |    + 0.2 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)) * 10000.0) AS BIGINT) AS quality
        |FROM t ORDER BY doc_id""".stripMargin)),

    QueryDef("text_langid", textLangid, Some(
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |  FROM documents),
        | h AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, t -> t IN ('the','and','is','of','to'))) AS INTEGER) AS hits_en,
        |    CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS INTEGER) AS hits_de,
        |    CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS INTEGER) AS hits_fr,
        |    CAST(len(list_filter(toks, t -> t IN ('el','los','las','es','y'))) AS INTEGER) AS hits_es
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
        |       WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
        |       WHEN hits_fr >= hits_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  hits_en
        |FROM h ORDER BY doc_id""".stripMargin)),

    QueryDef("text_langid_ngram", textLangidNgram, Some(
      """WITH t AS (
        |  SELECT doc_id, lang, lower(text) AS lt FROM documents),
        | h AS (
        |  SELECT doc_id, lang,
        |    CAST((length(lt) - length(replace(lt, 'the', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'ing', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'ion', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'and', ''))) / 3 AS INTEGER) AS ng_en,
        |    CAST((length(lt) - length(replace(lt, 'der', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'sch', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'ein', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'und', ''))) / 3 AS INTEGER) AS ng_de,
        |    CAST((length(lt) - length(replace(lt, 'les', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'ent', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'que', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'eur', ''))) / 3 AS INTEGER) AS ng_fr,
        |    CAST((length(lt) - length(replace(lt, 'los', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'cio', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'dad', ''))) / 3
        |       + (length(lt) - length(replace(lt, 'ado', ''))) / 3 AS INTEGER) AS ng_es
        |  FROM t)
        |SELECT doc_id, lang,
        |  CASE WHEN ng_en >= ng_de AND ng_en >= ng_fr AND ng_en >= ng_es THEN 'en'
        |       WHEN ng_de >= ng_fr AND ng_de >= ng_es THEN 'de'
        |       WHEN ng_fr >= ng_es THEN 'fr'
        |       ELSE 'es' END AS pred_lang,
        |  ng_en, ng_de
        |FROM h ORDER BY doc_id""".stripMargin)),

    QueryDef("text_fingerprint", textFingerprint, Some(
      """SELECT doc_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(
        |      list_filter(string_split(
        |        substring(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'), 1, 256), ''),
        |        c -> c <> ''),
        |      c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin)),

    QueryDef("text_tfidf", textTfidf, Some(
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
        |  FROM documents),
        | tf AS (SELECT doc_id, term, count(1) AS tf FROM toks GROUP BY 1, 2),
        | df AS (SELECT term, count(1) AS df FROM tf GROUP BY 1),
        | n AS (SELECT count(1) AS n_docs FROM documents),
        | scored AS (
        |  SELECT doc_id, tf.term AS term,
        |    CAST((CAST(tf AS HUGEINT) * n_docs * 1000000) // df AS BIGINT)
        |      AS score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY (CAST(tf AS HUGEINT) * n_docs * 1000000) // df DESC,
        |        tf.term) AS rn
        |  FROM tf JOIN df ON tf.term = df.term, n)
        |SELECT doc_id, term, score FROM scored WHERE rn <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin)),

    QueryDef("text_ngram_freq", textNgramFreq, Some(
      """SELECT gram, count(1) AS n FROM (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i + 1])) AS gram
        |  FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        |        FROM documents))
        |GROUP BY gram ORDER BY n DESC, gram LIMIT 50""".stripMargin)),
  )
}
