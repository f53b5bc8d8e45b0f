package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Composed end-to-end operators: the full document-cleaning pipeline
  * (quality ∘ language ∘ repetition ∘ exact-dedup with per-doc verdicts),
  * the custom typed-Aggregator top-k in the differential gate, and IVF
  * retrieval over k-means-TRAINED centroids — the query that proves
  * [[KMeans]] is bit-reproducible cross-engine, not just spec-tested.
  *
  * Scale shapes: [[pipelineClean]] is two map-side-combined aggregates
  * (bigram stats, dup detection) plus one map-only signal pass, joined
  * narrow on doc_id — at 100 TB it runs as one pass over the corpus with
  * three shuffles, none corpus-global. [[aggTopkCustom]] carries O(k)
  * partial state per task (the Aggregator buffer), never a sort.
  * [[simIvfKmeans]] trains on broadcast centroids (k·dim driver state)
  * and probes 2 of k inverted lists.
  */
object PipelineOps {
  import TextFeatures._
  type Q = (SparkSession, String) => DataFrame

  /** Keep thresholds for [[pipelineClean]] (scaled-integer signal
    * space: quality and repetition are basis-point BIGINTs). */
  val MinQuality = 7400L
  val MaxRepBp = 2000L

  private val Dim = 64
  private val K = 4
  private val Iters = 2

  /** C4/Gopher-style cleaning pipeline as ONE query: every document
    * gets a verdict (kept or first failing rule) from composed signals
    * — exact-dup survivorship, blended quality score, stopword-voting
    * language match, top-bigram repetition. Rules short-circuit in a
    * fixed order so the reason column is deterministic. All signals are
    * exact integers or floor-scaled basis points (SURVEY §7.3c): no
    * cross-engine float hazards. */
  val pipelineClean: Q = (s, d) =>
    cleanVerdict(tokedDocs(s, d)).orderBy($"doc_id")

  /** Tokenize ONCE and materialize: every pipeline consumer (signal
    * branch, bigram branch, the pack stage) reads `toks` from this
    * checkpoint — without it each subtree re-scans the corpus and
    * re-runs the regexp chain (and projection collapse would re-inline
    * tokens() into every stopword filter). */
  private def tokedDocs(s: SparkSession, d: String): DataFrame = {
    ensureRegistered(s)
    Tables.documents(s, d).repartition($"doc_id")
      .select($"doc_id", $"lang", $"text", tokens($"text").as("toks"))
      .transform(Checkpoints.cut)
  }

  /** Per-doc verdicts over a tokenized corpus frame (unordered). */
  private def cleanVerdict(docs: DataFrame): DataFrame = {
    // map-only per-doc signals + the dup flag (one shuffle on the
    // normalized body; min-doc_id survivorship like dedup_exact)
    val sig = docs
      // native ASCII-set scans (graft_count_in) — same exact counts as
      // the regexp_replace-strip spelling the oracle keeps (TextOps.
      // textQuality has the equivalence argument and the fuzz spec)
      .withColumn("alpha_raw",
        call_function("graft_count_in", $"text",
          lit((('a' to 'z') ++ ('A' to 'Z')).mkString)).cast("double")
          / nullif(length($"text"), lit(0)))
      .withColumn("punct_raw",
        call_function("graft_count_in", $"text", lit(".,;:!?")).cast("double")
          / nullif(length($"text"), lit(0)))
      // empty / whitespace-only text → null ratios → quality must be
      // 0 (drop), not null (a null would skip the < MinQuality gate
      // and silently KEEP contentless documents)
      .withColumn("quality", coalesce(
        floor((lit(0.5) * $"alpha_raw" + lit(0.3) * (lit(1.0) - $"punct_raw")
          + lit(0.2) * least(lit(1.0), size($"toks").cast("double") / lit(100.0)))
          * lit(10000.0)).cast("long"), lit(0L)))
      .withColumn("hits_en", expr("size(filter(toks, t -> t IN ('the','and','is','of','to')))"))
      .withColumn("hits_de", expr("size(filter(toks, t -> t IN ('der','die','das','und','ist')))"))
      .withColumn("hits_fr", expr("size(filter(toks, t -> t IN ('le','la','les','et','est')))"))
      .withColumn("hits_es", expr("size(filter(toks, t -> t IN ('el','los','las','es','y')))"))
      .withColumn("pred_lang",
        when($"hits_en" >= $"hits_de" && $"hits_en" >= $"hits_fr" && $"hits_en" >= $"hits_es", lit("en"))
          .when($"hits_de" >= $"hits_fr" && $"hits_de" >= $"hits_es", lit("de"))
          .when($"hits_fr" >= $"hits_es", lit("fr"))
          .otherwise(lit("es")))
      .withColumn("is_dup",
        $"doc_id" > min($"doc_id").over(Window.partitionBy(normText($"text"))))
      .select($"doc_id", $"lang", $"quality", $"pred_lang", $"is_dup")
    // repetition signal: bigram explode → (doc, gram) count → per-doc
    // max/sum, all map-side-combined; floor basis points (exact)
    val rep = docs
      .select($"doc_id", explode(expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1), " +
          "i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1))) " +
          "ELSE array() END")).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("cnt"))
      .groupBy($"doc_id")
      .agg(expr("cast(floor(cast(max(cnt) as double) / sum(cnt) * 10000D) as bigint)")
        .as("rep_bp"))
    sig.join(rep, Seq("doc_id"), "left")
      .withColumn("rep_bp", coalesce($"rep_bp", lit(0L)))
      .withColumn("reason",
        when($"is_dup", lit("duplicate"))
          .when($"quality" < MinQuality, lit("quality"))
          .when($"pred_lang" =!= $"lang", lit("lang"))
          .when($"rep_bp" > MaxRepBp, lit("repetition")))
      .withColumn("kept", $"reason".isNull)
      .select($"doc_id", $"quality", $"pred_lang", $"rep_bp", $"kept", $"reason")
  }

  /** The typed `Aggregator[IN, BUF, OUT]` surface (SURVEY §2.C) under
    * the differential gate: top-3 customers by account balance per
    * market segment via [[graft.engine.functions.TopKAggregator]] —
    * O(k) partial state per task instead of a per-group sort, merged
    * O(k·#partitions). Ties break on lower custkey (the aggregator's
    * keep-order), mirrored by the oracle's window ORDER BY. */
  val aggTopkCustom: Q = (s, d) => {
    val topk = udaf(new graft.engine.functions.TopKAggregator(3))
    Tables.customer(s, d)
      .groupBy($"c_mktsegment")
      .agg(topk($"c_custkey", $"c_acctbal".cast("double")).as("top"))
      .select($"c_mktsegment", posexplode($"top"))
      .select($"c_mktsegment", ($"pos" + 1).cast("int").as("rk"),
        $"col._1".as("c_custkey"), $"col._2".as("bal"))
      .orderBy($"c_mktsegment", $"rk")
  }

  private def arrLit(a: Array[Double]): String =
    "array(" + a.map(x => s"${x}D").mkString(",") + ")"

  /** IVF top-5 retrieval for query vector 0 over centroids TRAINED by
    * [[KMeans.fit]] (k=4, 2 Lloyd iterations, first-k init) — unlike
    * [[SimOps.simIvf]]'s fixed first-k centroids, this exercises the
    * full train→index→probe path. Every training step is cross-engine
    * exact (scaled-BIGINT sums, IEEE division, identical fold orders),
    * so the DuckDB oracle retrains the SAME model from scratch in SQL
    * (2 unrolled iterations) and lands on bit-identical centroids.
    * Empty-cluster semantics match fit(): a cluster with no members
    * keeps its previous centroid (oracle: COALESCE over a left join). */
  val simIvfKmeans: Q = (s, d) => {
    ensureRegistered(s)
    val ve = SimOps.vecs(s, d).transform(Checkpoints.cut)
    val model = KMeans.fit(ve.select($"vec_id".as("id"), $"v"), K, Iters)
    val cus = model.centroids.map(KMeans.unit)
    // same sortable-BIGINT encoding as fit()'s assignment step:
    // (round(dot·1e6) + 4e9)·K + (K−1−j) → argmax dot, tie → smaller j
    val encs = cus.zipWithIndex.map { case (c, j) =>
      s"(cast(round(graft_dot(v, ${arrLit(c)}) * 1000000D) as bigint)" +
        s" + 4000000000L) * $K + ${K - 1 - j}"
    }
    val assigned = ve
      .withColumn("encs", expr(s"array_sort(array(${encs.mkString(",")}))"))
      .withColumn("cid", (lit(K - 1) - expr(s"element_at(encs, $K) % $K")).cast("int"))
    val probes = assigned.filter($"vec_id" === 0)
      .select(explode(array(
        (lit(K - 1) - expr(s"element_at(encs, $K) % $K")).cast("int"),
        (lit(K - 1) - expr(s"element_at(encs, ${K - 1}) % $K")).cast("int"))).as("probe_cid"))
    val q = ve.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
    assigned.filter($"vec_id" =!= 0)
      .join(broadcast(probes), $"cid" === $"probe_cid")
      .crossJoin(broadcast(q))
      // floor-scaled BIGINT, not round(,4): floor is exact on
      // bit-identical doubles, while round can split a half-ulp
      // boundary across engines (see embed_quantize / mix_weights)
      .withColumn("cos_e4",
        floor(expr("graft_dot(v, qv)") / ($"nrm" * $"qn") * 1e4).cast("long"))
      .select($"vec_id", $"cos_e4")
      .orderBy($"cos_e4".desc, $"vec_id")
      .limit(5)
  }

  /** Sequence-packing budget (tokens per training sequence). */
  val PackBudget = 512L

  /** Concat-and-chunk sequence packing — the step that turns a cleaned
    * corpus into fixed-length training sequences: documents are laid
    * end-to-end in doc_id order and cut every [[PackBudget]] tokens;
    * each doc reports the sequence it starts in, its offset there, and
    * how many sequences it spans. The global token prefix-sum is
    * computed DISTRIBUTED (repartitionByRange + per-partition window +
    * a #partitions-sized broadcast offset map — the cdc_progress
    * pattern), never a single-task `Window.orderBy`: at 100 TB the
    * cumsum is the whole job, and this shape keeps it one range
    * shuffle. All integer arithmetic — no cross-engine hazards. */
  val packSequences: Q = (s, d) =>
    packLayout(Tables.documents(s, d)
      .select($"doc_id", tokenCount($"text").cast("long").as("n_toks")))

  /** Distributed EXCLUSIVE prefix sum: appends `cum_before` = Σ`v`
    * over all rows with smaller `id`. repartitionByRange + a
    * per-partition window + a #partitions-sized broadcast offset map
    * (the cdc_progress pattern) — never a single-task global
    * `Window.orderBy`: at 100 TB the cumsum IS the job, and this
    * shape keeps it one range shuffle. Shared by the sequence-packing
    * layouts here and the media shard assignment
    * (`multimodal.Multimodal.mmShards`). */
  private[graft] def cumBefore(df: DataFrame, id: String, v: String): DataFrame = {
    val t = df
      .repartitionByRange(col(id))
      .withColumn("pid", spark_partition_id())
      .transform(Checkpoints.cut) // pin the sampled range boundaries (see cdc_progress)
    val sizes = t.groupBy($"pid").agg(sum(col(v)).as("t")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = sizes.map(_._1) // pid -> total v before this partition
      .zip(sizes.map(_._2).scanLeft(0L)(_ + _)).toMap
    val w = Window.partitionBy($"pid").orderBy(col(id))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("cum_before",
        coalesce(sum(col(v)).over(w), lit(0L))
          + element_at(typedLit(offsets), $"pid"))
      .drop("pid")
  }

  /** The distributed layout pass shared by [[packSequences]] (whole
    * corpus) and [[pipelinePack]] (post-clean survivors): input is any
    * (doc_id, n_toks) frame. */
  private def packLayout(docCounts: DataFrame): DataFrame = {
    cumBefore(docCounts, "doc_id", "n_toks")
      .withColumn("seq_id", expr(s"cum_before DIV $PackBudget"))
      .withColumn("seq_off", $"cum_before" % PackBudget)
      .withColumn("n_seqs", when($"n_toks" === 0L, lit(0L)).otherwise(
        expr(s"(cum_before + n_toks - 1) DIV $PackBudget - cum_before DIV $PackBudget + 1")))
      .select($"doc_id", $"n_toks", $"seq_id", $"seq_off", $"n_seqs")
      .orderBy($"doc_id")
  }

  /** The composed end-to-end shape a real corpus pipeline runs: clean
    * verdicts gate which documents exist at all, and ONLY the kept
    * docs are packed into training sequences — clean ∘ pack as one
    * differential-gated query. Same distributed layout pass, fed by
    * the survivor set (narrow doc_id semi-join). */
  val pipelinePack: Q = (s, d) => {
    // ONE tokenized checkpoint feeds both the verdict and the pack
    // stage — the survivors' token counts are read, not recomputed
    val docs = tokedDocs(s, d)
    val kept = cleanVerdict(docs).filter($"kept").select($"doc_id")
    packLayout(docs
      .join(kept, Seq("doc_id"), "left_semi")
      .select($"doc_id", size($"toks").cast("long").as("n_toks")))
  }

  /** Z-order clustering layout (the Delta/Iceberg `OPTIMIZE ZORDER`
    * primitive): each row's (partkey, suppkey) interleave bit-by-bit
    * into a Morton code, and the file/bucket a row lands in is the
    * code's high bits — rows near each other in BOTH dimensions land
    * in the same bucket, so a scan filtered on EITHER key prunes most
    * buckets (min/max zone maps stay tight on both columns at once,
    * which no single-column sort achieves). Emits the per-bucket zone
    * map (count + min/max of both keys) — the statistics a data-
    * skipping reader consults. Map-only code computation + one hash
    * aggregate; at 100 TB this is the repartitionByRange(morton) write
    * planning pass. All BIGINT bit arithmetic — cross-engine exact. */
  val dataZorder: Q = (s, d) => {
    // native codegen'd interleave (functions.MortonInterleave) — the
    // declarative aggregate-over-sequence fold ran one boxed lambda
    // per bit per row (interpreted higher-order functions), which
    // dominated this query's runtime; bit-parity with the fold (and
    // the oracle's list_reduce twin) is property-tested in PropertySpec
    val morton = "graft_morton(pk, sk)"
    ensureRegistered(s)
    Tables.lineitem(s, d)
      .select(($"l_partkey" % 65536L).as("pk"), ($"l_suppkey" % 65536L).as("sk"))
      .withColumn("bucket", expr(s"($morton) DIV 262144L"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_rows"),
        min($"pk").as("pk_min"), max($"pk").as("pk_max"),
        min($"sk").as("sk_min"), max($"sk").as("sk_max"))
      .orderBy($"bucket")
  }

  // ------------------------------------------------------------ oracles

  private def duckDotV(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${Dim + 1}), " +
      s"t -> $a[t] * $b[t])), (x, y) -> x + y)"

  /** Unit-normalize CTE body: same left fold as [[KMeans.unit]]. */
  private def duckUnit(src: String): String =
    s"SELECT cid, list_transform(c, x -> x / sqrt(list_reduce(list_prepend(0.0, " +
      s"list_transform(c, y -> y * y)), (a, b) -> a + b))) AS cu FROM $src"

  /** One unrolled Lloyd iteration: assignment (argmax-dot via the
    * sortable-BIGINT encoding) + exact scaled-BIGINT mean update, with
    * fit()'s keep-previous-centroid semantics for empty clusters. */
  private def duckIter(i: Int): String =
    s""" a$i AS (
       |  SELECT v.vec_id,
       |    ${K - 1} - (max((CAST(round(${duckDotV("v.v", "cu.cu")} * 1000000) AS BIGINT)
       |      + 4000000000) * $K + (${K - 1} - cu.cid)) % $K) AS cid
       |  FROM vecs v, cu${i - 1} cu GROUP BY v.vec_id),
       | m$i AS (
       |  SELECT a.cid, u.t AS pos,
       |    CAST(sum(CAST(round(v.v[u.t] * 1000000000) AS BIGINT)) AS DOUBLE)
       |      / (CAST(count(1) AS DOUBLE) * 1000000000) AS mv
       |  FROM vecs v JOIN a$i a ON a.vec_id = v.vec_id,
       |       (SELECT unnest(range(1, ${Dim + 1})) AS t) u
       |  GROUP BY a.cid, u.t),
       | c$i AS (
       |  SELECT p.cid, COALESCE(n.c, p.c) AS c
       |  FROM c${i - 1} p LEFT JOIN
       |    (SELECT cid, list(mv ORDER BY pos) AS c FROM m$i GROUP BY cid) n
       |    ON n.cid = p.cid),
       | cu$i AS (${duckUnit(s"c$i")})""".stripMargin

  /** The cumsum + chunk layout over a `t(doc_id, n_toks)` CTE — shared
    * by the pack_sequences and pipeline_pack oracles. */
  private val packSql: String =
    s""" c AS (
       |  SELECT doc_id, n_toks,
       |    CAST(COALESCE(SUM(n_toks) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t)
       |SELECT doc_id, n_toks,
       |  CAST(cum_before // $PackBudget AS BIGINT) AS seq_id,
       |  CAST(cum_before % $PackBudget AS BIGINT) AS seq_off,
       |  CAST(CASE WHEN n_toks = 0 THEN 0
       |       ELSE (cum_before + n_toks - 1) // $PackBudget
       |            - cum_before // $PackBudget + 1 END AS BIGINT) AS n_seqs
       |FROM c ORDER BY doc_id""".stripMargin

  /** The clean-verdict CTE chain (sig, rep, v) shared by the
    * pipeline_clean and pipeline_pack oracles. */
  private val cleanSql: String =
    s"""sig AS (
         |  SELECT doc_id, lang,
         |    COALESCE(CAST(floor((0.5 * alpha_raw + 0.3 * (1.0 - punct_raw)
         |      + 0.2 * least(1.0, CAST(len(toks) AS DOUBLE) / 100.0)) * 10000.0) AS BIGINT), 0) AS quality,
         |    CASE WHEN hits_en >= hits_de AND hits_en >= hits_fr AND hits_en >= hits_es THEN 'en'
         |         WHEN hits_de >= hits_fr AND hits_de >= hits_es THEN 'de'
         |         WHEN hits_fr >= hits_es THEN 'fr'
         |         ELSE 'es' END AS pred_lang,
         |    is_dup
         |  FROM (
         |    SELECT doc_id, lang, toks,
         |      CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |        / nullif(length(text), 0) AS alpha_raw,
         |      CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS DOUBLE)
         |        / nullif(length(text), 0) AS punct_raw,
         |      CAST(len(list_filter(toks, t -> t IN ('the','and','is','of','to'))) AS INTEGER) AS hits_en,
         |      CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist'))) AS INTEGER) AS hits_de,
         |      CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est'))) AS INTEGER) AS hits_fr,
         |      CAST(len(list_filter(toks, t -> t IN ('el','los','las','es','y'))) AS INTEGER) AS hits_es,
         |      doc_id > min(doc_id) OVER (PARTITION BY
         |        regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS is_dup
         |    FROM (SELECT doc_id, lang, text,
         |            regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |          FROM documents))),
         | rep AS (
         |  SELECT doc_id,
         |    CAST(floor(CAST(max(cnt) AS DOUBLE) / sum(cnt) * 10000) AS BIGINT) AS rep_bp
         |  FROM (
         |    SELECT doc_id, gram, count(1) AS cnt FROM (
         |      SELECT doc_id, unnest(list_transform(range(1, len(toks)),
         |               i -> toks[i] || ' ' || toks[i + 1])) AS gram
         |      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
         |            FROM documents))
         |    GROUP BY doc_id, gram)
         |  GROUP BY doc_id),
         | v AS (
         |  SELECT s.doc_id, s.quality, s.pred_lang,
         |    COALESCE(r.rep_bp, 0) AS rep_bp,
         |    CASE WHEN s.is_dup THEN 'duplicate'
         |         WHEN s.quality < $MinQuality THEN 'quality'
         |         WHEN s.pred_lang <> s.lang THEN 'lang'
         |         WHEN COALESCE(r.rep_bp, 0) > $MaxRepBp THEN 'repetition'
         |    END AS reason
         |  FROM sig s LEFT JOIN rep r ON r.doc_id = s.doc_id)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("pack_sequences", packSequences, Some(
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_toks
         |  FROM documents),
         |$packSql""".stripMargin)),

    QueryDef("pipeline_pack", pipelinePack, Some(
      s"""WITH $cleanSql,
         | t AS (
         |  SELECT d.doc_id,
         |    CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n_toks
         |  FROM documents d JOIN v ON v.doc_id = d.doc_id AND v.reason IS NULL),
         |$packSql""".stripMargin)),

    QueryDef("pipeline_clean", pipelineClean, Some(
      s"""WITH $cleanSql
         |SELECT doc_id, quality, pred_lang, rep_bp,
         |  reason IS NULL AS kept, reason
         |FROM v ORDER BY doc_id""".stripMargin)),

    QueryDef("agg_topk_custom", aggTopkCustom, Some(
      """WITH ranked AS (
        |  SELECT c_mktsegment, c_custkey, CAST(c_acctbal AS DOUBLE) AS bal,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer)
        |SELECT c_mktsegment, CAST(rk AS INTEGER) AS rk, c_custkey, bal
        |FROM ranked WHERE rk <= 3
        |ORDER BY c_mktsegment, rk""".stripMargin)),

    QueryDef("sim_ivf_kmeans", simIvfKmeans, Some(
      s"""WITH vecs AS (
         |  SELECT vec_id, v,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
         |      (a, b) -> a + b)) AS nrm
         |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         | c0 AS (SELECT vec_id AS cid, v AS c FROM vecs WHERE vec_id < $K),
         | cu0 AS (${duckUnit("c0")}),
         |${(1 to Iters).map(duckIter).mkString(",\n")},
         | enc AS (
         |  SELECT v.vec_id, list_sort(list(
         |    (CAST(round(${duckDotV("v.v", "cu.cu")} * 1000000) AS BIGINT)
         |     + 4000000000) * $K + (${K - 1} - cu.cid))) AS encs
         |  FROM vecs v, cu$Iters cu GROUP BY v.vec_id),
         | asg AS (SELECT vec_id, ${K - 1} - (encs[$K] % $K) AS cid FROM enc),
         | probes AS (
         |  SELECT unnest([${K - 1} - (encs[$K] % $K),
         |                 ${K - 1} - (encs[${K - 1}] % $K)]) AS pcid
         |  FROM enc WHERE vec_id = 0)
         |SELECT e.vec_id,
         |  CAST(floor(${duckDotV("e.v", "q.v")} / (e.nrm * q.nrm) * 10000)
         |       AS BIGINT) AS cos_e4
         |FROM vecs e
         |JOIN asg ON asg.vec_id = e.vec_id
         |JOIN probes ON probes.pcid = asg.cid,
         |(SELECT v, nrm FROM vecs WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_e4 DESC, e.vec_id LIMIT 5""".stripMargin)),

    QueryDef("data_zorder", dataZorder, Some(
      """WITH k AS (
        |  SELECT l_partkey % 65536 AS pk, l_suppkey % 65536 AS sk
        |  FROM lineitem),
        | z AS (
        |  SELECT pk, sk,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(16),
        |      i -> (((pk >> CAST(i AS INTEGER)) & 1) << CAST(2 * i AS INTEGER))
        |         + (((sk >> CAST(i AS INTEGER)) & 1) << CAST(2 * i + 1 AS INTEGER)))),
        |      (a, b) -> a + b) // 262144 AS bucket
        |  FROM k)
        |SELECT bucket, CAST(count(1) AS BIGINT) AS n_rows,
        |  min(pk) AS pk_min, max(pk) AS pk_max,
        |  min(sk) AS sk_min, max(sk) AS sk_max
        |FROM z GROUP BY bucket ORDER BY bucket""".stripMargin)),
  )
}
