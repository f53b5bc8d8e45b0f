package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (north-star similarity-search operators).
  *
  * [[simTopk]] is the exact brute-force baseline: broadcast the query
  * vector, one map-only cosine pass over the corpus, TakeOrdered top-k
  * — at 100 TB this is one scan, no shuffle beyond the final top-k
  * merge, and the pattern to beat.
  *
  * [[simLsh]] is the scale path: random-hyperplane LSH. Each vector is
  * sign-hashed against 4 fixed integer hyperplanes into a 4-bit bucket
  * (map-only); the query probes only its own bucket (~1/16 of the
  * corpus), then ranks candidates by exact cosine. Hyperplanes are a
  * deterministic integer lattice (((k·131 + i·31) mod 17) − 8) so both
  * engines compute identical buckets — at production scale these would
  * be seeded Gaussian vectors, with multi-probe on neighboring buckets
  * for recall.
  */
object SimOps {
  type Q = (SparkSession, String) => DataFrame

  /** (vec_id, v: array<double>, nrm) with fold-order-stable norm.
    * Uses the native codegen'd `graft_dot` (see VectorExprs) — same
    * IEEE fold order as the declarative aggregate/zip_with form the
    * DuckDB oracle mirrors. Shared with [[DedupOps.dedupEmbed]]: ONE
    * definition of the prep keeps every embedding oracle's fold order
    * in lockstep. */
  private[ops] def vecs(s: SparkSession, d: String): DataFrame = {
    graft.engine.functions.VectorOps.register(s)
    Tables.embeddings(s, d)
      .repartition($"vec_id") // single-file scan → spread across cores
      // native array cast, not transform(x -> cast(...)): the element
      // cast is identical (float→double widening is exact) but Cast
      // stays in whole-stage codegen while the lambda runs interpreted
      .withColumn("v", $"embedding".cast("array<double>"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .select($"vec_id", $"v", $"nrm")
  }

  private val dotSql = "graft_dot(v, qv)"

  /** Embedding dimensionality of the driver testdata. */
  private val Dim = 64

  /** The k-th deterministic integer-lattice hyperplane as a SQL double
    * array literal (constant-folded by Catalyst). */
  private def hyperplane(k: Int): String =
    "array(" + (1 to Dim).map(i => s"${((k * 131 + i * 31) % 17 - 8).toDouble}D")
      .mkString(",") + ")"

  /** 4-bit hyperplane bucket of vector column `v`. */
  private val bucketSql: String =
    (0 until 4).map(k =>
      s"(CASE WHEN graft_dot(v, ${hyperplane(k)}) >= 0.0D THEN ${1 << k} ELSE 0 END)")
      .mkString(" + ")

  /** Exact top-10 cosine neighbors of vec_id 0 (brute force).
    * Scores ride floor-scaled BIGINT basis points (floor is exact on
    * bit-identical doubles; `round(,4)` can split a half-ulp boundary
    * across engines — SURVEY §7.3f2). */
  val simTopk: Q = (s, d) => {
    val ve = vecs(s, d)
    val q = ve.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
    ve.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .select($"vec_id", $"cos_e4")
      .orderBy($"cos_e4".desc, $"vec_id")
      .limit(10)
  }

  /** Range (radius) similarity search: ALL neighbors of vec 0 with
    * cosine ≥ 0.25 — the fixed-threshold twin of [[simTopk]] (top-k
    * bounds result count; range bounds distance). Same map-only
    * broadcast-query pass; the threshold compares on floor-scaled
    * basis points (floor of bit-identical doubles is exact, SURVEY
    * §7.3f2) so the cut is cross-engine stable. */
  val simRange: Q = (s, d) => {
    val ve = vecs(s, d)
    val q = ve.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
    ve.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_fp",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .filter($"cos_fp" >= 2500)
      .select($"vec_id", $"cos_fp")
      .orderBy($"cos_fp".desc, $"vec_id")
  }

  /** LSH-bucketed top-5: probe the query's 4-bit hyperplane bucket,
    * rank the bucket's candidates by exact cosine. */
  val simLsh: Q = (s, d) => {
    val ve = vecs(s, d).withColumn("bucket", expr(bucketSql))
    val q = ve.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"nrm".as("qn"), $"bucket".as("qbucket"))
    ve.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .filter($"bucket" === $"qbucket")
      .withColumn("cos_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .select($"vec_id", $"cos_e4")
      .orderBy($"cos_e4".desc, $"vec_id")
      .limit(5)
  }

  /** MULTI-PROBE hyperplane LSH: probe the query's bucket plus its 4
    * Hamming-1 neighbors (one hyperplane flipped) — 5 of the 16
    * buckets. The production LSH recall knob: near neighbors that land
    * one sign-flip away (the common miss mode — a dot product near 0)
    * are recovered WITHOUT extra hash tables or index memory; probes
    * trade touched partitions for recall, smoothly. Same map-only
    * scan + bucket filter as [[simLsh]], ~5/16 of the corpus ranked. */
  val simMultiprobe: Q = (s, d) => {
    val ve = vecs(s, d).withColumn("bucket", expr(bucketSql))
    val q = ve.filter($"vec_id" === 0)
      .select($"v".as("qv"), $"nrm".as("qn"), $"bucket".as("qbucket"))
    ve.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .filter(expr("bucket = qbucket OR bucket = (qbucket ^ 1) " +
        "OR bucket = (qbucket ^ 2) OR bucket = (qbucket ^ 4) " +
        "OR bucket = (qbucket ^ 8)"))
      .withColumn("cos_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .select($"vec_id", $"cos_e4")
      .orderBy($"cos_e4".desc, $"vec_id")
      .limit(10)
  }

  /** IVF-style ANN: "train" centroids (deterministically: the first 8
    * vectors), assign every vector to its max-cosine centroid
    * (broadcast centroid table — map-only over the corpus), then
    * answer the query by probing only its 2 nearest centroids'
    * inverted lists and ranking those candidates by exact cosine.
    * Cosines are ranked on floor-scaled micro-units (exact on
    * bit-identical doubles) with centroid-id tie-break so the
    * assignment is cross-engine deterministic. At production
    * scale the centroids come from k-means and the assignment table is
    * the partitioned index; probe count trades recall for touched
    * partitions. */
  val simIvf: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ve = vecs(s, d).transform(Checkpoints.cut)
    val cents = ve.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cnrm"))
    val ranked = ve.crossJoin(broadcast(cents))
      .withColumn("ccos_e6",
        floor(expr("graft_dot(v, cv)") / ($"nrm" * $"cnrm") * 1e6).cast("long"))
      .withColumn("crn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"ccos_e6".desc, $"cid")))
    val assignment = ranked.filter($"crn" === 1).select($"vec_id", $"cid")
    val probes = ranked.filter($"vec_id" === 0 && $"crn" <= 2)
      .select($"cid".as("probe_cid"))
    val q = ve.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
    ve.filter($"vec_id" =!= 0)
      .join(assignment, "vec_id")
      .join(broadcast(probes), $"cid" === $"probe_cid")
      .crossJoin(broadcast(q))
      .withColumn("cos_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .select($"vec_id", $"cos_e4")
      .orderBy($"cos_e4".desc, $"vec_id")
      .limit(5)
  }

  /** Element-wise mean embedding per group (the k-means update step /
    * per-cluster centroid computation). Cross-engine-exact double sums
    * are impossible (fold order), so each float is scaled to an exact
    * BIGINT first — x·1e9 is exactly representable (24-bit float
    * mantissa × 5⁹ < 2⁵³) and round() ties break identically (both
    * engines round half away from zero) — then summed order-free in
    * integer space; one division at the end. posexplode → one hash
    * aggregate on (grp, pos): fully map-side-combined, scales as a
    * plain grouped agg. */
  val embedGroupMean: Q = (s, d) =>
    Tables.embeddings(s, d)
      .repartition($"vec_id")
      .select(($"vec_id" % 8).as("grp"), posexplode(
        expr("transform(embedding, x -> cast(round(cast(x as double) * 1000000000D) as bigint))")))
      .groupBy($"grp", $"pos")
      .agg(sum($"col").as("ssum"), count(lit(1)).as("n"))
      .select($"grp", $"pos",
        round($"ssum".cast("double")
          / ($"n" * lit(1000000000L)).cast("double"), 6).as("mean"))
      .orderBy($"grp", $"pos")

  /** Per-vector int8 scalar quantization (the storage/ANN compression
    * pass: 4× smaller than float32, 8× smaller than the double form):
    * q_i = round((x_i − min) / ((max − min)/255)) ∈ [0, 255], plus the
    * max reconstruction error. Pure map-only projection — scales as a
    * scan; every step is IEEE arithmetic both engines execute
    * identically (div + round-half-away, no sums).
    *
    * The quantized codes are verified through two exact integer
    * digests rather than the raw array — `q_sum` (Σ qᵢ) and the
    * position-weighted `q_checksum` (Σ qᵢ·i, order-sensitive, so a
    * permutation of codes can't slip past) — because the differential
    * gate compares flat scalar columns. The reconstruction error is
    * emitted as `floor(err·1e6)` (exact on bit-identical doubles; a
    * cross-engine `round()` on a computed double is not safe). */
  val embedQuantize: Q = (s, d) =>
    Tables.embeddings(s, d)
      .repartition($"vec_id")
      .withColumn("v", $"embedding".cast("array<double>"))
      .withColumn("mn", expr("array_min(v)"))
      .withColumn("scale", (expr("array_max(v)") - $"mn") / 255.0)
      .withColumn("q", expr(
        "transform(v, x -> CASE WHEN scale > 0D " +
          "THEN cast(round((x - mn) / scale) as bigint) ELSE 0L END)"))
      .withColumn("max_err_micro", expr(
        "cast(floor(array_max(transform(v, (x, i) -> " +
          "abs(x - (mn + element_at(q, i + 1) * scale)))) * 1000000D) as bigint)"))
      .select($"vec_id",
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
        expr("aggregate(zip_with(q, sequence(1L, cast(size(q) as bigint)), " +
          "(x, i) -> x * i), 0L, (a, x) -> a + x)").as("q_checksum"),
        $"max_err_micro")
      .orderBy($"vec_id")

  /** Product quantization (the IVF-PQ compression path: 64 float32
    * dims → 8 two-bit codes = 2 bytes/vector): the vector is split
    * into 8 contiguous 8-dim subspaces; each subvector is assigned to
    * the nearest of 4 per-subspace centroids by squared L2; the 8
    * codes pack into one BIGINT (code_m in bits 2m..2m+1) — an
    * order-sensitive complete digest, so the cross-engine compare
    * needs no array columns. Centroids are the first 4 vectors'
    * subvectors (deterministic "training", same convention as
    * [[simIvf]]; k-means per subspace in production), collected once
    * at plan build — 4 rows, control-plane-sized — and inlined as
    * constant-folded literals, so the assignment is a MAP-ONLY
    * projection: one scan, no join, no shuffle — the shape that
    * encodes 100 TB of embeddings in one pass.
    *
    * Determinism: subvector distances fold left in element order on
    * bit-identical doubles in both engines; the argmin rides the
    * sortable-BIGINT encoding floor(dist·1e6)·4 + k (floor, not
    * round — one definition, exact on identical bits; ties break to
    * the smaller centroid id). */
  /** The first-4-vectors PQ "codebook" (4 rows, control-plane-sized),
    * collected once at plan build. */
  private def pqCents(s: SparkSession, d: String): Array[Array[Double]] =
    Tables.embeddings(s, d)
      .filter($"vec_id" < 4).orderBy($"vec_id")
      .select($"embedding").collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)

  /** SQL for subspace m's code (BIGINT 0..3) of vector column `v`:
    * nearest-centroid argmin via the floor(dist·1e6)·4 + k sortable
    * encoding (ties → smaller centroid id). Distances ride the native
    * codegen'd `graft_l2` (same left-fold IEEE order as the
    * declarative `aggregate(zip_with(...))` the oracle mirrors) — the
    * interpreted-lambda form costs ~10× the arithmetic at corpus
    * scale (see VectorExprs). */
  private def pqCodeSql(cents: Array[Array[Double]])(m: Int): String = {
    def subLit(k: Int): String =
      "array(" + (0 until 8).map(i => s"${cents(k)(m * 8 + i)}D").mkString(",") + ")"
    val encs = (0 until 4).map { k =>
      s"cast(floor(graft_l2(slice(v, ${m * 8 + 1}, 8), ${subLit(k)}) * 1000000D) " +
        s"as bigint) * 4 + $k"
    }
    s"(least(${encs.mkString(",")}) % 4)"
  }

  val embedPq: Q = (s, d) => {
    graft.engine.functions.VectorOps.register(s)
    val code = pqCodeSql(pqCents(s, d)) _
    val packed = (0 until 8)
      .map(m => s"${code(m)} * ${1L << (2 * m)}L").mkString(" + ")
    Tables.embeddings(s, d)
      .repartition($"vec_id") // single-file scan → spread across cores
      .withColumn("v", $"embedding".cast("array<double>"))
      .select($"vec_id", expr(packed).as("pq_code"))
      .orderBy($"vec_id")
  }

  /** PQ retrieval by asymmetric distance computation (ADC): the query
    * vector is NOT quantized — per subspace, its squared distance to
    * each of the 4 centroids is precomputed into a 8×4 lookup table
    * (driver-side, from the same collected codebook; left-fold element
    * order matches both engines), and every corpus vector's
    * approximate distance is the 8-term LUT sum selected by its codes.
    * Still a map-only scan + global top-5: the PQ index answers
    * queries without touching a single float of the corpus — at
    * 100 TB the scan reads 2-byte codes, not 256-byte vectors.
    * Distances are emitted as floor(dist·1e6) BIGINTs; the oracle
    * rebuilds codes and LUT in SQL and folds the 8 terms in subspace
    * order (list(t ORDER BY m)), matching Spark's literal addition
    * chain bit for bit. */
  val simPqAdc: Q = (s, d) => {
    graft.engine.functions.VectorOps.register(s)
    val cents = pqCents(s, d)
    val code = pqCodeSql(cents) _
    val qv: Array[Double] = Tables.embeddings(s, d)
      .filter($"vec_id" === 0).select($"embedding").collect()
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val lut = Array.tabulate(8, 4) { (m, k) =>
      (0 until 8).foldLeft(0.0) { (a, i) =>
        val dd = qv(m * 8 + i) - cents(k)(m * 8 + i); a + dd * dd
      }
    }
    val dist = (0 until 8).map { m =>
      s"element_at(array(${(0 until 4).map(k => s"${lut(m)(k)}D").mkString(",")}), " +
        s"cast(${code(m)} as int) + 1)"
    }.mkString(" + ")
    Tables.embeddings(s, d)
      .repartition($"vec_id")
      .withColumn("v", $"embedding".cast("array<double>"))
      .filter($"vec_id" =!= 0)
      .select($"vec_id",
        expr(s"cast(floor(($dist) * 1000000D) as bigint)").as("adist_e6"))
      .orderBy($"adist_e6".asc, $"vec_id")
      .limit(5)
  }

  /** IVF-PQ retrieval — the production ANN composition (what a
    * billion-vector index actually runs): the IVF coarse quantizer
    * restricts the search to the query's 2 probed inverted lists
    * (~2/8 of the corpus touched), and within them candidates are
    * ranked by PQ asymmetric distance — an 8-term LUT sum over 2-byte
    * codes, never a full-precision vector read. At 100 TB: probe
    * selection is a broadcast, the scan reads codes, and the only
    * full-precision vectors ever touched are the k finalists a real
    * system would re-rank exactly. Composes [[simIvf]]'s assignment
    * with [[simPqAdc]]'s LUT machinery under one gate. */
  val simIvfPq: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ve = vecs(s, d).transform(Checkpoints.cut)
    val cents = ve.filter($"vec_id" < 8)
      .select($"vec_id".as("cid"), $"v".as("cv"), $"nrm".as("cnrm"))
    val ranked = ve.crossJoin(broadcast(cents))
      .withColumn("ccos_e6",
        floor(expr("graft_dot(v, cv)") / ($"nrm" * $"cnrm") * 1e6).cast("long"))
      .withColumn("crn", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"ccos_e6".desc, $"cid")))
    val assignment = ranked.filter($"crn" === 1).select($"vec_id", $"cid")
    val probes = ranked.filter($"vec_id" === 0 && $"crn" <= 2)
      .select($"cid".as("probe_cid"))
    val cbook = pqCents(s, d)
    val code = pqCodeSql(cbook) _
    val qv: Array[Double] = Tables.embeddings(s, d)
      .filter($"vec_id" === 0).select($"embedding").collect()
      .head.getSeq[Float](0).map(_.toDouble).toArray
    val lut = Array.tabulate(8, 4) { (m, k) =>
      (0 until 8).foldLeft(0.0) { (a, i) =>
        val dd = qv(m * 8 + i) - cbook(k)(m * 8 + i); a + dd * dd
      }
    }
    val dist = (0 until 8).map { m =>
      s"element_at(array(${(0 until 4).map(k => s"${lut(m)(k)}D").mkString(",")}), " +
        s"cast(${code(m)} as int) + 1)"
    }.mkString(" + ")
    ve.filter($"vec_id" =!= 0)
      .join(assignment, "vec_id")
      .join(broadcast(probes), $"cid" === $"probe_cid")
      .select($"vec_id",
        expr(s"cast(floor(($dist) * 1000000D) as bigint)").as("adist_e6"))
      .orderBy($"adist_e6".asc, $"vec_id")
      .limit(5)
  }

  /** Batched exact retrieval: top-5 cosine neighbors for EACH of the
    * first 10 query vectors in one corpus pass — the batch-ANN shape
    * (broadcast the query block, one scan, per-query bounded top-k).
    * Spark plans the rank filter as WindowGroupLimit: each task keeps
    * only 5 rows per query before the shuffle, so the corpus never
    * materializes Q×N scored rows. */
  val simBatchTopk: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    // no localCheckpoint: ve is read twice, but the query-block side
    // prunes to 10 rows at the scan (pushed vec_id < 10), so recompute
    // is ONE full corpus pass either way — while a checkpoint here
    // leaks storage-memory blocks across the bench's 176-query session
    // (the round-4 3.7× steady-state regression was exactly that
    // pressure, not this plan)
    val ve = vecs(s, d)
    val qs = ve.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    ve.filter($"vec_id" >= 10)
      .crossJoin(broadcast(qs))
      .withColumn("cos_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos_e4".desc, $"vec_id")))
      .filter($"rn" <= 5)
      .select($"qid", $"vec_id", $"cos_e4")
      .orderBy($"qid", $"cos_e4".desc, $"vec_id")
  }

  /** ANN quality evaluation inside the engine: recall@5 of the
    * hyperplane-LSH bucket probe against the exact top-5, per query
    * (vec_ids 0–9). One scored pass (cross join with the broadcast
    * query block, narrow columns checkpointed) feeds BOTH rankings;
    * the recall join is a semi join on (qid, vec_id). The number every
    * index tuning loop needs — computed distributed, deterministic
    * (identical rank encoding to the gated sim_batch_topk/sim_lsh). */
  val simRecall: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ve = vecs(s, d).withColumn("bucket", expr(bucketSql))
    val qs = ve.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"),
        $"bucket".as("qbucket"))
    val scored = ve.filter($"vec_id" >= 10)
      .crossJoin(broadcast(qs))
      .withColumn("cos_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
      .select($"qid", $"vec_id", $"cos_e4", $"bucket", $"qbucket")
      .transform(Checkpoints.cut) // one dot-product pass feeds both rankings
    val w = Window.partitionBy($"qid").orderBy($"cos_e4".desc, $"vec_id")
    val exact5 = scored.withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5).select($"qid", $"vec_id")
    val ann5 = scored.filter($"bucket" === $"qbucket")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 5).select($"qid", $"vec_id")
    val hits = exact5.join(ann5, Seq("qid", "vec_id"), "left_semi")
      .groupBy($"qid").agg(count(lit(1)).as("hits"))
    qs.select($"qid").join(hits, Seq("qid"), "left")
      .select($"qid", coalesce($"hits", lit(0L)).as("hits_at_5"))
      .orderBy($"qid")
  }

  /** Prefix dimensions evaluated by [[simMatryoshka]]. */
  val MatryoshkaDims = Seq(8, 16, 32)

  /** Matryoshka truncation evaluation: recall@5 of cosine rankings
    * computed on the first 8/16/32 of 64 dimensions against the
    * full-dimension ranking — the dimension-vs-quality curve that
    * decides how much of an MRL-style embedding a retrieval tier can
    * drop (a 8× narrower vector is an 8× cheaper index). ONE scored
    * pass computes the full cosine plus every prefix cosine from the
    * same broadcast query block (prefix dots/norms are `graft_dot`
    * over `slice(v)`, so the IEEE fold order matches the oracle's
    * ascending list fold exactly); each dim then ranks and semi-joins
    * hits against the full-dim top-5. Scores floor-scaled BIGINT
    * (§7.3f2), vec_id tie-breaks — fully deterministic. */
  val simMatryoshka: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val ve = vecs(s, d)
    val qs = ve.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val scored0 = ve.filter($"vec_id" >= 10)
      .crossJoin(broadcast(qs))
      .withColumn("cos_full_e4",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e4).cast("long"))
    val scored = MatryoshkaDims.foldLeft(scored0) { (df, dim) =>
      df.withColumn(s"cos_${dim}_e4",
        floor(expr(s"graft_dot(slice(v, 1, $dim), slice(qv, 1, $dim))") /
          (expr(s"sqrt(graft_dot(slice(v, 1, $dim), slice(v, 1, $dim)))") *
            expr(s"sqrt(graft_dot(slice(qv, 1, $dim), slice(qv, 1, $dim)))"))
          * 1e4).cast("long"))
    }.select(($"qid" +: $"vec_id" +: $"cos_full_e4" +:
        MatryoshkaDims.map(dim => col(s"cos_${dim}_e4"))): _*)
      .transform(Checkpoints.cut) // one dot-product pass feeds all 4 rankings
    val wFull = Window.partitionBy($"qid")
      .orderBy($"cos_full_e4".desc, $"vec_id")
    val exact5 = scored.withColumn("rn", row_number().over(wFull))
      .filter($"rn" <= 5).select($"qid", $"vec_id")
    val hitsPerDim = MatryoshkaDims.map { dim =>
      val wd = Window.partitionBy($"qid")
        .orderBy(col(s"cos_${dim}_e4").desc, $"vec_id")
      val top5 = scored.withColumn("rn", row_number().over(wd))
        .filter($"rn" <= 5).select($"qid", $"vec_id")
      exact5.join(top5, Seq("qid", "vec_id"), "left_semi")
        .groupBy($"qid").agg(count(lit(1)).as("hits"))
        .select(lit(dim.toLong).as("dim"), $"qid", $"hits")
    }.reduce(_ unionByName _)
    val grid = MatryoshkaDims
      .map(dim => qs.select(lit(dim.toLong).as("dim"), $"qid"))
      .reduce(_ unionByName _)
    grid.join(hitsPerDim, Seq("dim", "qid"), "left")
      .select($"dim", $"qid", coalesce($"hits", lit(0L)).as("hits_at_5"))
      .orderBy($"dim", $"qid")
  }

  /** Hybrid-retrieval rank fusion: reciprocal-rank fusion (RRF) of two
    * rankings of the same candidate pool — cosine similarity and L2
    * distance — for query vector 0. RRF score = Σ 1/(60 + rank), here
    * as the EXACT integer `1e12 DIV (60 + rank)` over top-100 lists,
    * so fusion is bit-stable cross-engine (the float spelling ties
    * unpredictably). ONE scored pass (localCheckpoint) feeds both
    * rankings; ranks come from integer floor-scaled scores with
    * vec_id tie-breaks.
    *
    * Rank recovery is BOUNDED — no un-partitioned rank window (that
    * spelling moves the whole scored corpus to ONE task): each
    * ranking's top-100 comes from `orderBy + limit` (per-task O(k)
    * heaps, TakeOrderedAndProject), and because a row reaches the
    * fused output only with rank ≤ 100 in at least one ordering, the
    * ≤200-row union of the two top-100 lists contains every possible
    * output row. The output reports EXACT GLOBAL ranks in both
    * orderings — a survivor can rank 3rd by cosine and 5,000th by L2
    * — so one broadcast pass over the checkpointed scored frame
    * counts, per survivor, the rows ordering strictly before it
    * (map-side partial aggregation to ≤200 groups; the corpus itself
    * never shuffles and never lands in one task). */
  val simRrf: Q = (s, d) => {
    val ve = vecs(s, d)
    val q = ve.filter($"vec_id" === 0).select($"v".as("qv"), $"nrm".as("qn"))
    val scored = ve.filter($"vec_id" =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("cos_e6",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e6).cast("long"))
      .withColumn("l2_e6", floor(expr("graft_l2(v, qv)") * 1e6).cast("long"))
      .select($"vec_id", $"cos_e6", $"l2_e6")
      .transform(Checkpoints.cut) // one dot/l2 pass feeds both rankings
    rrfFuse(scored)
  }

  /** Bounded RRF fusion core over a MATERIALIZED (vec_id, cos_e6,
    * l2_e6) frame — factored so the equivalence against the naive
    * un-partitioned-window spelling is adversarially testable on
    * crafted corpora (tie pileups at the top-100 boundary, sizes
    * straddling 100) independent of the embeddings prep. The input
    * must be materialized (checkpointed/local) because it is read
    * three times, and `vec_id` must be UNIQUE in it: the rank
    * recovery groups survivors by vec_id (duplicates would collapse)
    * and excludes same-id rows from the strictly-before counts
    * (duplicates would be over-excluded) — either divergence from the
    * row_number spelling is silent. Both call sites score one row per
    * embedding, so uniqueness holds by construction there. */
  private[graft] def rrfFuse(scored: DataFrame): DataFrame = {
    val topCos = scored.orderBy($"cos_e6".desc, $"vec_id").limit(100)
    val topL2 = scored.orderBy($"l2_e6".asc, $"vec_id").limit(100)
    // exact duplicates (rows in both top-100s) collapse; ≤200 rows
    val survivors = topCos.unionByName(topL2).distinct()
    val sv = broadcast(survivors.select($"vec_id".as("s_id"),
      $"cos_e6".as("s_cos"), $"l2_e6".as("s_l2")))
    val ranked = scored.crossJoin(sv)
      .groupBy($"s_id", $"s_cos", $"s_l2")
      .agg(
        sum(when($"cos_e6" > $"s_cos" ||
          ($"cos_e6" === $"s_cos" && $"vec_id" < $"s_id"), 1L).otherwise(0L))
          .as("before_cos"),
        sum(when($"l2_e6" < $"s_l2" ||
          ($"l2_e6" === $"s_l2" && $"vec_id" < $"s_id"), 1L).otherwise(0L))
          .as("before_l2"))
      .select($"s_id".as("vec_id"),
        ($"before_cos" + 1L).cast("int").as("rank_cos"),
        ($"before_l2" + 1L).cast("int").as("rank_l2"))
    ranked
      .withColumn("rrf",
        when($"rank_cos" <= 100, expr("1000000000000L DIV (60 + rank_cos)"))
          .otherwise(0L)
        + when($"rank_l2" <= 100, expr("1000000000000L DIV (60 + rank_l2)"))
          .otherwise(0L))
      .filter($"rrf" > 0)
      .select($"vec_id", $"rank_cos", $"rank_l2", $"rrf")
      .orderBy($"rrf".desc, $"vec_id")
      .limit(10)
  }

  /** k-NN label classification: predict each query vector's label by
    * majority vote of its 5 nearest labeled neighbors (cosine), ties →
    * smaller label — the standard embedding-quality eval (probe task).
    * ONE scored pass; the per-query vote is a count + ranked-window
    * argmax, all key-local after the broadcast. Emits prediction,
    * true label, and correctness per query — recall the aggregate
    * accuracy by one more count. */
  val simKnnClassify: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    graft.engine.functions.VectorOps.register(s)
    val ve = Tables.embeddings(s, d)
      .repartition($"vec_id")
      .withColumn("v", $"embedding".cast("array<double>"))
      .withColumn("nrm", expr("sqrt(graft_dot(v, v))"))
      .select($"vec_id", $"label", $"v", $"nrm")
    val qs = ve.filter($"vec_id" < 20)
      .select($"vec_id".as("qid"), $"label".as("true_label"),
        $"v".as("qv"), $"nrm".as("qn"))
    val wTop = Window.partitionBy($"qid").orderBy($"cos_e6".desc, $"vec_id")
    val votes = ve.filter($"vec_id" >= 20)
      .crossJoin(broadcast(qs))
      .withColumn("cos_e6",
        floor(expr(dotSql) / ($"nrm" * $"qn") * 1e6).cast("long"))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= 5)
      .groupBy($"qid", $"true_label", $"label")
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy($"qid")
      .orderBy($"n_votes".desc, $"label")
    votes.withColumn("vr", row_number().over(wVote))
      .filter($"vr" === 1)
      .select($"qid", $"true_label",
        $"label".cast("int").as("pred_label"),
        ($"label" === $"true_label").as("correct"))
      .orderBy($"qid")
  }

  /** Neighbors kept per node in [[simKnnGraph]]. */
  val KnnGraphK = 3

  /** Embedding k-NN GRAPH construction — every vector's top-
    * [[KnnGraphK]] approximate nearest neighbors by cosine, the
    * building block of cluster-based curation (SemDeDup-style
    * semantic dedup, density filtering, HNSW seeding). Candidates
    * come from the SAME bounded IVF machinery as dedup_embed
    * (adaptive √N centroid count, top-2 probes, oversized-bucket
    * guard — [[DedupOps.ivfAssigned]]); each undirected candidate
    * pair is scored once (a < b), symmetrized, then per-node top-k
    * by (rounded cos desc, neighbor id asc) — a total order, so the
    * rank filter is deterministic and WindowGroupLimit bounds
    * per-node state. Output ≤ k·N rows; every stage is linear in
    * candidates, never all-pairs. */
  val simKnnGraph: Q = (s, d) => {
    val bounded = DedupOps.ivfAssigned(s, d)
    val cosXY = round(expr("graft_dot(x.v, y.v)") / (col("x.nrm") * col("y.nrm")), 4)
    val pairs = bounded.as("x").join(bounded.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        cosXY.as("cos"))
      .distinct() // a pair sharing 2 probe cids scores identically twice
    // r19: both orientations explode from ONE pass over the distinct
    // (the unionByName spelling re-ran the distinct's final aggregate
    // once per branch); identical row set
    val sym = pairs
      .select(explode(array(
        struct($"vec_a", $"vec_b", $"cos"),
        struct($"vec_b".as("vec_a"), $"vec_a".as("vec_b"), $"cos"))).as("e"))
      .select($"e.vec_a".as("vec_a"), $"e.vec_b".as("vec_b"), $"e.cos".as("cos"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"vec_a").orderBy($"cos".desc, $"vec_b")
    sym.withColumn("nn_rank", row_number().over(w))
      .filter($"nn_rank" <= KnnGraphK)
      .select($"vec_a".as("vec_id"), $"nn_rank".cast("long").as("nn_rank"),
        $"vec_b".as("nn_id"), $"cos")
      .orderBy($"vec_id", $"nn_rank")
  }

  private val duckDot =
    "list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v) + 1), " +
      "i -> e.v[i] * q.v[i])), (a, b) -> a + b)"

  private val duckVecs =
    """vecs AS (
      |  SELECT vec_id, v,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
      |      (a, b) -> a + b)) AS nrm
      |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |        FROM embeddings))""".stripMargin

  private val duckBucket =
    """CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(0, 4), k -> CASE WHEN
      |      list_reduce(list_prepend(0.0, list_transform(range(1, len(v) + 1),
      |        i -> v[i] * CAST((k * 131 + i * 31) % 17 - 8 AS DOUBLE))),
      |        (a, b) -> a + b) >= 0
      |      THEN (CAST(1 AS BIGINT) << k) ELSE CAST(0 AS BIGINT) END)),
      |    (a, b) -> a + b) AS INTEGER)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("sim_knn_graph", simKnnGraph, Some(
      s"""WITH ${DedupOps.duckIvfCandsCte},
         | sym AS (
         |  SELECT vec_a, vec_b, round(dot / nn, 4) AS cos FROM p
         |  UNION ALL
         |  SELECT vec_b AS vec_a, vec_a AS vec_b, round(dot / nn, 4) AS cos
         |  FROM p),
         | r AS (
         |  SELECT vec_a AS vec_id, vec_b AS nn_id, cos,
         |    row_number() OVER (PARTITION BY vec_a
         |                       ORDER BY cos DESC, vec_b) AS nn_rank
         |  FROM sym)
         |SELECT vec_id, CAST(nn_rank AS BIGINT) AS nn_rank, nn_id, cos
         |FROM r WHERE nn_rank <= $KnnGraphK
         |ORDER BY vec_id, nn_rank""".stripMargin)),

    QueryDef("sim_knn_classify", simKnnClassify, Some(
      s"""WITH lv AS (
         |  SELECT vec_id, label, v,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x * x)),
         |      (a, b) -> a + b)) AS nrm
         |  FROM (SELECT vec_id, label,
         |          list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |        FROM embeddings)),
         | qs AS (SELECT vec_id AS qid, label AS true_label, v, nrm AS qn
         |        FROM lv WHERE vec_id < 20),
         | scored AS (
         |  SELECT q.qid, q.true_label, e.vec_id, e.label,
         |    CAST(floor(list_reduce(list_prepend(0.0,
         |        list_transform(range(1, len(e.v) + 1), i -> e.v[i] * q.v[i])),
         |        (a, b) -> a + b) / (e.nrm * q.qn) * 1000000) AS BIGINT) AS cos_e6
         |  FROM lv e, qs q WHERE e.vec_id >= 20),
         | top5 AS (
         |  SELECT qid, true_label, label FROM (
         |    SELECT *, row_number() OVER (PARTITION BY qid
         |      ORDER BY cos_e6 DESC, vec_id) AS rn FROM scored)
         |  WHERE rn <= 5),
         | votes AS (
         |  SELECT qid, true_label, label, count(1) AS n
         |  FROM top5 GROUP BY 1, 2, 3)
         |SELECT qid, true_label, CAST(label AS INTEGER) AS pred_label,
         |  label = true_label AS correct
         |FROM (SELECT *, row_number() OVER (PARTITION BY qid
         |        ORDER BY n DESC, label) AS vr FROM votes)
         |WHERE vr = 1 ORDER BY qid""".stripMargin)),

    QueryDef("sim_rrf", simRrf, Some(
      s"""WITH $duckVecs,
         | q AS (SELECT v, nrm FROM vecs WHERE vec_id = 0),
         | scored AS (
         |  SELECT e.vec_id,
         |    CAST(floor($duckDot / (e.nrm * q.nrm) * 1000000) AS BIGINT) AS cos_e6,
         |    CAST(floor(list_reduce(list_prepend(0.0,
         |      list_transform(range(1, len(e.v) + 1),
         |        i -> (e.v[i] - q.v[i]) * (e.v[i] - q.v[i]))),
         |      (a, b) -> a + b) * 1000000) AS BIGINT) AS l2_e6
         |  FROM vecs e, q WHERE e.vec_id <> 0),
         | ranked AS (
         |  SELECT vec_id,
         |    row_number() OVER (ORDER BY cos_e6 DESC, vec_id) AS rank_cos,
         |    row_number() OVER (ORDER BY l2_e6 ASC, vec_id) AS rank_l2
         |  FROM scored)
         |SELECT vec_id,
         |  CAST(rank_cos AS INTEGER) AS rank_cos,
         |  CAST(rank_l2 AS INTEGER) AS rank_l2,
         |  CAST(CASE WHEN rank_cos <= 100 THEN 1000000000000 // (60 + rank_cos)
         |            ELSE 0 END
         |     + CASE WHEN rank_l2 <= 100 THEN 1000000000000 // (60 + rank_l2)
         |            ELSE 0 END AS BIGINT) AS rrf
         |FROM ranked
         |WHERE rank_cos <= 100 OR rank_l2 <= 100
         |ORDER BY rrf DESC, vec_id LIMIT 10""".stripMargin)),

    QueryDef("sim_topk", simTopk, Some(
      s"""WITH $duckVecs
         |SELECT e.vec_id,
         |  CAST(floor($duckDot / (e.nrm * q.nrm) * 10000) AS BIGINT) AS cos_e4
         |FROM vecs e, (SELECT v, nrm FROM vecs WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_e4 DESC, e.vec_id LIMIT 10""".stripMargin)),

    QueryDef("sim_recall", simRecall, Some(
      s"""WITH $duckVecs,
         | b AS (SELECT vec_id, v, nrm, $duckBucket AS bucket FROM vecs),
         | qs AS (SELECT vec_id AS qid, v, nrm AS qn, bucket AS qbucket
         |        FROM b WHERE vec_id < 10),
         | scored AS (
         |  SELECT q.qid, e.vec_id,
         |    CAST(floor($duckDot / (e.nrm * q.qn) * 10000) AS BIGINT) AS cos_e4,
         |    e.bucket, q.qbucket
         |  FROM b e, qs q WHERE e.vec_id >= 10),
         | exact5 AS (SELECT qid, vec_id FROM (
         |   SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |     ORDER BY cos_e4 DESC, vec_id) AS rn FROM scored) WHERE rn <= 5),
         | ann5 AS (SELECT qid, vec_id FROM (
         |   SELECT qid, vec_id, row_number() OVER (PARTITION BY qid
         |     ORDER BY cos_e4 DESC, vec_id) AS rn FROM scored
         |   WHERE bucket = qbucket) WHERE rn <= 5),
         | h AS (SELECT e5.qid, count(1) AS hits
         |   FROM exact5 e5 JOIN ann5 a ON a.qid = e5.qid AND a.vec_id = e5.vec_id
         |   GROUP BY e5.qid)
         |SELECT q.qid, COALESCE(h.hits, 0) AS hits_at_5
         |FROM qs q LEFT JOIN h ON h.qid = q.qid
         |ORDER BY q.qid""".stripMargin)),

    QueryDef("sim_range", simRange, Some(
      s"""WITH $duckVecs
         |SELECT * FROM (
         |  SELECT e.vec_id,
         |    CAST(floor($duckDot / (e.nrm * q.nrm) * 10000) AS BIGINT) AS cos_fp
         |  FROM vecs e, (SELECT v, nrm FROM vecs WHERE vec_id = 0) q
         |  WHERE e.vec_id <> 0)
         |WHERE cos_fp >= 2500
         |ORDER BY cos_fp DESC, vec_id""".stripMargin)),

    QueryDef("sim_lsh", simLsh, Some(
      s"""WITH $duckVecs,
         | b AS (
         |  SELECT vec_id, v, nrm, $duckBucket AS bucket FROM vecs)
         |SELECT e.vec_id,
         |  CAST(floor($duckDot / (e.nrm * q.nrm) * 10000) AS BIGINT) AS cos_e4
         |FROM b e, (SELECT v, nrm, bucket FROM b WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0 AND e.bucket = q.bucket
         |ORDER BY cos_e4 DESC, e.vec_id LIMIT 5""".stripMargin)),

    QueryDef("sim_multiprobe", simMultiprobe, Some(
      s"""WITH $duckVecs,
         | b AS (
         |  SELECT vec_id, v, nrm, $duckBucket AS bucket FROM vecs)
         |SELECT e.vec_id,
         |  CAST(floor($duckDot / (e.nrm * q.nrm) * 10000) AS BIGINT) AS cos_e4
         |FROM b e, (SELECT v, nrm, bucket FROM b WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0 AND (e.bucket = q.bucket
         |  OR e.bucket = xor(q.bucket, 1) OR e.bucket = xor(q.bucket, 2)
         |  OR e.bucket = xor(q.bucket, 4) OR e.bucket = xor(q.bucket, 8))
         |ORDER BY cos_e4 DESC, e.vec_id LIMIT 10""".stripMargin)),

    QueryDef("sim_ivf", simIvf, Some(
      s"""WITH $duckVecs,
         | cents AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM vecs WHERE vec_id < 8),
         | ranked AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      CAST(floor(list_reduce(list_prepend(0.0, list_transform(
         |        range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])), (a, b) -> a + b)
         |        / (e.nrm * c.cnrm) * 1000000) AS BIGINT) DESC, c.cid) AS crn
         |  FROM vecs e, cents c),
         | assignment AS (SELECT vec_id, cid FROM ranked WHERE crn = 1),
         | probes AS (SELECT cid FROM ranked WHERE vec_id = 0 AND crn <= 2)
         |SELECT e.vec_id,
         |  CAST(floor($duckDot / (e.nrm * q.nrm) * 10000) AS BIGINT) AS cos_e4
         |FROM vecs e
         |JOIN assignment a ON a.vec_id = e.vec_id
         |JOIN probes p ON p.cid = a.cid,
         |(SELECT v, nrm FROM vecs WHERE vec_id = 0) q
         |WHERE e.vec_id <> 0
         |ORDER BY cos_e4 DESC, e.vec_id LIMIT 5""".stripMargin)),

    QueryDef("sim_batch_topk", simBatchTopk, Some(
      s"""WITH $duckVecs,
         | scored AS (
         |  SELECT q.vec_id AS qid, e.vec_id,
         |    CAST(floor($duckDot / (e.nrm * q.nrm) * 10000) AS BIGINT) AS cos_e4
         |  FROM vecs e, (SELECT vec_id, v, nrm FROM vecs WHERE vec_id < 10) q
         |  WHERE e.vec_id >= 10),
         | ranked AS (
         |  SELECT qid, vec_id, cos_e4,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_e4 DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT qid, vec_id, cos_e4 FROM ranked WHERE rn <= 5
         |ORDER BY qid, cos_e4 DESC, vec_id""".stripMargin)),

    QueryDef("embed_group_mean", embedGroupMean, Some(
      """WITH ex AS (
        |  SELECT vec_id % 8 AS grp, u.i - 1 AS pos,
        |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000000000) AS BIGINT) AS sv
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u)
        |SELECT grp, pos,
        |  round(CAST(sum(sv) AS DOUBLE)
        |    / CAST(count(1) * 1000000000 AS DOUBLE), 6) AS mean
        |FROM ex GROUP BY grp, pos ORDER BY grp, pos""".stripMargin)),

    QueryDef("embed_quantize", embedQuantize, Some(
      """WITH n AS (
        |  SELECT vec_id, v, list_min(v) AS mn,
        |    (list_max(v) - list_min(v)) / 255.0 AS scale
        |  FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |        FROM embeddings)),
        | q AS (
        |  SELECT vec_id, v, mn, scale,
        |    list_transform(v, x -> CASE WHEN scale > 0 THEN
        |      CAST(round((x - mn) / scale) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS q
        |  FROM n)
        |SELECT vec_id,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (a, x) -> a + x) AS q_sum,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(range(1, len(q) + 1), i -> q[i] * i)),
        |    (a, x) -> a + x) AS q_checksum,
        |  CAST(floor(list_max(list_transform(range(1, len(v) + 1),
        |    i -> abs(v[i] - (mn + q[i] * scale)))) * 1000000) AS BIGINT) AS max_err_micro
        |FROM q ORDER BY vec_id""".stripMargin)),

    QueryDef("embed_pq", embedPq, Some(
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        | cent AS (SELECT vec_id AS k, v AS cv FROM v WHERE vec_id < 4),
        | sub AS (
        |  SELECT v.vec_id, m.m, c.k,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
        |      i -> (v.v[m.m * 8 + i] - c.cv[m.m * 8 + i])
        |           * (v.v[m.m * 8 + i] - c.cv[m.m * 8 + i]))),
        |      (a, b) -> a + b) AS dist
        |  FROM v, (SELECT unnest(range(0, 8)) AS m) m, cent c),
        | enc AS (
        |  SELECT vec_id, m,
        |    min(CAST(floor(dist * 1000000) AS BIGINT) * 4 + k) AS e
        |  FROM sub GROUP BY vec_id, m)
        |SELECT vec_id,
        |  CAST(sum((e % 4) * (CAST(1 AS BIGINT) << CAST(2 * m AS INTEGER)))
        |       AS BIGINT) AS pq_code
        |FROM enc GROUP BY vec_id ORDER BY vec_id""".stripMargin)),

    QueryDef("sim_pq_adc", simPqAdc, Some(
      """WITH v AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        | cent AS (SELECT vec_id AS k, v AS cv FROM v WHERE vec_id < 4),
        | q AS (SELECT v FROM v WHERE vec_id = 0),
        | sub AS (
        |  SELECT v.vec_id, m.m, c.k,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
        |      i -> (v.v[m.m * 8 + i] - c.cv[m.m * 8 + i])
        |           * (v.v[m.m * 8 + i] - c.cv[m.m * 8 + i]))),
        |      (a, b) -> a + b) AS dist
        |  FROM v, (SELECT unnest(range(0, 8)) AS m) m, cent c),
        | enc AS (
        |  SELECT vec_id, m,
        |    min(CAST(floor(dist * 1000000) AS BIGINT) * 4 + k) AS e
        |  FROM sub GROUP BY vec_id, m),
        | code AS (SELECT vec_id, m, e % 4 AS c FROM enc),
        | lut AS (
        |  SELECT m.m, c.k,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
        |      i -> (q.v[m.m * 8 + i] - c.cv[m.m * 8 + i])
        |           * (q.v[m.m * 8 + i] - c.cv[m.m * 8 + i]))),
        |      (a, b) -> a + b) AS t
        |  FROM (SELECT unnest(range(0, 8)) AS m) m, cent c, q),
        | ad AS (
        |  SELECT code.vec_id,
        |    list_reduce(list_prepend(0.0, list(lut.t ORDER BY code.m)),
        |      (a, b) -> a + b) AS dist
        |  FROM code JOIN lut ON lut.m = code.m AND lut.k = code.c
        |  GROUP BY code.vec_id)
        |SELECT vec_id, CAST(floor(dist * 1000000) AS BIGINT) AS adist_e6
        |FROM ad WHERE vec_id <> 0
        |ORDER BY adist_e6, vec_id LIMIT 5""".stripMargin)),

    QueryDef("sim_ivf_pq", simIvfPq, Some(
      s"""WITH $duckVecs,
         | cents AS (
         |  SELECT vec_id AS cid, v AS cv, nrm AS cnrm FROM vecs WHERE vec_id < 8),
         | ranked AS (
         |  SELECT e.vec_id, c.cid,
         |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |      CAST(floor(list_reduce(list_prepend(0.0, list_transform(
         |        range(1, len(e.v) + 1), i -> e.v[i] * c.cv[i])), (a, b) -> a + b)
         |        / (e.nrm * c.cnrm) * 1000000) AS BIGINT) DESC, c.cid) AS crn
         |  FROM vecs e, cents c),
         | assignment AS (SELECT vec_id, cid FROM ranked WHERE crn = 1),
         | probes AS (SELECT cid FROM ranked WHERE vec_id = 0 AND crn <= 2),
         | cent AS (SELECT vec_id AS k, v AS cv FROM vecs WHERE vec_id < 4),
         | q AS (SELECT v FROM vecs WHERE vec_id = 0),
         | sub AS (
         |  SELECT e.vec_id, m.m, c.k,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
         |      i -> (e.v[m.m * 8 + i] - c.cv[m.m * 8 + i])
         |           * (e.v[m.m * 8 + i] - c.cv[m.m * 8 + i]))),
         |      (a, b) -> a + b) AS dist
         |  FROM vecs e, (SELECT unnest(range(0, 8)) AS m) m, cent c),
         | enc AS (
         |  SELECT vec_id, m,
         |    min(CAST(floor(dist * 1000000) AS BIGINT) * 4 + k) AS e
         |  FROM sub GROUP BY vec_id, m),
         | code AS (SELECT vec_id, m, e % 4 AS c FROM enc),
         | lut AS (
         |  SELECT m.m, c.k,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 9),
         |      i -> (q.v[m.m * 8 + i] - c.cv[m.m * 8 + i])
         |           * (q.v[m.m * 8 + i] - c.cv[m.m * 8 + i]))),
         |      (a, b) -> a + b) AS t
         |  FROM (SELECT unnest(range(0, 8)) AS m) m, cent c, q),
         | ad AS (
         |  SELECT code.vec_id,
         |    list_reduce(list_prepend(0.0, list(lut.t ORDER BY code.m)),
         |      (a, b) -> a + b) AS dist
         |  FROM code JOIN lut ON lut.m = code.m AND lut.k = code.c
         |  GROUP BY code.vec_id)
         |SELECT ad.vec_id, CAST(floor(ad.dist * 1000000) AS BIGINT) AS adist_e6
         |FROM ad
         |JOIN assignment a ON a.vec_id = ad.vec_id
         |JOIN probes p ON p.cid = a.cid
         |WHERE ad.vec_id <> 0
         |ORDER BY adist_e6, ad.vec_id LIMIT 5""".stripMargin)),

    QueryDef("sim_matryoshka", simMatryoshka, Some {
      def pdot(dim: Int, a: String, b: String): String =
        s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dim + 1}), " +
          s"i -> $a[i] * $b[i])), (x, y) -> x + y)"
      def pnorm(dim: Int, a: String): String = s"sqrt(${pdot(dim, a, a)})"
      val fullDot =
        "list_reduce(list_prepend(0.0, list_transform(range(1, len(e.v) + 1), " +
          "i -> e.v[i] * q.qv[i])), (x, y) -> x + y)"
      val prefixCols = MatryoshkaDims.map { dim =>
        s"    CAST(floor(${pdot(dim, "e.v", "q.qv")} / " +
          s"(${pnorm(dim, "e.v")} * ${pnorm(dim, "q.qv")}) * 10000) " +
          s"AS BIGINT) AS c$dim"
      }.mkString(",\n        |")
      val perDim = MatryoshkaDims.map { dim =>
        s""" r$dim AS (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY c$dim DESC, vec_id) AS rn FROM scored),
        | t$dim AS (SELECT qid, vec_id FROM r$dim WHERE rn <= 5),
        | h$dim AS (
        |  SELECT CAST($dim AS BIGINT) AS dim, e5.qid, count(1) AS hits
        |  FROM exact5 e5 JOIN t$dim USING (qid, vec_id) GROUP BY e5.qid)"""
      }.mkString(",\n        |")
      val hitsUnion = MatryoshkaDims.map(d => s"SELECT * FROM h$d")
        .mkString(" UNION ALL ")
      s"""WITH $duckVecs,
        | q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn
        |       FROM vecs WHERE vec_id < 10),
        | scored AS (
        |  SELECT q.qid, e.vec_id,
        |    CAST(floor($fullDot / (e.nrm * q.qn) * 10000) AS BIGINT) AS cf,
        |$prefixCols
        |  FROM vecs e, q WHERE e.vec_id >= 10),
        | rf AS (
        |  SELECT qid, vec_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY cf DESC, vec_id) AS rn FROM scored),
        | exact5 AS (SELECT qid, vec_id FROM rf WHERE rn <= 5),
        |$perDim,
        | grid AS (
        |  SELECT CAST(d.d AS BIGINT) AS dim, q.qid
        |  FROM q, (SELECT unnest([${MatryoshkaDims.mkString(", ")}]) AS d) d)
        |SELECT g.dim, g.qid,
        |  CAST(COALESCE(h.hits, 0) AS BIGINT) AS hits_at_5
        |FROM grid g LEFT JOIN ($hitsUnion) h USING (dim, qid)
        |ORDER BY dim, qid""".stripMargin
    }),
  )
}
