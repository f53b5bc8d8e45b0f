package graft.engine.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables

/** Eleventh relational batch (round 8, second wave): distributed
  * linear algebra (power iteration), the disjunctive-residual TPC-H
  * Q7, multi-source bounded BFS (landmark distance sketches), and
  * zone-map pruning simulation over the Z-order layout.
  *
  * Determinism: SURVEY §7.3 — scaled-BIGINT elements, DECIMAL(38,0)/
  * HUGEINT accumulators, integer division toward zero (cross-engine
  * verified), unique sort keys.
  */
object Relational11 {
  type Q = (SparkSession, String) => DataFrame

  private val Dec = org.apache.spark.sql.types.DecimalType(18, 2)

  // ---------------------------------------------------------------- power iteration

  /** Power-iteration rounds run by [[embedPcaPower]]. */
  val PowerIters = 2

  /** Embedding dimensionality of the corpus (TESTDATA). */
  private val Dims = 64

  /** Dominant principal direction of the (uncentered) embedding
    * covariance by POWER ITERATION — the spectral primitive behind
    * PCA whitening and OPQ rotation: v ← Xᵀ(Xv), renormalized, twice,
    * from the fixed all-ones start. Every step is exact integer
    * arithmetic: elements enter as floor(x·10⁶) BIGINT; the per-vector
    * projection dᵢ = Σⱼ xᵢⱼ·vⱼ is a 64-term BIGINT fold (≤ 6.4e13);
    * the per-dimension accumulation uⱼ = Σᵢ xᵢⱼ·dᵢ runs in
    * DECIMAL(38,0) (HUGEINT oracle — holds to ~1e24 rows); and the
    * renormalization vⱼ ← uⱼ·10⁶ DIV max|u| is the verified
    * truncate-toward-zero integer division, so both engines walk
    * bit-identical iterates (a float power iteration drifts in ulps
    * and its sign/direction is fold-order-dependent).
    *
    * Scale shape (the KMeans precedent): per iteration ONE map-only
    * projection pass (v is #dims driver state, inlined as a literal)
    * + ONE 64-group map-side-combined aggregate — shuffle carries
    * partitions·64 partial rows regardless of corpus size. The oracle
    * recomputes both iterations as CTEs with no literals, so the gate
    * re-derives the whole trajectory. */
  val embedPcaPower: Q = (s, d) => {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val x = Tables.embeddings(s, d)
      .select($"vec_id",
        expr("transform(embedding, e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT))")
          .as("v_mu"))
      .transform(Checkpoints.cut) // 2 iterations × 2 jobs re-read this frame
    var v: Array[Long] = Array.fill(Dims)(1000000L)
    for (_ <- 1 to PowerIters) {
      val vLit = "array(" + v.map(_ + "L").mkString(",") + ")"
      val u = x
        .withColumn("dot", expr(
          s"aggregate(zip_with(v_mu, $vLit, (a, b) -> a * b), 0L, (acc, t) -> acc + t)"))
        .select(posexplode($"v_mu").as(Seq("j", "xj")), $"dot")
        .groupBy($"j")
        .agg(sum($"xj".cast(dec) * $"dot").as("u"))
        .orderBy($"j")
        .collect()
      val us = u.map(r => BigInt(r.getDecimal(1).toBigInteger))
      val m = us.map(_.abs).max
      v = us.map(b => (b * 1000000 / m).toLong).toArray
    }
    val rows = v.zipWithIndex.map { case (w, j) => (j.toLong, w) }
    s.createDataFrame(rows.toSeq).toDF("dim", "v_mu").orderBy($"dim")
  }

  // ---------------------------------------------------------------- tpch q7

  /** The two trading nations of [[joinTpchQ7]]. */
  val Q7NationA = "NATION_3"
  val Q7NationB = "NATION_7"

  /** TPC-H Q7 (volume shipping): revenue flowing between two specific
    * nations in BOTH directions, by (supplier nation, customer nation,
    * ship year) — the DISJUNCTIVE join residual `(A,B) OR (B,A)` that
    * no single equi-key expresses. The standard plan keeps the
    * nation⋈supplier / nation⋈customer legs as broadcast equi-joins
    * (each nation dim pre-filtered to the two names — at 100 TB the
    * fact rows from other nations die at those joins) and evaluates
    * the OR as a residual filter on the joined pair. Two fact shuffles
    * (orderkey, custkey); year from integer epoch arithmetic is
    * avoided — `year()` on a naive timestamp is calendar-stable in
    * both engines; exact decimal revenue. */
  val joinTpchQ7: Q = (s, d) => {
    val rev = $"l_extendedprice".cast(Dec) *
      (lit(1).cast(Dec) - $"l_discount".cast(Dec))
    val nat2 = Tables.nation(s, d)
      .filter($"n_name".isin(Q7NationA, Q7NationB))
    Tables.lineitem(s, d)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate", rev.as("rev"))
      // supplier unhinted — SF-proportional (Relational8's part note);
      // the nation frames below keep their hints (≤ 25 rows, bounded)
      .join(Tables.supplier(s, d).select($"s_suppkey", $"s_nationkey"),
        $"l_suppkey" === $"s_suppkey")
      .join(broadcast(nat2.select($"n_nationkey".as("sn_key"),
        $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
      .join(Tables.orders(s, d).select($"o_orderkey", $"o_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d).select($"c_custkey", $"c_nationkey"),
        $"o_custkey" === $"c_custkey")
      .join(broadcast(nat2.select($"n_nationkey".as("cn_key"),
        $"n_name".as("cust_nation"))), $"c_nationkey" === $"cn_key")
      .filter(($"supp_nation" === Q7NationA && $"cust_nation" === Q7NationB)
        || ($"supp_nation" === Q7NationB && $"cust_nation" === Q7NationA))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").cast("long").as("l_year"))
      .agg(sum($"rev").as("rev_dec"), count(lit(1)).as("n_rows"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
      .select($"supp_nation", $"cust_nation", $"l_year",
        $"rev_dec".cast("double").as("revenue"), $"n_rows")
  }

  // ---------------------------------------------------------------- landmarks

  /** Landmark nodes and hop bound for [[graphLandmarks]]. */
  val Landmarks = Seq(1L, 2L, 3L, 7L)
  val LandmarkHops = 4

  /** Landmark distance sketch — multi-source bounded BFS: exact hop
    * distances from [[Landmarks]] to every node within
    * [[LandmarkHops]] hops of the part digit forest, the
    * precomputation behind approximate shortest-path / centrality
    * queries at scale (d(u,v) ≲ min over landmarks of d(u,L)+d(L,v)).
    * The frontier is keyed by (landmark, node) so ALL landmarks
    * advance in the SAME per-level join — k sources cost one BFS, not
    * k (the batching that makes landmark builds affordable); per
    * level: distinct frontier ⋈ checkpointed edges + anti-join
    * against the visited set ([[Relational6]] graph_bfs's level shape,
    * lifted to composite keys). The oracle's recursive CTE enumerates
    * oscillating paths and min()s them — fine unrolled, fatal
    * distributed; the frontier set is the 100 TB shape. */
  val graphLandmarks: Q = (s, d) => {
    val nodes = Tables.part(s, d).select($"p_partkey".as("node"))
    val e0 = nodes.filter($"node" >= 10)
      .select($"node".as("a"), expr("node DIV 10").as("b"))
    // r19: explode-fused orientations (one scan instead of two union
    // branches; identical multiset into the cut)
    val edges = Checkpoints.cut(e0
      .select(explode(array(
        struct($"a", $"b"), struct($"b".as("a"), $"a".as("b")))).as("e"))
      .select($"e.a".as("a"), $"e.b".as("b")))
    val lmLit = Landmarks.map(_ + "L").mkString(",")
    var visited = nodes.filter(expr(s"node IN ($lmLit)"))
      .select($"node".as("lm"), $"node", lit(0L).as("dist"))
    var frontier = visited
    for (h <- 1 to LandmarkHops) {
      val next = frontier.join(edges, $"node" === $"a")
        .select($"lm", $"b".as("node")).distinct()
        .join(visited.select($"lm", $"node"), Seq("lm", "node"), "left_anti")
        .withColumn("dist", lit(h.toLong))
      frontier = Checkpoints.cut(next)
      visited = Checkpoints.cut(visited.unionAll(frontier))
    }
    visited.orderBy($"lm", $"node")
  }

  // ---------------------------------------------------------------- zone pruning

  /** Probe count for [[dataZonePrune]]. */
  val ZoneProbes = 20

  /** Zone-map pruning simulation over the [[PipelineOps.dataZorder]]
    * layout — the "is the clustering actually working" measurement an
    * OPTIMIZE job reports: for each of [[ZoneProbes]] deterministic
    * point predicates (a partkey probe and a suppkey probe per k), how
    * many Z-order buckets does a min/max zone-map reader PRUNE, and
    * how many rows survive the scan. The zone map is metadata-scale
    * (|buckets| rows), the probes a literal table: the whole
    * simulation never touches row data — exactly how a reader plans —
    * so the plan is a broadcast nested-loop of two tiny frames + one
    * aggregate, while the zone-map BUILD (the data_zorder pass) keeps
    * the only full scan. prune_bp = pruned·10⁴ DIV buckets, exact. */
  val dataZonePrune: Q = (s, d) => {
    val zones = PipelineOps.dataZorder(s, d)
      .select($"bucket", $"n_rows", $"pk_min", $"pk_max", $"sk_min", $"sk_max")
    val probes = (0 until ZoneProbes).map { k =>
      (k.toLong, if (k % 2 == 0) "pk" else "sk", (100L * k + 7) % 2000L)
    }
    val p = s.createDataFrame(probes).toDF("probe_id", "col", "v")
    val hit = ($"col" === "pk" && $"v" >= $"pk_min" && $"v" <= $"pk_max") ||
      ($"col" === "sk" && $"v" >= $"sk_min" && $"v" <= $"sk_max")
    zones.crossJoin(broadcast(p))
      .groupBy($"probe_id", $"col", $"v")
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(hit, 1L).otherwise(0L)).as("hit_buckets"),
        sum(when(hit, $"n_rows").otherwise(0L)).as("rows_scanned"))
      .select($"probe_id", $"col", $"v", $"n_buckets", $"hit_buckets",
        $"rows_scanned",
        expr("(n_buckets - hit_buckets) * 10000 DIV n_buckets").as("prune_bp"))
      .orderBy($"probe_id")
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("embed_pca_power", embedPcaPower, Some(
      """WITH x AS (
        |  SELECT vec_id, list_transform(embedding,
        |    e -> CAST(floor(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        | elems AS (
        |  SELECT vec_id, j, v[j + 1] AS xj
        |  FROM x, (SELECT unnest(range(64)) AS j)),
        | d0 AS (
        |  SELECT vec_id, 1000000 * CAST(sum(xj) AS BIGINT) AS dd
        |  FROM elems GROUP BY vec_id),
        | u0 AS (
        |  SELECT j, sum(CAST(xj AS HUGEINT) * dd) AS u
        |  FROM elems JOIN d0 USING (vec_id) GROUP BY j),
        | m0 AS (SELECT max(abs(u)) AS m FROM u0),
        | v1 AS (SELECT j, CAST(u * 1000000 // m AS BIGINT) AS w FROM u0, m0),
        | d1 AS (
        |  SELECT e.vec_id, CAST(sum(e.xj * v1.w) AS BIGINT) AS dd
        |  FROM elems e JOIN v1 USING (j) GROUP BY e.vec_id),
        | u1 AS (
        |  SELECT j, sum(CAST(xj AS HUGEINT) * dd) AS u
        |  FROM elems JOIN d1 USING (vec_id) GROUP BY j),
        | m1 AS (SELECT max(abs(u)) AS m FROM u1),
        | v2 AS (SELECT j, CAST(u * 1000000 // m AS BIGINT) AS w FROM u1, m1)
        |SELECT CAST(j AS BIGINT) AS dim, w AS v_mu
        |FROM v2 ORDER BY dim""".stripMargin)),

    QueryDef("join_tpch_q7", joinTpchQ7, Some(
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS revenue,
        |  count(1) AS n_rows
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE (n1.n_name = '$Q7NationA' AND n2.n_name = '$Q7NationB')
        |   OR (n1.n_name = '$Q7NationB' AND n2.n_name = '$Q7NationA')
        |GROUP BY 1, 2, 3
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin)),

    QueryDef("graph_landmarks", graphLandmarks, Some {
      val lms = Landmarks.mkString(", ")
      s"""WITH RECURSIVE e0 AS (
        |  SELECT p_partkey AS a, p_partkey // 10 AS b
        |  FROM part WHERE p_partkey >= 10),
        | e AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
        | walk(lm, node, dist) AS (
        |  SELECT p_partkey, p_partkey, CAST(0 AS BIGINT)
        |  FROM part WHERE p_partkey IN ($lms)
        |  UNION ALL
        |  SELECT w.lm, e.b, w.dist + 1
        |  FROM walk w JOIN e ON e.a = w.node
        |  WHERE w.dist < $LandmarkHops)
        |SELECT lm, node, min(dist) AS dist
        |FROM walk GROUP BY lm, node
        |ORDER BY lm, node""".stripMargin
    }),

    QueryDef("data_zone_prune", dataZonePrune, Some {
      val probeRows = (0 until ZoneProbes).map { k =>
        val col = if (k % 2 == 0) "pk" else "sk"
        s"(${k}, '$col', ${(100L * k + 7) % 2000L})"
      }.mkString(", ")
      """WITH k AS (
        |  SELECT l_partkey % 65536 AS pk, l_suppkey % 65536 AS sk
        |  FROM lineitem),
        | z AS (
        |  SELECT pk, sk,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(16),
        |      i -> (((pk >> CAST(i AS INTEGER)) & 1) << CAST(2 * i AS INTEGER))
        |         + (((sk >> CAST(i AS INTEGER)) & 1) << CAST(2 * i + 1 AS INTEGER)))),
        |      (a, b) -> a + b) // 262144 AS bucket
        |  FROM k),
        | zones AS (
        |  SELECT bucket, CAST(count(1) AS BIGINT) AS n_rows,
        |    min(pk) AS pk_min, max(pk) AS pk_max,
        |    min(sk) AS sk_min, max(sk) AS sk_max
        |  FROM z GROUP BY bucket),
        | probes(probe_id, col, v) AS (VALUES PROBE_ROWS),
        | j AS (
        |  SELECT probe_id, col, v, n_rows,
        |    CASE WHEN (col = 'pk' AND v >= pk_min AND v <= pk_max)
        |           OR (col = 'sk' AND v >= sk_min AND v <= sk_max)
        |      THEN 1 ELSE 0 END AS hit
        |  FROM zones CROSS JOIN probes)
        |SELECT CAST(probe_id AS BIGINT) AS probe_id, col, CAST(v AS BIGINT) AS v,
        |  CAST(count(1) AS BIGINT) AS n_buckets,
        |  CAST(sum(hit) AS BIGINT) AS hit_buckets,
        |  CAST(sum(CASE WHEN hit = 1 THEN n_rows ELSE 0 END) AS BIGINT)
        |    AS rows_scanned,
        |  CAST((count(1) - sum(hit)) * 10000 // count(1) AS BIGINT) AS prune_bp
        |FROM j GROUP BY probe_id, col, v
        |ORDER BY probe_id""".stripMargin.replace("PROBE_ROWS", probeRows)
    }),
  )
}
