package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.DedupOps

/** Adversarial proof of [[DedupOps.dedupEmbed]]'s scale contract —
  * with generated data, not comments:
  *
  *  - the √N centroid-count knob is ENFORCED ([[DedupOps.embedCentroidCount]]
  *    unit-checked across magnitudes);
  *  - the [[DedupOps.EmbedMaxBucket]] guard fires on a degenerate
  *    corpus (every vector in ONE direction → one bucket of 9,000 →
  *    brute force would emit C(9000,2) ≈ 40M pairs; the guard drops
  *    the oversized bucket and the query returns in bounded time);
  *  - on a realistic corpus the output is PRECISE (every reported pair
  *    truly has rounded cos ≥ τ) and planted near-identical pairs
  *    (cos ≥ 0.99, the regime embedding dedup actually targets) are
  *    all recalled.
  */
class EmbedGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val Dim = 64

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def writeEmbeddings(dir: String, vs: Seq[(Long, Seq[Float])]): Unit = {
    val s = spark
    import s.implicits._
    vs.toDF("vec_id", "embedding")
      .repartition(8).write.parquet(s"$dir/embeddings.parquet")
  }

  test("embedCentroidCount grows ~sqrt(N)/2, floored at 8, capped below 1e5") {
    assert(DedupOps.embedCentroidCount(0) == 8)
    assert(DedupOps.embedCentroidCount(500) == 12)      // ceil(22.36/2)
    assert(DedupOps.embedCentroidCount(2000) == 23)     // ceil(44.72/2)
    assert(DedupOps.embedCentroidCount(1000000) == 500)
    assert(DedupOps.embedCentroidCount(Long.MaxValue) == 99999)
  }

  test("oversized centroid buckets are excluded: a one-direction corpus " +
    "yields zero candidate pairs instead of 40M") {
    val dir = tmpDir("embed-hot")
    val rnd = new scala.util.Random(7)
    val direction = Array.fill(Dim)(rnd.nextFloat() * 2f - 1f)
    // 9,000 positive multiples of one direction: pairwise cosine 1.0,
    // all assigned to the same top-2 centroids (identical dots, id
    // tie-break) -> two buckets of 9,000 >> EmbedMaxBucket
    val vs = (0L until 9000L).map { i =>
      val scale = 0.5f + (i % 97).toFloat / 97f
      i -> direction.map(_ * scale).toSeq
    }
    writeEmbeddings(dir, vs)
    assert(DedupOps.dedupEmbed(spark, dir).count() == 0L,
      "guard must drop the oversized bucket entirely")
    // the kNN graph shares ivfAssigned, so the same guard bounds it
    assert(SparkEntry.queries("sim_knn_graph")(spark, dir)
      .count() == 0L, "knn graph must inherit the bucket guard")
  }

  test("a corpus smaller than the centroid floor still runs: probes cap " +
    "at the available centroids instead of indexing past the array") {
    // C floors at 8 but a 3-vector corpus has only 3 encoding entries;
    // fixed-position decode (element_at at C, C-1) threw under ANSI
    val dir = tmpDir("embed-tiny")
    val rnd = new scala.util.Random(5)
    val base = Array.fill(Dim)(rnd.nextFloat() * 2f - 1f)
    writeEmbeddings(dir, Seq(
      0L -> base.toSeq,
      1L -> base.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f).toSeq,
      2L -> Array.fill(Dim)(rnd.nextFloat() * 2f - 1f).toSeq))
    val out = DedupOps.dedupEmbed(spark, dir).collect()
    assert(out.exists(r => r.getLong(0) == 0L && r.getLong(1) == 1L),
      "near-identical pair must surface even on a tiny corpus")
    assert(SparkEntry.queries("sim_knn_graph")(spark, dir)
      .count() > 0)
  }

  test("realistic corpus: output is precise and planted near-identical " +
    "pairs are fully recalled") {
    val dir = tmpDir("embed-real")
    val rnd = new scala.util.Random(11)
    def randVec(): Array[Float] = Array.fill(Dim)(rnd.nextFloat() * 2f - 1f)
    val base = (0L until 400L).map(i => i -> randVec())
    // 20 planted near-dups of the last 20 base vectors: tiny jitter,
    // cos >= 0.999
    val planted = (0 until 20).map { j =>
      val (srcId, src) = base(380 + j)
      (400L + j, src.map(x => x + (rnd.nextFloat() - 0.5f) * 0.01f), srcId)
    }
    writeEmbeddings(dir,
      base.map { case (i, v) => i -> v.toSeq } ++
        planted.map { case (i, v, _) => i -> v.toSeq })

    val byId = (base.map { case (i, v) => i -> v } ++
      planted.map { case (i, v, _) => i -> v }).toMap
    def cos4(a: Array[Float], b: Array[Float]): Double = {
      def dot(x: Array[Float], y: Array[Float]) =
        (0 until Dim).foldLeft(0.0)((acc, k) => acc + x(k).toDouble * y(k).toDouble)
      BigDecimal(dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

    val out = DedupOps.dedupEmbed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (a, b, c) =>
      assert(cos4(byId(a), byId(b)) >= 0.45,
        s"reported pair ($a,$b,$c) is not a true near-dup")
    }
    val found = out.map(p => (p._1, p._2)).toSet
    planted.foreach { case (dupId, _, srcId) =>
      assert(found.contains((srcId, dupId)),
        s"planted near-identical pair ($srcId,$dupId) missed")
    }

    // the kNN GRAPH built from the same IVF candidates: per-node lists
    // are rank-consistent (cos non-increasing, ties by id, ranks
    // contiguous from 1), every edge's cosine is true, and each
    // planted near-identical duplicate is its source's rank-1 neighbor
    val g = SparkEntry.queries("sim_knn_graph")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    g.foreach { case (src, _, dst, c) =>
      assert(math.abs(cos4(byId(src), byId(dst)) - c) < 1e-9,
        s"knn edge ($src,$dst) carries wrong cosine $c")
    }
    g.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1L to sorted.length).toSeq,
        s"node $src: ranks not contiguous")
      sorted.sliding(2).foreach {
        case Array((_, _, d1, c1), (_, _, d2, c2)) =>
          assert(c1 > c2 || (c1 == c2 && d1 < d2),
            s"node $src: rank order violates (cos desc, id asc)")
        case _ => ()
      }
    }
    val rank1 = g.filter(_._2 == 1L).map(e => e._1 -> e._3).toMap
    planted.foreach { case (dupId, _, srcId) =>
      assert(rank1.get(dupId).contains(srcId),
        s"planted dup $dupId: rank-1 neighbor is not its source $srcId")
    }
  }
}
