package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.DedupOps

/** Large-star/small-star connected components: equality with the
  * label-propagation implementation on the real corpus graph, plus the
  * shapes label propagation is WORST at (long chains — one round per
  * hop there, O(log² n) rounds here). */
class StarContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  private def labels(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupOps.starContract(pairs.toDF("a", "b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a 64-node chain collapses to one component rooted at its min") {
    val chain = (0L until 63L).map(i => (i, i + 1))
    val got = labels(chain)
    assert(got == (1L to 63L).map(_ -> 0L).toMap)
  }

  test("disjoint components keep separate canonical minima") {
    // two triangles + an isolated edge + a star
    val pairs = Seq((5L, 3L), (3L, 4L), (4L, 5L),
      (10L, 12L), (12L, 11L), (11L, 10L),
      (20L, 21L),
      (30L, 31L), (30L, 32L), (30L, 33L))
    val got = labels(pairs)
    assert(got == Map(4L -> 3L, 5L -> 3L, 11L -> 10L, 12L -> 10L,
      21L -> 20L, 31L -> 30L, 32L -> 30L, 33L -> 30L))
  }

  test("star contraction equals label propagation on the corpus graph") {
    val star = SparkEntry.queries("dedup_clusters_star")(spark, sf).collect()
    val prop = SparkEntry.queries("dedup_clusters")(spark, sf).collect()
    assert(star.map(_.toString).toSeq == prop.map(_.toString).toSeq)
  }

  test("a duplicated-edge multigraph input does not break the fixpoint") {
    val got = labels(Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)))
    assert(got == Map(2L -> 1L, 3L -> 1L))
  }

  test("random graphs: components equal a union-find reference") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    // arbitrary topology (dense pockets, bridges, duplicate edges) vs
    // the classic sequential union-find — the alternating large/small
    // star fixpoint must land on identical min-rooted components
    val edgeGen = for {
      n <- Gen.chooseNum(2L, 40L)
      m <- Gen.chooseNum(1, 60)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n); b <- Gen.chooseNum(0L, n) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(6),
      Prop.forAllNoShrink(edgeGen) { es =>
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        es.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct
        val want = nodes.map(v => v -> find(v)).filter { case (v, r) => r != v }
          .toMap
        labels(es) == want
      })
    assert(res.passed, res.status.toString)
  }

  test("spark.graft.checkpointDir switches iteration to RELIABLE checkpoints " +
    "with identical components") {
    import java.nio.file.Files
    SparkTest.confLock.synchronized {
    val dir = Files.createTempDirectory("graft-reliable-ckpt")
    spark.conf.set(graft.engine.ops.Checkpoints.DirKey, dir.toString)
    try {
      val got = labels(Seq((0L, 1L), (1L, 2L), (2L, 3L), (10L, 11L)))
      assert(got == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 11L -> 10L))
      // the rounds really checkpointed to the reliable dir, not executor
      // blocks: rdd-N subdirectories must exist under <dir>/<uuid>/
      val walk = Files.walk(dir)
      val nRdd =
        try walk.filter(p => p.getFileName.toString.startsWith("rdd-")).count()
        finally walk.close()
      assert(nRdd > 0, s"no reliable checkpoint data under $dir")
    } finally spark.conf.unset(graft.engine.ops.Checkpoints.DirKey)
    }
  }
}
