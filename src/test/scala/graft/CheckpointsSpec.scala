package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.Checkpoints

/** The reliable-mode contract for EVERY lineage cut in the engine:
  * `spark.graft.checkpointDir` must govern all `Checkpoints.cut` call
  * sites, not just the iterative graph ops. On a 1000-executor run the
  * shared-frame cuts inside dedup and similarity pipelines are exactly
  * as exposed to executor loss as a PageRank round — losing the node
  * holding a `localCheckpoint` block kills the job — so the one knob
  * has to switch all of them to replicated storage at once.
  *
  * (StarContractSpec covers the iterative/labelprop path; this spec
  * covers the shared-frame paths that round 8 left on direct
  * `localCheckpoint()`.)
  */
class CheckpointsSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  /** Count rdd-N reliable-checkpoint dirs written under `dir`. */
  private def rddDirs(dir: java.nio.file.Path): Long = {
    val walk = Files.walk(dir)
    try walk.filter(_.getFileName.toString.startsWith("rdd-")).count()
    finally walk.close()
  }

  private def withReliableDir(f: java.nio.file.Path => Unit): Unit =
    SparkTest.confLock.synchronized {
      val dir = Files.createTempDirectory("graft-ckpt-spec")
      spark.conf.set(Checkpoints.DirKey, dir.toString)
      try f(dir)
      finally spark.conf.unset(Checkpoints.DirKey)
    }

  test("dedup_minhash's shingle-frame cut lands in the reliable dir when " +
    "spark.graft.checkpointDir is set") {
    withReliableDir { dir =>
      val before = rddDirs(dir)
      val out = SparkEntry.queries("dedup_minhash")(spark, sf).collect()
      assert(out.nonEmpty)
      assert(rddDirs(dir) > before,
        s"dedup_minhash ran without writing a reliable checkpoint under $dir")
    }
  }

  test("sim_ivf's scored-vectors cut lands in the reliable dir when " +
    "spark.graft.checkpointDir is set") {
    withReliableDir { dir =>
      val before = rddDirs(dir)
      val out = SparkEntry.queries("sim_ivf")(spark, sf).collect()
      assert(out.nonEmpty)
      assert(rddDirs(dir) > before,
        s"sim_ivf ran without writing a reliable checkpoint under $dir")
    }
  }

  test("every rerouted op family runs in reliable mode with IDENTICAL " +
    "results to local-blocks mode") {
    // one representative per family that round 9 moved off direct
    // localCheckpoint(): the knob must (a) actually engage — files
    // appear — and (b) never change results
    val reps = Seq(
      "cdc_progress",       // CdcOps ledger cut
      "pipeline_mix",       // TextOps shared tokenize frame
      "mm_phash_dup",       // Multimodal decode-once frame
      "sim_ivf_kmeans",     // KMeans centroid seed frame
      "join_tpch_q15",      // Relational14 argmax-subquery frame
      "data_shuffle")       // Relational6 range-boundary pin
    val sfd = "/root/testdata/sf0.001"
    val local = reps.map(n =>
      n -> SparkEntry.queries(n)(spark, sfd).collect().map(_.toString).toSeq).toMap
    withReliableDir { dir =>
      val before = rddDirs(dir)
      reps.foreach { n =>
        val rows = SparkEntry.queries(n)(spark, sfd).collect()
          .map(_.toString).toSeq
        assert(rows == local(n), s"$n: reliable mode changed the result")
      }
      assert(rddDirs(dir) > before,
        s"none of ${reps.size} family representatives checkpointed under $dir")
    }
  }

  test("a scheme-qualified checkpointDir is recognized as live: no dir " +
    "re-point (fresh UUID subdir) between consecutive cuts") {
    // the conf's natural deployment form is scheme-qualified
    // (hdfs://, s3a://); getCheckpointDir returns a fs-qualified path,
    // so an unnormalized compare would see every cut as "conf changed"
    // and mint a new UUID subdir each time — set-once intent defeated
    SparkTest.confLock.synchronized {
      val dir = Files.createTempDirectory("graft-ckpt-scheme")
      spark.conf.set(Checkpoints.DirKey, s"file://$dir")
      try {
        val df = spark.range(10).toDF("n")
        Checkpoints.cut(df).collect()
        val first = spark.sparkContext.getCheckpointDir
        assert(first.exists(_.contains(dir.getFileName.toString)),
          s"cut() did not point the context at $dir (got $first)")
        Checkpoints.cut(df).collect()
        assert(spark.sparkContext.getCheckpointDir == first,
          "second cut() re-pointed the checkpoint dir — scheme-qualified " +
            "conf not recognized as live")
      } finally spark.conf.unset(Checkpoints.DirKey)
    }
  }

  test("cutCounted returns the materialization count, engages reliable " +
    "mode, and yields the same frame as cut()") {
    val df = spark.range(0, 1000).toDF("n")
      .withColumn("g", org.apache.spark.sql.functions.col("n") % 7)
    // local-blocks mode: count matches, rows match a plain cut
    val (cutLocal, nLocal) = Checkpoints.cutCounted(df)
    assert(nLocal == 1000L)
    assert(cutLocal.collect().map(_.toString).sorted.toSeq ==
      Checkpoints.cut(df).collect().map(_.toString).sorted.toSeq)
    // reliable mode: same contract, and the checkpoint actually lands
    withReliableDir { dir =>
      val before = rddDirs(dir)
      val (cutRel, nRel) = Checkpoints.cutCounted(df)
      assert(nRel == 1000L)
      assert(cutRel.count() == 1000L)
      assert(rddDirs(dir) > before,
        s"cutCounted in reliable mode wrote no checkpoint under $dir")
    }
  }

  test("cutFlagCounted counts flagged rows from the materialization " +
    "pass, engages reliable mode, and yields the same frame as cut()") {
    val df = spark.range(0, 1000).toDF("n")
      .withColumn("chg", org.apache.spark.sql.functions.col("n") % 5 === 0)
    val (cutLocal, flagged) = Checkpoints.cutFlagCounted(df, "chg")
    assert(flagged == 200L, "every 5th of 1000 rows is flagged")
    assert(cutLocal.collect().map(_.toString).sorted.toSeq ==
      Checkpoints.cut(df).collect().map(_.toString).sorted.toSeq)
    // zero-flag frame: the convergence-relevant case — must be exact 0
    val (_, zero) = Checkpoints.cutFlagCounted(
      df.withColumn("chg", org.apache.spark.sql.functions.lit(false)), "chg")
    assert(zero == 0L)
    withReliableDir { dir =>
      val before = rddDirs(dir)
      val (cutRel, nRel) = Checkpoints.cutFlagCounted(df, "chg")
      assert(nRel == 200L)
      assert(cutRel.count() == 1000L)
      assert(rddDirs(dir) > before,
        s"cutFlagCounted in reliable mode wrote no checkpoint under $dir")
    }
  }

  test("cutFlagCounted under spark.graft.noCut is the identity frame " +
    "with a correct flag count") {
    SparkTest.confLock.synchronized {
      spark.conf.set(Checkpoints.NoCutKey, "true")
      try {
        val df = spark.range(0, 77).toDF("n")
          .withColumn("chg", org.apache.spark.sql.functions.col("n") < 10)
        val (out, n) = Checkpoints.cutFlagCounted(df, "chg")
        assert(n == 10L)
        assert(out eq df, "noCut cutFlagCounted must return the input " +
          "frame untouched so plan gates walk the real subtree")
      } finally spark.conf.unset(Checkpoints.NoCutKey)
    }
  }

  test("cutCounted under spark.graft.noCut is the identity frame with a " +
    "correct count (gate sweeps see the full subtree)") {
    SparkTest.confLock.synchronized {
      spark.conf.set(Checkpoints.NoCutKey, "true")
      try {
        val df = spark.range(0, 77).toDF("n")
        val (out, n) = Checkpoints.cutCounted(df)
        assert(n == 77L)
        assert(out eq df, "noCut cutCounted must return the input frame " +
          "untouched so plan gates walk the real subtree")
      } finally spark.conf.unset(Checkpoints.NoCutKey)
    }
  }

  test("the conf knob, not SparkContext state, selects reliable mode") {
    SparkTest.confLock.synchronized {
      // a context that once ran reliable mode keeps its checkpoint dir;
      // with the conf unset, cut() must still take the local-blocks path
      // and write nothing new there
      val dir = Files.createTempDirectory("graft-ckpt-unset")
      spark.sparkContext.setCheckpointDir(dir.toString)
      val before = rddDirs(dir)
      val out = SparkEntry.queries("dedup_minhash")(spark, sf).collect()
      assert(out.nonEmpty)
      assert(rddDirs(dir) == before,
        "knob unset but a reliable checkpoint was written")
    }
  }
}
