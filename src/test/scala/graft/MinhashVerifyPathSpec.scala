package graft

import org.scalatest.funsuite.AnyFunSuite

/** dedup_minhash's exact-Jaccard verify has three plan shapes behind
  * two size gates: both joins broadcast below the knobs (the
  * LSH-design case — candidates ≪ corpus), cands-broadcast-only when
  * count × sampled-bytes-per-row exceeds
  * `spark.graft.minhash.broadcastMaxVerifyBytes`
  * (the withA rows drag full shingle arrays, so their broadcast gate
  * is byte-true, not a row count), and shuffle equi-joins
  * for both above `spark.graft.minhash.broadcastMaxCandidates`
  * (candidates outgrow executor memory). The gates read the candidate
  * count from the cutCounted materialization job, so the flips are
  * executable logic; this spec pins that ALL paths return the
  * identical pair set by forcing the knobs to 0 (one at a time, then
  * together) and comparing against the default broadcast path on the
  * real sf0.001 corpus.
  */
class MinhashVerifyPathSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val KnobCands = "spark.graft.minhash.broadcastMaxCandidates"
  private val KnobVerify = "spark.graft.minhash.broadcastMaxVerifyBytes"
  private val Dir = "/root/testdata/sf0.001"

  private def rows(): Set[(Long, Long, Double)] =
    SparkEntry.queries("dedup_minhash")(spark, Dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("the shuffle and mixed verify paths return the identical pair " +
    "set as the broadcast path") {
    val viaBroadcast = rows()
    assert(viaBroadcast.nonEmpty, "corpus must yield near-dup pairs")
    // mixed path: cands still broadcast (bare id pairs), withA — the
    // shingle-array-carrying frame — forced to the shuffle join
    spark.conf.set(KnobVerify, "0")
    try {
      val viaMixed = rows()
      assert(viaMixed == viaBroadcast,
        s"mixed path diverges: broadcast=${viaBroadcast.size} " +
          s"mixed=${viaMixed.size}")
      // full shuffle path: both joins equi-join on the doc keys
      spark.conf.set(KnobCands, "0")
      val viaShuffle = rows()
      assert(viaShuffle == viaBroadcast,
        s"verify paths diverge: broadcast=${viaBroadcast.size} " +
          s"shuffle=${viaShuffle.size}")
    } finally {
      spark.conf.unset(KnobCands)
      spark.conf.unset(KnobVerify)
    }
  }
}
