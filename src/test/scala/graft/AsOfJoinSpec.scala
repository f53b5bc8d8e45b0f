package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.plans.AsOfJoin
import graft.engine.ops.{Relational, Relational3}

/** The native as-of join operator (custom LogicalPlan + Strategy +
  * SparkPlan): differential equality against the composed query,
  * physical-plan shape, and the SQL null/window edge semantics the
  * merge loop implements by hand. */
class AsOfJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  test("native as-of equals the composed range-join + max_by form") {
    val native = Relational3.joinAsofNative(spark, sf).collect()
    val composed = Relational.joinAsof(spark, sf).collect()
    assert(native.length == composed.length)
    assert(native.map(_.toString).sameElements(composed.map(_.toString)))
  }

  test("the plan is AsOfJoinExec fed by one exchange+sort per side") {
    val p = Relational3.joinAsofNative(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("AsOfJoin"), "custom physical operator missing")
    assert(!p.contains("SortAggregate") && !p.contains("HashAggregate"),
      "native path must not re-aggregate pairs")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("null keys never match; null times neither match nor are matched") {
    import spark.implicits._
    val left = Seq(
      (1L, Option(10L), Option(100L)), // normal match
      (2L, None, Option(100L)),        // null key: dropped
      (3L, Option(10L), None),         // null time: dropped
      (4L, Option(11L), Option(100L)), // key matches only null-time right row: dropped
      (5L, Option(12L), Option(100L))  // null-time row must not stall the key run
    ).toDF("lid", "k", "lt")
    val right = Seq(
      (Option(10L), Option(50L), 7L),  // in-window for lid=1
      (Option(10L), Option(60L), 8L),  // later in-window: wins
      (Option(10L), Option(200L), 9L), // out of window
      (Option(11L), None, 10L),        // null right time: never a candidate
      (None, Option(1L), 11L),         // null right key: never a candidate
      (Option(12L), None, 12L),        // NULLS FIRST: sorts ahead of the real row
      (Option(12L), Option(40L), 13L)  // in-window; must be reached past the null
    ).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 8L), (5L, 13L)))
  }

  test("left-outer as-of keeps unmatched, null-key and null-time left rows null-padded") {
    import spark.implicits._
    val left = Seq(
      (1L, Option(10L), Option(100L)), // matched
      (2L, Option(10L), Option(10L)),  // before every right row: unmatched
      (3L, Option(99L), Option(100L)), // key with no right rows: unmatched
      (4L, None, Option(100L)),        // null key: kept, null-padded
      (5L, Option(10L), None)          // null time: kept, null-padded
    ).toDF("lid", "k", "lt")
    val right = Seq((Option(10L), Option(50L), 7L)).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie",
      outer = true)
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    assert(out.toSeq == Seq(1L -> Some(7L), 2L -> None, 3L -> None,
      4L -> None, 5L -> None))
  }

  test("native as-of enriches a stream inside foreachBatch (micro-batch temporal join)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dim = Seq((10L, 50L, 7L), (10L, 60L, 8L)).toDF("rk", "rt", "tie")
      .localCheckpoint()
    val in = MemoryStream[(Long, Long, Long)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = in.toDF().toDF("lid", "k", "lt").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        got ++= AsOfJoin.frames(batch, dim, "k", "rk", "lt", "rt", "tie")
          .select($"lid", $"tie").collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        ()
      }
      .start()
    try {
      in.addData((1L, 10L, 55L), (2L, 10L, 100L), (3L, 99L, 100L))
      q.processAllAvailable()
    } finally q.stop()
    assert(got.sortBy(_._1).toSeq == Seq((1L, 7L), (2L, 8L)),
      "per-batch as-of enrichment must pick each event's latest prior state")
  }

  test("self as-of join (shared lineage) re-aliases the right side cleanly") {
    import spark.implicits._
    val t = Seq((1L, 1L, 10L), (2L, 1L, 20L), (3L, 1L, 30L))
      .toDF("id", "k", "t2")
    // each row matched to its own latest state at-or-before its time:
    // with identical left/right, that is the row itself
    val rows = AsOfJoin.frames(t, t, "k", "k", "t2", "t2", "id")
      .toDF("lid", "lk", "lt2", "rid", "rk", "rt2")
      .select($"lid", $"rid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("direction/tolerance variants keep the exchange+sort-per-side plan shape") {
    for (q <- Seq("join_asof_forward", "join_asof_nearest", "join_asof_tolerance")) {
      val p = SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
      assert(p.contains("AsOfJoin"), s"$q: custom physical operator missing")
      assert(!p.contains("SortAggregate") && !p.contains("HashAggregate"),
        s"$q: native path must not re-aggregate pairs")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q: pair blow-up plan")
    }
  }

  test("forward direction picks the least (time, tie) >= leftTime") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 55L),  // between 50 and 60: forward -> 60
      (2L, 10L, 60L),  // equal time: forward includes it -> 60
      (3L, 10L, 61L),  // after every right row: unmatched
      (4L, 10L, 10L)   // before every right row: forward -> 50
    ).toDF("lid", "k", "lt")
    val right = Seq(
      (10L, 50L, 7L), (10L, 60L, 8L), (10L, 60L, 9L) // tie: least tie wins
    ).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie",
      direction = "forward")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 8L), (2L, 8L), (4L, 7L)))
  }

  test("nearest direction picks the closer side; equal distance prefers backward") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 54L),  // 4 behind vs 6 ahead: backward 50
      (2L, 10L, 57L),  // 7 behind vs 3 ahead: forward 60
      (3L, 10L, 55L),  // equidistant: backward 50
      (4L, 10L, 40L),  // only forward exists: 50
      (5L, 10L, 70L)   // only backward exists: 60
    ).toDF("lid", "k", "lt")
    val right = Seq((10L, 50L, 7L), (10L, 60L, 8L)).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie",
      direction = "nearest")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq ==
      Seq((1L, 7L), (2L, 8L), (3L, 7L), (4L, 7L), (5L, 8L)))
  }

  test("tolerance drops matches farther than the bound, in every direction") {
    import spark.implicits._
    val left = Seq((1L, 10L, 55L), (2L, 10L, 90L)).toDF("lid", "k", "lt")
    val right = Seq((10L, 50L, 7L), (10L, 60L, 8L)).toDF("rk", "rt", "tie")
    def run(dir: String, tol: Long) =
      AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie",
        direction = dir, tolerance = Some(tol))
        .select($"lid", $"tie").collect()
        .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(run("backward", 10L) == Seq((1L, 7L)))  // 90-60=30 > 10 dropped
    assert(run("backward", 30L) == Seq((1L, 7L), (2L, 8L)))
    assert(run("forward", 4L) == Seq.empty)         // 60-55=5 > 4 dropped
    assert(run("forward", 5L) == Seq((1L, 8L)))
    assert(run("nearest", 4L) == Seq.empty)
    assert(run("nearest", 30L) == Seq((1L, 7L), (2L, 8L)))
  }

  test("outer + forward/nearest keeps unmatched left rows null-padded") {
    import spark.implicits._
    val left = Seq((1L, 10L, 70L), (2L, 99L, 70L)).toDF("lid", "k", "lt")
    val right = Seq((10L, 50L, 7L)).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie",
      outer = true, direction = "forward")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .sortBy(_._1)
    assert(out.toSeq == Seq(1L -> None, 2L -> None))
  }

  test("construction rejects mismatched key types, bad directions, non-integral tolerance times") {
    import spark.implicits._
    val l = Seq((1, 10L)).toDF("k", "lt")           // k: INT
    val r = Seq((1L, 5L, 1L)).toDF("rk", "rt", "tie") // rk: BIGINT
    intercept[IllegalArgumentException] {
      AsOfJoin.frames(l, r, "k", "rk", "lt", "rt", "tie")
    }
    val l2 = Seq((1L, 10L)).toDF("k", "lt")
    intercept[IllegalArgumentException] {
      AsOfJoin.frames(l2, r, "k", "rk", "lt", "rt", "tie",
        direction = "sideways")
    }
    val ls = Seq((1L, "a")).toDF("k", "lt")
    val rs = Seq((1L, "a", 1L)).toDF("rk", "rt", "tie")
    // string time is fine backward (ordering only)…
    AsOfJoin.frames(ls, rs, "k", "rk", "lt", "rt", "tie").collect()
    // …but differences are undefined: tolerance and forward must reject
    intercept[IllegalArgumentException] {
      AsOfJoin.frames(ls, rs, "k", "rk", "lt", "rt", "tie",
        tolerance = Some(1L))
    }
    intercept[IllegalArgumentException] {
      AsOfJoin.frames(ls, rs, "k", "rk", "lt", "rt", "tie",
        direction = "forward")
    }
  }

  test("composite-key as-of partitions and matches on ALL key columns") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, "a", 100L), // matches (10,"a") history
      (2L, 10L, "b", 100L), // same id, different subkey: own history
      (3L, 10L, "c", 100L)  // no right rows for (10,"c"): dropped
    ).toDF("lid", "k1", "k2", "lt")
    val right = Seq(
      (10L, "a", 50L, 7L), (10L, "a", 60L, 8L),
      (10L, "b", 55L, 9L),
      (11L, "c", 55L, 10L) // k1 differs: must not leak into lid=3
    ).toDF("rk1", "rk2", "rt", "tie")
    val out = AsOfJoin.framesMulti(left, right,
      Seq("k1" -> "rk1", "k2" -> "rk2"), "lt", "rt", "tie")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 8L), (2L, 9L)))
  }

  test("column resolution is case-insensitive like the analyzer's") {
    import spark.implicits._
    val left = Seq((1L, 10L, 55L)).toDF("lid", "User_ID", "lt")
    val right = Seq((10L, 50L, 7L)).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "user_id", "RK", "LT", "rt", "tie")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 7L)))
  }

  test("candidates reset across key runs; ties break to the greater tie column") {
    import spark.implicits._
    val left = Seq(
      (1L, 1L, 100L), (2L, 1L, 100L), // same key, same time: same match
      (3L, 2L, 100L),                 // next key: must NOT inherit key 1's candidate
      (4L, 3L, 5L)                    // before every right row for key 3
    ).toDF("lid", "k", "lt")
    val right = Seq(
      (1L, 90L, 1L), (1L, 90L, 2L),   // equal times: tie 2 wins
      (3L, 50L, 3L)                   // key 2 has no rows; key 3 out of window
    ).toDF("rk", "rt", "tie")
    val out = AsOfJoin.frames(left, right, "k", "rk", "lt", "rt", "tie")
      .select($"lid", $"tie").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (2L, 2L)))
  }
}
