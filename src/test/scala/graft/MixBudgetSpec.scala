package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.TextOps

/** The largest-remainder invariants of `mix_budget_alloc`: quotas sum
  * to EXACTLY the budget, every quota is its proportional floor or
  * floor+1, and +1s go to the largest remainders (ties to the smaller
  * language name). */
class MixBudgetSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.01"

  test("allocations sum to the budget and sit on the proportional floor " +
    "or floor+1, remainder-ranked") {
    val rows = SparkEntry.queries("mix_budget_alloc")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.length > 1)
    val total = rows.map(_._2).sum
    assert(rows.map(_._3).sum == TextOps.MixBudget, "quotas must sum to B")
    val floors = rows.map { case (lang, tok, alloc) =>
      val base = TextOps.MixBudget * tok / total
      assert(alloc == base || alloc == base + 1,
        s"$lang: alloc $alloc not in {floor, floor+1} of $base")
      (lang, TextOps.MixBudget * tok % total, alloc - base)
    }
    // the +1s are exactly the top-remainder languages
    val ranked = floors.sortBy { case (lang, rem, _) => (-rem, lang) }
    val leftover = floors.map(_._3).sum
    assert(ranked.take(leftover.toInt).forall(_._3 == 1L) &&
      ranked.drop(leftover.toInt).forall(_._3 == 0L),
      "+1 quotas must go to the largest remainders")
  }
}
