package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.ops.QueryDef

/** The query registry's shape: names and oracle strings only, no plan is
  * built. */
class RegistrySpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keySet
  private val oracles = SparkEntry.oracleSql

  test("248 names, 247 of them with an oracle") {
    assert(names.size == 248)
    assert(oracles.size == 247)
  }

  test("agg_approx_distinct is the only name without an oracle") {
    // it is approximate by contract; tools/check.py bounds its error instead
    assert(names -- oracles.keySet == Set("agg_approx_distinct"))
  }

  test("every oracle belongs to a registered name") {
    assert(oracles.keySet.subsetOf(names))
  }

  test("dedup_clusters_star and dedup_clusters share one oracle text") {
    assert(oracles("dedup_clusters_star") == oracles("dedup_clusters"))
  }

  test("a repeated name is rejected, and the error names it") {
    val build: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val once = Seq(QueryDef("q_a", build, Some("SELECT 1")), QueryDef("q_b", build, None))
    assert(SparkEntry.requireUnique(once) == once)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.requireUnique(once :+ QueryDef("q_a", build, Some("SELECT 2")))
    }
    assert(e.getMessage.contains("q_a"))
    assert(!e.getMessage.contains("q_b"))
  }
}
