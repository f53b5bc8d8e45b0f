package graft

import org.scalatest.funsuite.AnyFunSuite

/** Differential fuzz of the native `graft_hll_reg` register extraction
  * against the declarative md5 → conv(substr) → bin-length chain it
  * replaced in agg_hll (the DuckDB oracle keeps that spelling, so this
  * equivalence is the correctness argument): identical (b, rho) on
  * arbitrary key strings, including the h = 0 register edge and
  * multi-byte keys.
  */
class HllRegSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  /** graft_hll_reg declares (STRING, INT) input types, so a BIGINT or
    * non-integer second argument is rejected at ANALYSIS time with a
    * named error — until round 15 it surfaced as a runtime
    * ClassCastException / janino compile failure deep in codegen. */
  private def checkMismatchedTypesRejected(
      s: org.apache.spark.sql.SparkSession): Unit =
    for (bad <- Seq("CAST(64 AS BIGINT)", "'64'", "6.4")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        s.sql(s"SELECT graft_hll_reg('k', $bad)").collect()
      }
      assert(e.getMessage.toLowerCase.contains("graft_hll_reg") ||
        e.getMessage.toLowerCase.contains("int"),
        s"expected a type error naming the mismatch, got: ${e.getMessage}")
    }

  /** Quantitative gate for the inventory's one contractual no-hash-
    * oracle row (round 18, verdict item 2): `agg_approx_distinct` is
    * Spark's HLL++ `approx_count_distinct` at its default relativeSD
    * of 0.05, so the estimate must sit within 3 sigma = 0.15 relative
    * error of the exact distinct count. The SAME bound is enforced
    * differentially against DuckDB's exact count by tools/check.py's
    * BOUNDED gate at every scaled pass (status `bounded_pass`); this
    * test pins it at unit scale so a sketch regression fails `sbt
    * test` without waiting for a scaled artifact. */
  test("agg_approx_distinct sits inside HLL++'s 3-sigma bound") {
    val s = spark
    val sf = "/root/testdata/sf0.001"
    val est = SparkEntry.queries("agg_approx_distinct")(s, sf)
      .collect()(0).getLong(0).toDouble
    val exact = graft.engine.Tables.lineitem(s, sf)
      .select("l_partkey").distinct().count().toDouble
    val rel = math.abs(est - exact) / exact
    assert(rel <= 0.15,
      s"approx_count_distinct rel err $rel > 0.15 (est=$est exact=$exact)")
  }

  test("native HLL register extraction matches the md5/conv spelling") {
    val s = spark
    import s.implicits._
    graft.engine.functions.VectorOps.register(s)
    val rnd = new scala.util.Random(97)
    val keys = Seq("", "0", "1", "42", "hll:", "é中🙂",
      (1 to 500).map(_ => "x").mkString) ++
      (1 to 2000).map(_ => rnd.nextLong().toString) ++
      (1 to 200).map { _ =>
        val alpha = "aZ9 .é中"
        (1 to rnd.nextInt(20)).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      }
    checkMismatchedTypesRejected(s)
    for (m <- Seq(64, 1024, 4096)) {
      val rows = keys.toDF("k").repartition(8).selectExpr(
        s"graft_hll_reg(k, $m) AS br",
        "md5(concat('hll:', k)) AS hx")
        .selectExpr("br.b AS fb", "br.rho AS fr",
          s"CAST(conv(substr(hx, 1, 8), 16, 10) AS BIGINT) % $m AS rb",
          "CAST(conv(substr(hx, 9, 8), 16, 10) AS BIGINT) % 1073741824 AS h")
        .selectExpr("fb", "fr", "rb",
          "31 - IF(h = 0, 0, length(bin(h))) AS rr")
        .collect()
      rows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getLong(0) == r.getLong(2) && r.getInt(1) == r.getInt(3),
          s"registers diverge at m=$m on #$i '${keys(i).take(30)}': " +
            s"fast=(${r.getLong(0)},${r.getInt(1)}) " +
            s"ref=(${r.getLong(2)},${r.getInt(3)})")
      }
    }
  }
}
