package graft

import graft.tpch.HugeModel
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Self-verifying assertions on the reference's `huge` benchmark model
  * (value-1.0 cells ⇒ any aggregate equals its contributing row count).
  */
class HugeModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("top cell equals total row count; slice cells equal filter counts") {
    val cube = HugeModel.get(spark)
    assert(cube.get(Seq.fill(8)("All")).contains(HugeModel.Rows.toDouble))
    // one-dim slice: (m5, All×7) must equal the number of rows with d0 = m5
    val m5Id = cube.dimensions(0).idOf("m5")
    val expected = cube.facts.filter(col("d0") === m5Id)
      .agg(sum("value")).head.getDouble(0)
    assert(cube.get(Seq("m5") ++ Seq.fill(7)("All")).contains(expected))
    // two-dim slice
    val m7Id = cube.dimensions(1).idOf("m7")
    val expected2 = cube.facts.filter(col("d0") === m5Id && col("d1") === m7Id)
      .agg(sum("value")).head.getDouble(0)
    assert(cube.get(Seq("m5", "m7") ++ Seq.fill(6)("All")).contains(expected2))
  }

  test("packed-key build ≡ 8-int-column build (grouping-shape parity)") {
    // round 19: the default build groups by ONE packed long (base-100
    // digits, bijective) and counts; the pre-r19 shape groups by the 8 int
    // columns and sums 1.0. Same facts by construction — pin it row-for-row
    // at a row count no other suite memoizes.
    val rows = 54321L
    val packed = HugeModel.at(spark, rows).facts
      .orderBy((0 until HugeModel.NDims).map(i => col(s"d$i")): _*)
      .collect()
    try {
      Seq("ints", "packed_sort").foreach { variant =>
        System.setProperty("graft.huge.group", variant)
        val other = HugeModel.rebuild(spark, rows).facts
          .orderBy((0 until HugeModel.NDims).map(i => col(s"d$i")): _*)
          .collect()
        assert(packed.length == other.length, s"row count differs ($variant)")
        packed.zip(other).foreach { case (p, n) => assert(p == n, s"($variant)") }
      }
    } finally {
      System.clearProperty("graft.huge.group")
      HugeModel.drop(rows)
    }
  }

  test("identity rollups skip the closure lookup; partial/weighted covers keep it") {
    val cube = HugeModel.get(spark)
    // All^8: every dimension's All covers every leaf at weight 1 — the plan
    // must be a bare scan + aggregate: no join, no closure probe, no filter
    val allIds = cube.dimensions.map(d => Seq(d.idOf("All")))
    val plan = cube.gridAggregate(allIds).queryExecution.executedPlan.toString
    assert(!plan.contains("Join") && !plan.contains("Filter"),
      s"top-cell grid should be a bare scan-aggregate:\n$plan")
    // weighted cover (tiny model Profit = Sales − Cost) keeps its closure
    // lookup on the measures column — it is neither full-coverage nor
    // unit-weight
    val db = TinyModel.build(spark)
    val tc = db.cube("sales")
    def mid(d: String, m: String) = db.dimension(d).idOf(m)
    val g = tc.gridAggregate(Seq(
      Seq(mid("years", "2021")), Seq(mid("months", "Year")),
      Seq(mid("regions", "Total")), Seq(mid("products", "Total")),
      Seq(mid("measures", "Profit"))))
    val gPlan = g.queryExecution.executedPlan.toString
    assert(gPlan.contains("graft_ref_lookup(d4") && !gPlan.contains("Join"),
      s"weighted rollup must keep its closure lookup:\n$gPlan")
  }
}
