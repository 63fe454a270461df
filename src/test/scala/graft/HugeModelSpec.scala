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

  test("facts equal a plain 8-column group-by, row for row") {
    // independent reference: the 8 leaf-id columns straight off the
    // generator, grouped by plain Spark — no packed key, no decode. At a
    // row count no other suite memoizes.
    val n = 54321L
    val keys = (0 until HugeModel.NDims).map(i => col(s"d$i"))
    val facts = HugeModel.at(spark, n).facts
    try {
      val expected = spark.range(n)
        .select((0 until HugeModel.NDims).map(i =>
          (pmod(xxhash64(col("id"), lit(i)), lit(100)) + 1).cast("int").as(s"d$i")): _*)
        .groupBy(keys: _*).agg(count(lit(1)).cast("double").as("value"))
        .orderBy(keys: _*).collect()
      val got = facts.select(keys :+ col("value"): _*).orderBy(keys: _*).collect()
      assert(got.length == expected.length, "row count differs")
      got.zip(expected).foreach { case (g, e) => assert(g == e) }
      assert(got.map(_.getDouble(HugeModel.NDims)).sum == n.toDouble,
        "cell values must sum to the generated row count")
      assert(got.map(r => (0 until HugeModel.NDims).map(r.getInt)).distinct.length ==
        got.length, "an address repeats")
    } finally HugeModel.drop(n)
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
