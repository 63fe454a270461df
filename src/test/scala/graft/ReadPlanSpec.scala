package graft

import graft.core.{CellValue, Cube, Database}
import graft.olap.{AxisDef, View, ViewDef}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Address-independent read plans: the closure subset, the write overlay and
  * the view row labels enter the fact stage as reference-object lookups, so
  * an aggregated cell read is one aggregation with no broadcast job, and a
  * read at a new address of a known shape compiles nothing. Every value is
  * checked against plain Spark SQL over the same cells, with the
  * hierarchies written out by hand below.
  */
class ReadPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val leaves = Seq("c1", "c2", "c3", "c4", "c5")
  private val months = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun")
  // (ancestor, leaf, summed path weight) — leaf self-rows added below
  private val geoMap = Seq(
    ("World", "c1", 1.0), ("World", "c2", 1.0), ("World", "c3", 1.0),
    ("World", "c4", 1.0), ("World", "c5", 1.0),
    ("East", "c1", 1.0), ("East", "c2", 1.0), ("East", "c3", 1.0),
    ("West", "c4", 1.0), ("West", "c5", 1.0),
    ("Key", "c2", 1.0), ("Key", "c5", 1.0),
    // Focus reaches c2 twice: through East and directly
    ("Focus", "c1", 1.0), ("Focus", "c2", 2.0), ("Focus", "c3", 1.0)) ++
    leaves.map(l => (l, l, 1.0))
  private val calMap = months.map(m => ("All", m, 1.0)) ++
    months.take(3).map(m => ("Q1", m, 1.0)) ++ months.drop(3).map(m => ("Q2", m, 1.0)) ++
    months.map(m => (m, m, 1.0))
  private val measMap = Seq(("net", "gross", 1.0), ("net", "disc_amt", -1.0),
    ("gross", "gross", 1.0), ("disc_amt", "disc_amt", 1.0))

  /** The cube (overlay non-empty, result cache off) and the cell truth
    * after the same writes, by member names. */
  private lazy val model: (Database, Cube, Map[(String, String, String), BigDecimal]) = {
    val db = new Database("readplan", spark)
    val geo = db.addDimension("geo")
    geo.edit().add("World", Seq("East", "West"))
      .add("East", Seq("c1", "c2", "c3")).add("West", Seq("c4", "c5"))
      .add("Key", Seq("c2", "c5")).add("Focus", Seq("East", "c2")).commit()
    val cal = db.addDimension("cal")
    cal.edit().add("All", Seq("Q1", "Q2"))
      .add("Q1", months.take(3)).add("Q2", months.drop(3)).commit()
    val meas = db.addDimension("meas")
    meas.edit().addMany(Seq("gross", "disc_amt"))
      .add("net", Seq("gross", "disc_amt"), Seq(1.0, -1.0)).commit()
    val rnd = new scala.util.Random(7)
    val fresh = ("c5", "Jun", "disc_amt") // left empty, written below
    var truth = (for (g <- leaves; m <- months; x <- Seq("gross", "disc_amt")
        if (g, m, x) != fresh && rnd.nextInt(10) > 0)
      yield (g, m, x) -> BigDecimal(rnd.nextInt(10000000), 4)).toMap
    val rows = truth.toSeq.map { case ((g, m, x), v) =>
      Row(geo.idOf(g), cal.idOf(m), meas.idOf(x), v.bigDecimal) }
    val schema = StructType(Seq(StructField("d0", IntegerType), StructField("d1", IntegerType),
      StructField("d2", IntegerType), StructField("value", DecimalType(18, 4))))
    val cube = db.addCube("sales", Seq(geo, cal, meas),
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema))
    cube.cacheEnabled = false
    // overlay: an upsert over a stored cell, a new cell, a delete, a payload
    val stored = truth.keys.toSeq.sorted
    val (up, del, pay) = (stored(0), stored(1), stored(2))
    cube.set(Seq(up._1, up._2, up._3), 123.4567)
    cube.set(Seq(fresh._1, fresh._2, fresh._3), 9.5)
    cube.delete(Seq(del._1, del._2, del._3))
    cube.setPayload(Seq(pay._1, pay._2, pay._3), "n/a")
    truth = truth + (up -> BigDecimal("123.4567")) + (fresh -> BigDecimal("9.5")) - del - pay
    assert(cube.getCell(Seq(pay._1, pay._2, pay._3)).contains(CellValue.Text("n/a")))
    (db, cube, truth)
  }

  /** Plain Spark SQL over the truth cells and the hand-written maps:
    * (geo, cal, meas) member names → the weighted decimal sum, as double. */
  private lazy val oracle: Map[(String, String, String), Double] = {
    import spark.implicits._
    val (_, _, truth) = model
    truth.toSeq.map { case ((g, m, x), v) => (g, m, x, v.bigDecimal) }
      .toDF("geo", "mon", "meas", "v").createOrReplaceTempView("rp_facts")
    geoMap.toDF("anc", "leaf", "w").createOrReplaceTempView("rp_geo")
    calMap.toDF("anc", "leaf", "w").createOrReplaceTempView("rp_cal")
    measMap.toDF("anc", "leaf", "w").createOrReplaceTempView("rp_meas")
    spark.sql(
      """SELECT g.anc, c.anc, m.anc,
        |       CAST(SUM(f.v * CAST(m.w AS DECIMAL(10,4)) * CAST(c.w AS DECIMAL(10,4))
        |                    * CAST(g.w AS DECIMAL(10,4))) AS DOUBLE)
        |FROM rp_facts f
        |JOIN rp_geo g ON f.geo = g.leaf
        |JOIN rp_cal c ON f.mon = c.leaf
        |JOIN rp_meas m ON f.meas = m.leaf
        |GROUP BY g.anc, c.anc, m.anc""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3))
      .toMap
  }

  private def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      Thread.sleep(300) // let the async job-start events drain
      (r, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def compiles[T](body: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  test("an aggregated cell read plans no broadcast and runs at most 2 jobs") {
    val (db, cube, _) = model
    val id = (d: String, m: String) => db.dimension(d).idOf(m)
    val grid = cube.gridAggregate(Seq(Seq(id("geo", "Focus")), Seq(id("cal", "Q1")),
      Seq(id("meas", "net"))))
    grid.collect()
    val plan = grid.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastExchange") && !plan.contains("Join"),
      s"a cell read must not join a driver relation:\n$plan")
    cube.get(Seq("East", "Q2", "net")) // warm
    val (v, jobs) = countingJobs(cube.get(Seq("Key", "Q1", "net")))
    assert(v == oracle.get(("Key", "Q1", "net")))
    assert(jobs <= 2, s"aggregated read ran $jobs jobs")
  }

  test("reads at new addresses of one shape compile nothing") {
    val (_, cube, _) = model
    val addrs = for (g <- Seq("East", "West", "Key", "Focus");
                     c <- Seq("Q1", "Q2") ++ months) yield Seq(g, c, "net")
    cube.get(addrs.head) // warm-up: the shape's classes compile here
    val (got, n) = compiles(addrs.slice(1, 21).map(cube.get))
    assert(n == 0, s"20 same-shape reads compiled $n classes")
    addrs.slice(1, 21).zip(got).foreach { case (a, v) =>
      assert(v == oracle.get((a(0), a(1), a(2))), s"cell $a")
    }
    def view(rows: Seq[String], cols: Seq[String]) = new View(cube, ViewDef(
      filters = Seq("meas" -> "net"),
      rows = AxisDef(Seq("geo" -> rows)), cols = AxisDef(Seq("cal" -> cols)))).refresh().collect()
    // one shape: two disjoint row members (overlapping ones would fan out
    // through an explode, a different shape) by two calendar members
    view(Seq("East", "West"), Seq("Q1", "Q2")) // warm-up
    val (_, nv) = compiles {
      view(Seq("Focus", "West"), Seq("Jan", "Apr"))
      view(Seq("c1", "Key"), Seq("Feb", "Q2"))
    }
    assert(nv == 0, s"two views of one shape compiled $nv classes")
  }

  test("cell reads equal plain SQL: weights, summed paths, overlay, payload") {
    val (_, cube, _) = model
    for (g <- geoMap.map(_._1).distinct; c <- Seq("All", "Q1", "Q2", "Mar");
         m <- Seq("net", "gross", "disc_amt"))
      assert(cube.get(Seq(g, c, m)) == oracle.get((g, c, m)), s"cell ($g, $c, $m)")
  }

  test("a grid with overlapping ancestors equals plain SQL") {
    val (db, cube, _) = model
    val sels = Seq(
      "geo" -> Seq("East", "Focus", "Key", "c2", "World"),
      "cal" -> Seq("Q1", "Jan", "All"),
      "meas" -> Seq("net", "gross"))
    val dims = sels.map { case (d, ms) => db.dimension(d) -> ms }
    val got = cube.gridAggregate(dims.map { case (d, ms) => ms.map(d.idOf) })
      .collect().map { r =>
        val names = dims.indices.map(i => dims(i)._1.nameOf(r.getInt(i)))
        (names(0), names(1), names(2)) -> r.getAs[java.math.BigDecimal]("value").doubleValue
      }.toMap
    val expected = oracle.filter { case ((g, c, m), _) =>
      sels(0)._2.contains(g) && sels(1)._2.contains(c) && sels(2)._2.contains(m) }
    assert(got == expected)
  }

  test("a view with a duplicated row member renders the row twice") {
    val (_, cube, _) = model
    val grid = new View(cube, ViewDef(filters = Seq("meas" -> "net"),
      rows = AxisDef(Seq("geo" -> Seq("East", "c2", "East"))),
      cols = AxisDef(Seq("cal" -> Seq("Q1", "Q2"))))).refresh().collect()
    assert(grid.map(_.getAs[String]("geo")).toSeq == Seq("East", "c2", "East"))
    grid.foreach { r =>
      Seq("Q1", "Q2").foreach { c =>
        assert(Option(r.getAs[java.lang.Double](c)).map(_.doubleValue) ==
          oracle.get((r.getAs[String]("geo"), c, "net")))
      }
    }
  }

  test("a read over a 100k-leaf closure keeps its plan string bounded") {
    val db = new Database("readplan_big", spark)
    val big = db.addDimension("big")
    val n = 100000
    big.edit().add("Most", (0 until n).map(i => s"l$i")).addMany(Seq("other")).commit()
    val m = db.addDimension("m")
    m.edit().addMany(Seq("x")).commit()
    val cube = db.addCube("bigc", Seq(big, m))
    cube.set(Seq("l7", "x"), 2.0); cube.set(Seq("l99999", "x"), 3.0)
    cube.set(Seq("other", "x"), 100.0)
    val grid = cube.gridAggregate(Seq(Seq(big.idOf("Most")), Seq(m.idOf("x"))))
    assert(grid.collect().map(_.getAs[Double]("value")).toSeq == Seq(5.0))
    val len = grid.queryExecution.toString.length
    assert(len < 64 * 1024, s"plan string is $len chars")
    assert(cube.get(Seq("Most", "x")).contains(5.0))
  }
}
