package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded TPC-H-shaped tables (the columns `graft.tpch.TpchModel` reads),
  * written as parquet, and the expected values computed from them with
  * plain Spark SQL — independent of the engine's cube code.
  *
  * Measures are exact decimals: quantity and gross sum `l_quantity` and
  * `l_extendedprice`; disc_amt sums `round2(price) × discount`. Sums are
  * kept as longs in units of 1e-4 (decimal(21,4)).
  */
object TpchData {
  val Regions = Vector("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val Nations = Vector(
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1))
  val Brands: Vector[String] = for (m <- (1 to 5).toVector; n <- 1 to 5) yield s"Brand#$m$n"
  private val Types: Vector[String] = for {
    a <- Vector("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO")
    b <- Vector("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED")
    c <- Vector("TIN", "NICKEL", "BRASS", "STEEL", "COPPER")
  } yield s"$a $b $c"
  /** Days between 1992-01-01 and 1998-08-02, TPC-H's order-date range. */
  val DayRange = 2405

  final case class Sizes(orders: Int, customers: Int, parts: Int)

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: cols): _*), lit(Long.MaxValue))

  /** Write the six tables under `dir` (once per seed and size). */
  private def write(spark: SparkSession, dir: String, seed: Long, s: Sizes): Unit = {
    import spark.implicits._
    val id = col("id")
    Regions.zipWithIndex.map { case (n, k) => (k, n) }.toDF("r_regionkey", "r_name")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    Nations.zipWithIndex.map { case ((n, r), k) => (k, n, r) }.toDF("n_nationkey", "n_name", "n_regionkey")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/nation.parquet")
    spark.range(1, s.customers + 1L).select(id.as("c_custkey"),
      (h(seed, 1, id) % Nations.size).cast("int").as("c_nationkey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val brands = typedLit(Brands)
    val types = typedLit(Types)
    spark.range(1, s.parts + 1L).select(id.as("p_partkey"),
      element_at(brands, (h(seed, 2, id) % Brands.size).cast("int") + 1).as("p_brand"),
      element_at(types, (h(seed, 3, id) % Types.size).cast("int") + 1).as("p_type"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/part.parquet")
    spark.range(1, s.orders + 1L).select(id.as("o_orderkey"),
      (h(seed, 4, id) % s.customers + 1).as("o_custkey"),
      to_timestamp(date_add(lit("1992-01-01").cast("date"),
        (h(seed, 5, id) % DayRange).cast("int"))).as("o_orderdate"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/orders.parquet")
    spark.range(1, s.orders + 1L)
      .select(id.as("l_orderkey"), explode(sequence(lit(1), (h(seed, 6, id) % 7 + 1).cast("int"))).as("ln"))
      .select(col("l_orderkey"),
        (h(seed, 7, col("l_orderkey"), col("ln")) % s.parts + 1).as("l_partkey"),
        ((h(seed, 8, col("l_orderkey"), col("ln")) % 50) + 1).cast("double").as("l_quantity"),
        ((h(seed, 9, col("l_orderkey"), col("ln")) % 9000000 + 90000) / 100.0).as("l_extendedprice"),
        ((h(seed, 10, col("l_orderkey"), col("ln")) % 11) / 100.0).as("l_discount"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  /** Line-level facts joined to every attribute the checks group by. */
  def lines(spark: SparkSession, dir: String): DataFrame = {
    def t(n: String) = spark.read.parquet(s"$dir/$n.parquet")
    t("lineitem")
      .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
      .join(t("customer"), col("o_custkey") === col("c_custkey"))
      .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t("part"), col("l_partkey") === col("p_partkey"))
      .select(col("n_name"), col("c_custkey"), col("p_partkey"), col("p_brand"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("day"),
        (col("l_quantity").cast("decimal(21,4)") * 10000).cast("long").as("qty"),
        (col("l_extendedprice").cast("decimal(21,4)") * 10000).cast("long").as("gross"),
        (col("l_extendedprice").cast("decimal(15,2)") * col("l_discount").cast("decimal(5,2)") * 10000)
          .cast("long").as("disc"))
  }

  /** Rollup table: (nation, month, brand) → (qty, gross, disc) in 1e-4. */
  final class Oracle(val cells: Map[(String, String, String), Array[Long]], val months: Vector[String]) {
    val years: Vector[String] = months.map(_.take(4)).distinct.sorted
    private val byNation = cells.groupBy(_._1._1)

    def nationsOf(geo: String): Seq[String] =
      if (geo == "World") Nations.map(_._1)
      else Regions.indexOf(geo) match {
        case -1 => Seq(geo)
        case r => Nations.filter(_._2 == r).map(_._1)
      }
    def monthsOf(cal: String): Seq[String] =
      if (cal == "AllTime") months
      else if (cal.length == 4) months.filter(_.startsWith(cal))
      else Seq(cal)
    def brandsOf(p: String): Seq[String] = if (p == "AllBrands") Brands else Seq(p)

    /** (qty, gross, disc) under a (geo, calendar, product) address. */
    def sums(geo: String, cal: String, prod: String): Array[Long] = {
      val out = new Array[Long](3)
      val ms = monthsOf(cal).toSet
      val bs = brandsOf(prod).toSet
      nationsOf(geo).foreach { n =>
        byNation.getOrElse(n, Map.empty).foreach { case ((_, m, b), v) =>
          if (ms.contains(m) && bs.contains(b)) { out(0) += v(0); out(1) += v(1); out(2) += v(2) }
        }
      }
      out
    }

    /** The value a cell read returns: None for an empty stored measure. */
    def value(geo: String, cal: String, prod: String, measure: String): Option[BigDecimal] = {
      val s = sums(geo, cal, prod)
      def dec(x: Long) = BigDecimal(x) / 10000
      if (s(1) == 0 && s(0) == 0) None
      else measure match {
        case "quantity" => Some(dec(s(0)))
        case "gross" => Some(dec(s(1)))
        case "disc_amt" => Some(dec(s(2)))
        case "net" => Some(dec(s(1) - s(2)))
        case other => throw new IllegalArgumentException(s"not a stored measure: $other")
      }
    }

    /** margin = net / gross, as the engine's rule computes it over the
      * double values of net and gross. */
    def margin(geo: String, cal: String, prod: String): Option[Double] = {
      val s = sums(geo, cal, prod)
      if (s(1) == 0) None
      else Some((BigDecimal(s(1) - s(2)) / 10000).toDouble / (BigDecimal(s(1)) / 10000).toDouble)
    }
  }

  /** Write the tables and the two expected-value tables (plain Spark SQL
    * over the parquet, saved as tab-separated text so later runs read them
    * without a Spark job) once per checkout. */
  def prepare(spark: SparkSession, dir: String, seed: Long, s: Sizes): Unit = {
    if (new java.io.File(s"$dir/_done").exists()) return
    write(spark, dir, seed, s)
    val l = lines(spark, dir)
    def save(df: DataFrame, name: String): Unit = {
      val w = new java.io.PrintWriter(s"$dir/$name.tsv", "UTF-8")
      try df.collect().foreach(r => w.println(r.toSeq.mkString("\t"))) finally w.close()
    }
    save(l.groupBy(col("n_name"), substring(col("day"), 1, 7).as("month"), col("p_brand"))
      .agg(sum("qty"), sum("gross"), sum("disc")), "expected_rollup")
    save(l.groupBy(col("c_custkey"), col("day"), col("p_partkey"))
      .agg(sum("qty"), sum("gross"), sum("disc")), "expected_base")
    new java.io.File(s"$dir/_done").createNewFile()
  }

  private def readTsv(path: String): Vector[Array[String]] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.split('\t')).toVector finally src.close()
  }

  def oracle(dir: String): Oracle = {
    val cells = readTsv(s"$dir/expected_rollup.tsv").map(r =>
      (r(0), r(1), r(2)) -> Array(r(3).toLong, r(4).toLong, r(5).toLong)).toMap
    new Oracle(cells, cells.keys.map(_._2).toVector.distinct.sorted)
  }

  /** Every stored base cell: (customer, day, part) → sums, in a stable order. */
  def baseCells(dir: String): Vector[((Long, String, Long), Array[Long])] =
    readTsv(s"$dir/expected_base.tsv")
      .map(r => (r(0).toLong, r(1), r(2).toLong) -> Array(r(3).toLong, r(4).toLong, r(5).toLong))
      .sortBy(_._1)

  /** Content hash of every table, for the determinism self-test. */
  def fingerprint(spark: SparkSession, dir: String): Map[String, String] =
    Seq("region", "nation", "customer", "part", "orders", "lineitem").map { t =>
      val df = spark.read.parquet(s"$dir/$t.parquet")
      val r = df.agg(count(lit(1)), sum(pmod(xxhash64(df.columns.map(col).toIndexedSeq: _*), lit(1000000007L)))).collect().head
      t -> s"${r.getLong(0)}:${r.get(1)}"
    }.toMap
}
