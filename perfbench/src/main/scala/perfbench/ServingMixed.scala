package perfbench

import graft.server.RestServer
import graft.tpch.TpchModel
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** A planning app against the REST server: 4 clients in a closed loop over
  * loopback HTTP, no think time, on the TPC-H-shaped cube with the result
  * cache on and no point index (the server's defaults). Writes go to the
  * `plan` measure, which no read in the mix aggregates, so every read has
  * one right answer while writes still clear the cache, take the exclusive
  * lock and grow the overlay every read merges.
  */
final class ServingMixed(seed: Long) extends Workload {
  import ServingMixed._
  val name = "serving_mixed"
  private val Clients = 4
  private val PoolPerClient = 32
  private val AggPool = 3000
  private val BatchSize = 1000
  private val Cycle = Vector("agg_read", "base_read", "agg_read", "write", "agg_read",
    "view", "agg_read", "base_read", "agg_read", "batch_read", "agg_read", "write",
    "base_read", "agg_read", "query", "agg_read", "view", "base_read", "write", "agg_read")
  private val Mix = Cycle.groupBy(identity).map { case (k, v) => k -> v.size * 100 / Cycle.size }

  private var dir: String = _
  private var oracle: TpchData.Oracle = _
  private var base: Vector[(Seq[String], BigDecimal)] = _
  private var aggAddrs: Vector[Seq[String]] = _
  private var zipfCdf: Array[Double] = _
  private var views: Vector[(String, Map[(String, String), Option[Double]])] = _
  private var queries: Vector[(String, Map[Seq[String], Either[BigDecimal, Double]])] = _
  private var pools: Vector[Vector[Seq[String]]] = _
  /** Last value written to each pool cell (per client, so no sharing). */
  private var last: Vector[scala.collection.mutable.HashMap[Seq[String], BigDecimal]] = _
  private var model: TpchModel = _
  private var server: RestServer = _
  private var setups = 0
  private val rnd = new scala.util.Random(seed ^ 0x5345525645L)

  def describe: Map[String, Any] = Map(
    "why" -> "what a planning app does: cached and uncached reads, views and queries beside writes that clear the cache and take the write lock",
    "data" -> Map("orders" -> Size.orders, "customers" -> Size.customers, "parts" -> Size.parts),
    "loop" -> s"closed, $Clients HTTP clients over loopback, no think time",
    "op_mix_pct" -> Mix.toMap, "agg_address_pool" -> AggPool, "zipf_s" -> 1.0,
    "batch_addresses" -> BatchSize, "write_pool_per_client" -> PoolPerClient,
    "result_cache" -> true, "point_index" -> false,
    "session" -> "local[nproc], the build's javaOptions, shuffle partitions = nproc")

  override def singleCaller: Boolean = false
  /** Long enough for the JIT to compile the planner's hot paths. */
  def warmupSeconds: Double = 6.0

  override def prepare(ctx: Ctx): Unit = prepareIn(ctx, s"${ctx.args.outDir}/data/tpch-$DataSeed")

  private def prepareIn(ctx: Ctx, dataDir: String): Unit = {
    val spark = ctx.spark
    dir = dataDir
    TpchData.prepare(spark, dir, DataSeed, Size)
    oracle = TpchData.oracle(dir)
    val measures = Vector("quantity", "gross", "disc_amt")
    base = rnd.shuffle(TpchData.baseCells(dir)).take(4000).map { case ((c, d, p), v) =>
      val m = rnd.nextInt(3)
      (Seq(s"C#$c", d, s"P#$p", measures(m)), BigDecimal(v(m)) / 10000)
    }
    // rollup addresses over geo × calendar × product levels; the measure
    // cycles with the Zipf rank, so a fifth of the reads at every rank
    // (whatever the seed) hit the rule-derived margin, which costs two rollups
    val geos = "World" +: (TpchData.Regions ++ TpchData.Nations.map(_._1))
    val cals = "AllTime" +: (oracle.years ++ oracle.months)
    val prods = "AllBrands" +: TpchData.Brands
    val meas = Vector("quantity", "gross", "disc_amt", "net", "margin")
    aggAddrs = Iterator.continually(Seq(geos(rnd.nextInt(geos.size)), cals(rnd.nextInt(cals.size)),
      prods(rnd.nextInt(prods.size)))).distinct.take(AggPool).zipWithIndex
      .map { case (a, i) => a :+ meas(i % meas.size) }.toVector
    val w = (1 to AggPool).map(r => 1.0 / r)
    zipfCdf = w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    // the two view shapes and the two query forms alternate, and clients
    // walk the lists in order, so every run renders the same mix of shapes
    views = Vector.tabulate(16)(i => makeView(i % 2 == 0))
    queries = Vector.tabulate(16)(i => makeQuery(i % 2 == 0))
    // plan cells at a customer, an order day and a part of the catalogs
    val days = base.map(_._1(1)).distinct
    val cells = Iterator.continually(Seq(s"C#${1 + rnd.nextInt(Size.customers)}",
      days(rnd.nextInt(days.size)), s"P#${1 + rnd.nextInt(Size.parts)}", "plan"))
      .distinct.take(Clients * PoolPerClient).toVector
    pools = cells.grouped(PoolPerClient).toVector
  }

  private def expectCell(a: Seq[String]): Option[Double] =
    if (a(3) == "margin") oracle.margin(a(0), a(1), a(2))
    else oracle.value(a(0), a(1), a(2), a(3)).map(_.toDouble)

  private def makeView(byRegion: Boolean): (String, Map[(String, String), Option[Double]]) = {
    val meas = Seq("quantity", "gross", "disc_amt", "net", "margin")
    if (byRegion) {
      val year = oracle.years(rnd.nextInt(oracle.years.size))
      val prod = if (rnd.nextBoolean()) "AllBrands" else TpchData.Brands(rnd.nextInt(TpchData.Brands.size))
      val dfn = viewJson(Seq("calendar" -> year, "product" -> prod), "geo" -> TpchData.Regions,
        "measures" -> meas)
      dfn -> (for (r <- TpchData.Regions; m <- meas) yield (r, m) -> expectCell(Seq(r, year, prod, m))).toMap
    } else {
      val region = TpchData.Regions(rnd.nextInt(TpchData.Regions.size))
      val m = if (rnd.nextBoolean()) "gross" else "net"
      val nations = oracle.nationsOf(region)
      val dfn = viewJson(Seq("measures" -> m, "product" -> "AllBrands"), "geo" -> nations,
        "calendar" -> oracle.years)
      dfn -> (for (n <- nations; y <- oracle.years) yield (n, y) -> expectCell(Seq(n, y, "AllBrands", m))).toMap
    }
  }

  private def makeQuery(subset: Boolean): (String, Map[Seq[String], Either[BigDecimal, Double]]) = {
    val regions = rnd.shuffle(TpchData.Regions).take(2)
    val cals = if (subset) (1 to 6).map(m => f"1995-$m%02d") else oracle.years.take(1 + rnd.nextInt(3))
    val brand = TpchData.Brands(rnd.nextInt(TpchData.Brands.size))
    val meas = Seq("gross", "net", "margin")
    def q(xs: Seq[String]) = xs.map(x => s"'$x'").mkString("(", ",", ")")
    val sql = s"SELECT geo, calendar, measures, value FROM sales WHERE geo=${q(regions)}, " +
      s"calendar=${if (subset) "h1_1995" else q(cals)}, product='$brand', measures=${q(meas)}"
    val exp = for (g <- regions; c <- cals; m <- meas) yield {
      val v: Option[Either[BigDecimal, Double]] =
        if (m == "margin") oracle.margin(g, c, brand).map(Right(_))
        else oracle.value(g, c, brand, m).map(Left(_))
      v.map(x => Seq(g, c, m) -> x)
    }
    sql -> exp.flatten.toMap
  }

  def setup(ctx: Ctx): Map[String, Double] = {
    Option(server).foreach(_.stop())
    server = null
    ctx.spark.catalog.clearCache()
    setups += 1
    // TpchModel memoizes per directory string: a fresh spelling of the same
    // directory builds the model again. The memo keeps every model it built,
    // so only the first set-up runs before the ops (see Workload).
    val t0 = System.nanoTime()
    val m = TpchModel.get(ctx.spark, dir + "/." * setups)
    val t1 = System.nanoTime()
    val phases = TpchModel.lastBuildPhases
    last = pools.map { p =>
      val h = scala.collection.mutable.HashMap[Seq[String], BigDecimal]()
      p.foreach { a => val v = BigDecimal(1 + rnd.nextInt(99999)) / 100; m.cube.set(a, v.toDouble); h(a) = v }
      h
    }
    val t2 = System.nanoTime()
    server = new RestServer(Seq(m.db)).start()
    model = m
    Map("model_build_s" -> (t1 - t0) / 1e9, "prefill_s" -> (t2 - t1) / 1e9,
      "server_start_s" -> (System.nanoTime() - t2) / 1e9) ++
      phases.map { case (k, v) => s"model_build.$k" -> v }
  }

  override def counters: Map[String, Double] = {
    val c = model.cube
    Map("cell_requests" -> c.counterCellRequests.toDouble, "rule_requests" -> c.counterRuleRequests.toDouble,
      "aggregations" -> c.counterAggregations.toDouble, "cache_hits" -> c.counterCacheHits.toDouble,
      "weighted_aggregations" -> c.counterWeightedAggregations.toDouble)
  }

  def run(ctx: Ctx, deadlineNs: Long): Unit = {
    val port = server.boundPort
    val threads = (0 until Clients).map { k =>
      val t = new Thread(() => new Client(ctx, k, port, rnd.nextLong()).loop(deadlineNs), s"client-$k")
      t.start(); t
    }
    threads.foreach(_.join())
  }

  private final class Client(ctx: Ctx, k: Int, port: Int, clientSeed: Long) {
    private val r = new scala.util.Random(clientSeed)
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private val pool = pools(k)
    private val mine = last(k)
    private val url = s"http://127.0.0.1:$port"

    private def send(req: HttpRequest.Builder): JValue = {
      val resp = ctx.span("server", "http")(http.send(req.build(), HttpResponse.BodyHandlers.ofString()))
      if (resp.statusCode() / 100 != 2) throw new RuntimeException(s"HTTP ${resp.statusCode()}: ${resp.body().take(200)}")
      JsonMethods.parse(resp.body())
    }
    private def get(path: String) = send(HttpRequest.newBuilder(URI.create(url + path)).GET())
    private def post(path: String, body: String) =
      send(HttpRequest.newBuilder(URI.create(url + path)).POST(HttpRequest.BodyPublishers.ofString(body)))
    private def put(path: String, body: String) =
      send(HttpRequest.newBuilder(URI.create(url + path)).PUT(HttpRequest.BodyPublishers.ofString(body)))

    private def cellPath(a: Seq[String]) =
      "/cells/tpch/sales?address=" + java.net.URLEncoder.encode(a.mkString(","), "UTF-8")

    /** The op mix as a fixed cycle of 20 ops (9 agg reads, 4 base reads, 3
      * writes, 1 batch, 2 views, 1 query); each client starts at its own
      * offset, so any stretch of a run has close to the exact mix. */
    private var at = k * Cycle.size / Clients
    private def nextKind(): String = { at += 1; Cycle(at % Cycle.size) }
    private var nextView = k
    private var nextQuery = k

    def loop(deadlineNs: Long): Unit =
      while (System.nanoTime() < deadlineNs) {
        nextKind() match {
          case kind @ "agg_read" =>
            val u = r.nextDouble()
            val i = java.util.Arrays.binarySearch(zipfCdf, u) match { case x if x >= 0 => x; case x => -x - 1 }
            val a = aggAddrs(math.min(i, aggAddrs.size - 1))
            ctx.op(kind) {
              val got = numOf(get(cellPath(a)) \ "value")
              val exp = ctx.expectOpt(expectCell(a))
              ctx.check("serving.agg_read", got == exp, s"$a: got $got, expected $exp")
            }
          case kind @ "base_read" =>
            val (a, exp0) =
              if (r.nextInt(4) == 0) { val a = pool(r.nextInt(pool.size)); (a, mine(a)) }
              else base(r.nextInt(base.size))
            ctx.op(kind) {
              val got = numOf(get(cellPath(a)) \ "value")
              val exp = Some(ctx.expect(exp0.toDouble))
              ctx.check("serving.base_read", got == exp, s"$a: got $got, expected $exp")
            }
          case kind @ "write" =>
            val a = pool(r.nextInt(pool.size))
            val v = BigDecimal(1 + r.nextInt(99999)) / 100
            ctx.op(kind) {
              put("/cells/tpch/sales", JsonMethods.compact(JsonMethods.render(
                JObject("address" -> JArray(a.map(JString(_)).toList), "value" -> JDouble(v.toDouble)))))
              mine(a) = v
              true
            }
          case kind @ "batch_read" =>
            // distinct addresses, as a report grid's cells are: the batch
            // route sums an address once per time it is listed
            val picks = r.shuffle(base).take(BatchSize)
            ctx.op(kind) {
              val body = JsonMethods.compact(JsonMethods.render(JObject("addresses" ->
                JArray(picks.map(p => JArray(p._1.map(JString(_)).toList)).toList))))
              val cells = (post("/cells/tpch/sales/batch", body) \ "cells").children
              val bad = cells.zip(picks).find { case (c, (a, v)) =>
                !numOf(c \ "value").contains(ctx.expect(v.toDouble)) ||
                  (c \ "address").children.map { case JString(s) => s; case o => o.toString } != a
              }
              ctx.check("serving.batch_read", cells.size == picks.size && bad.isEmpty,
                s"${cells.size} cells; first mismatch ${bad.map { case (c, p) =>
                  JsonMethods.compact(JsonMethods.render(c)) + " vs " + p }}")
            }
          case kind @ "view" =>
            val (dfn, exp) = views(nextView % views.size)
            nextView += 1
            ctx.op(kind) {
              val grid = post("/views/tpch/sales?format=json", dfn)
              val got = grid.children.flatMap { row =>
                val fields = row.asInstanceOf[JObject].obj
                val key = fields.head._2 match { case JString(s) => s; case o => o.toString }
                fields.tail.flatMap { case (c, v) => numOf(v).map(x => (key, c) -> x) }
              }.toMap
              val want = exp.collect { case (k, Some(v)) => k -> ctx.expect(v) }
              ctx.check("serving.view", got == want, s"view $dfn: ${diff(got, want)}")
            }
          case kind @ "query" =>
            val (sql, exp) = queries(nextQuery % queries.size)
            nextQuery += 1
            ctx.op(kind) {
              val rows = (post("/query/tpch", sql) \ "rows").children
              val got = rows.map { row =>
                def s(f: String) = (row \ f) match { case JString(x) => x; case o => o.toString }
                Seq(s("geo"), s("calendar"), s("measures")) -> (row \ "value")
              }.toMap
              val ok = got.keySet == exp.keySet && exp.forall { case (key, e) =>
                (e, got(key)) match {
                  case (Left(d), JString(x)) => BigDecimal(x) == ctx.expect(d)
                  case (Left(d), JDouble(x)) => x == ctx.expect(d.toDouble)
                  case (Right(d), v) => numOf(v).contains(ctx.expect(d))
                  case _ => false
                }
              }
              ctx.check("serving.query", ok, s"$sql: ${got.size} rows, ${exp.size} expected")
            }
        }
      }
  }

  def verify(ctx: Ctx): Unit = {
    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val url = s"http://127.0.0.1:${server.boundPort}"
    def call(req: HttpRequest.Builder): JValue =
      JsonMethods.parse(http.send(req.build(), HttpResponse.BodyHandlers.ofString()).body())
    // every written cell reads back its last value (one batched read)
    val written = last.flatMap(_.toSeq)
    val body = JsonMethods.compact(JsonMethods.render(JObject("addresses" ->
      JArray(written.map(w => JArray(w._1.map(JString(_)).toList)).toList))))
    val cells = (call(HttpRequest.newBuilder(URI.create(s"$url/cells/tpch/sales/batch"))
      .POST(HttpRequest.BodyPublishers.ofString(body))) \ "cells").children
    written.zip(cells).foreach { case ((a, v), c) =>
      val got = numOf(c \ "value")
      ctx.check("serving.final_cell", got.contains(ctx.expect(v.toDouble)), s"$a: $got, last written $v")
    }
    ctx.check("serving.final_cell_count", cells.size == ctx.expect(written.size.toLong),
      s"${cells.size} cells for ${written.size} written")
    // the plan total is the sum of the last values, exact at decimal(21,4)
    val total = ctx.expect(written.map(_._2).sum)
    val got = numOf(call(HttpRequest.newBuilder(URI.create(url + "/cells/tpch/sales?address=" +
      java.net.URLEncoder.encode("World,AllTime,AllBrands,plan", "UTF-8"))).GET()) \ "value")
    ctx.check("serving.final_total", got.contains(total.toDouble), s"plan total $got, expected $total")
  }

  override def close(): Unit = Option(server).foreach(_.stop())

  def inputFingerprint(ctx: Ctx): Map[String, String] = {
    // generate afresh (a normal run reuses the tables of an earlier run)
    val fresh = new java.io.File(s"${ctx.args.outDir}/selftest/tpch-$DataSeed")
    org.apache.commons.io.FileUtils.deleteDirectory(fresh)
    prepareIn(ctx, fresh.getPath)
    TpchData.fingerprint(ctx.spark, dir) ++ Map(
      "agg_addresses" -> aggAddrs.hashCode.toString, "base_cells" -> base.map(_._1).hashCode.toString,
      "views" -> views.map(_._1).hashCode.toString, "queries" -> queries.map(_._1).hashCode.toString,
      "pools" -> pools.hashCode.toString, "client_seed" -> rnd.nextLong().toString)
  }
}

object ServingMixed {
  /** The tables are the same for every run seed (generated once per
    * checkout); the seed drives every address, value and op choice. */
  val DataSeed = 1L
  val Size: TpchData.Sizes = TpchData.Sizes(orders = 4000, customers = 400, parts = 500)

  def numOf(v: JValue): Option[Double] = v match {
    case JDouble(d) => Some(d)
    case JInt(i) => Some(i.toDouble)
    case JLong(l) => Some(l.toDouble)
    case JDecimal(d) => Some(d.toDouble)
    case JString(s) => scala.util.Try(s.toDouble).toOption
    case _ => None
  }

  def viewJson(filters: Seq[(String, String)], rows: (String, Seq[String]), cols: (String, Seq[String])): String = {
    def axis(a: (String, Seq[String])) = JArray(List(JObject("dimension" -> JString(a._1),
      "members" -> JArray(a._2.map(JString(_)).toList))))
    JsonMethods.compact(JsonMethods.render(JObject(
      "filters" -> JArray(filters.map { case (d, m) => JObject("dimension" -> JString(d), "member" -> JString(m)) }.toList),
      "rows" -> axis(rows), "columns" -> axis(cols), "zeroSuppression" -> JBool(false))))
  }

  def diff[K, V](got: Map[K, V], want: Map[K, V]): String = {
    val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k)).take(3)
    bad.map(k => s"$k got ${got.get(k)} want ${want.get(k)}").mkString("; ")
  }
}
