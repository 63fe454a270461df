package graft

import graft.olap.{AxisDef, ViewDef}
import graft.server.RestServer
import org.scalatest.funsuite.AnyFunSuite

/** The thin HTTP layer (≙ reference `api/rest`): real requests through
  * `java.net.http.HttpClient` against an ephemeral-port server over the
  * tiny model — catalogs, addressed cell read/write, view rendering in
  * all three formats, the dialect query route, and the reference's
  * status mapping (404 unknown entity, 400 invalid writeback).
  */
class RestServerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val db = TinyModel.build(spark)
  private lazy val server = new RestServer(Seq(db)).start()
  private lazy val base = s"http://127.0.0.1:${server.boundPort}"
  private val client = java.net.http.HttpClient.newHttpClient()

  private def req(b: java.net.http.HttpRequest.Builder) =
    client.send(b.build(), java.net.http.HttpResponse.BodyHandlers.ofString())
  private def get(path: String) =
    req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path)))
  private def put(path: String, body: String) =
    req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body)))
  private def post(path: String, body: String) =
    req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))

  test("index and database catalogs") {
    val root = get("/")
    assert(root.statusCode() == 200 && root.body().contains("graft OLAP API"))
    val dbs = get("/databases")
    assert(dbs.statusCode() == 200 && dbs.body().contains("\"tiny\""))
    val short = get("/databases/tiny")
    assert(short.statusCode() == 200)
    assert(short.body().contains("\"sales\"") &&
      short.body().contains("cells_count"))
    val full = get("/databases/tiny/catalog")
    assert(full.statusCode() == 200)
    assert(full.body().contains("\"members\"") &&
      full.body().contains("\"North\""), "full catalog carries members")
    assert(get("/databases/nope").statusCode() == 404)
  }

  test("addressed cell read and write through HTTP match the cube API") {
    // an empty cell reads as an explicit null value, not a missing field
    val empty = get("/cells/tiny/sales?address=2023,Dec,East,van,Cost")
    assert(empty.statusCode() == 200)
    assert(empty.body().contains("\"value\":null"), empty.body())
    // write via HTTP, read back through BOTH faces
    val w = put("/cells/tiny/sales",
      """{"address":["2022","Feb","South","sedan","Sales"],"value":777.5}""")
    assert(w.statusCode() == 200, w.body())
    assert(db.cube("sales").get(Seq("2022", "Feb", "South", "sedan", "Sales"))
      .contains(777.5))
    val rb = get("/cells/tiny/sales?address=2022,Feb,South,sedan,Sales")
    assert(rb.body().contains("777.5"))
    // an aggregate read rolls up what the write landed
    val agg = get("/cells/tiny/sales?address=All%20years,Year,Total,Total,Sales")
    assert(agg.statusCode() == 200 && agg.body().contains("777.5"), agg.body())
    // the reference's status mapping: aggregated writeback is invalid (400)
    val bad = put("/cells/tiny/sales",
      """{"address":["All years","Jan","North","motorcycles","Sales"],"value":1.0}""")
    assert(bad.statusCode() == 400, s"${bad.statusCode()}: ${bad.body()}")
    assert(get("/cells/tiny/nocube?address=a").statusCode() == 404)
    assert(get("/cells/tiny/sales").statusCode() == 400, "missing address")
  }

  test("ad-hoc and named view rendering in json/html/csv") {
    // seed the slice the view shows (the fixture cube starts empty)
    db.cube("sales").set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 42.0)
    val dfn = ViewDef(
      filters = Seq("measures" -> "Sales", "years" -> "2021"),
      rows = AxisDef(Seq("regions" -> Seq("North", "South"))),
      cols = AxisDef(Seq("months" -> Seq("Jan", "Feb"))))
    val body = ViewDef.toJson(dfn)
    val viaHttp = post("/views/tiny/sales", body)
    assert(viaHttp.statusCode() == 200, viaHttp.body())
    val direct = new graft.olap.View(db.cube("sales"), dfn).toJson()
    assert(viaHttp.body() == direct, "HTTP render must equal the direct render")
    val html = post("/views/tiny/sales?format=html", body)
    assert(html.statusCode() == 200 && html.body().contains("<table"))
    val csv = post("/views/tiny/sales?format=csv", body)
    assert(csv.statusCode() == 200 && csv.body().contains("North"))
    assert(post("/views/tiny/sales?format=nope", body).statusCode() == 400)
    // named view registry
    db.cube("sales").views.define("quarterly", dfn)
    val named = get("/views/tiny/sales/quarterly")
    assert(named.statusCode() == 200 && named.body() == direct)
    assert(get("/views/tiny/sales/missing").statusCode() == 404)
  }

  test("batched cell reads: one job for base addresses, rollups included") {
    db.cube("sales").set(Seq("2023", "Jun", "East", "van", "Cost"), 5.5)
    val body = """{"addresses":[
        ["2022","Feb","South","sedan","Sales"],
        ["2023","Jun","East","van","Cost"],
        ["2023","Dec","West","coupe","Cost"],
        ["All years","Year","Total","Total","Cost"]]}"""
    val r = post("/cells/tiny/sales/batch", body)
    assert(r.statusCode() == 200, r.body())
    val parsed = org.json4s.jackson.JsonMethods.parse(r.body())
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val cells = (parsed \ "cells").extract[List[org.json4s.JValue]]
    assert(cells.size == 4)
    def valueOf(i: Int): Option[Double] =
      (cells(i) \ "value").extractOpt[Double]
    assert(valueOf(0).contains(777.5), "base cell written earlier over HTTP")
    assert(valueOf(1).contains(5.5), "overlay point write visible in the batch job")
    assert(valueOf(2).isEmpty, "empty base cell is null")
    assert(valueOf(3).contains(5.5), "aggregated address rolls up")
    // unknown member -> 404; oversize -> 400
    assert(post("/cells/tiny/sales/batch",
      """{"addresses":[["nope","Jan","North","sedan","Sales"]]}""")
      .statusCode() == 404)
    assert(post("/cells/tiny/sales/batch", """{"addresses":[]}""")
      .statusCode() == 400)
  }

  test("batched cell reads: a repeated address reads its value at every listing") {
    db.cube("sales").set(Seq("2023", "Jul", "South", "van", "Cost"), 47.0)
    val cell = """["2023","Jul","South","van","Cost"]"""
    val rollup = """["2023","Q3","South","van","Cost"]"""
    val r = post("/cells/tiny/sales/batch",
      s"""{"addresses":[$cell,$rollup,$cell,$cell,$rollup]}""")
    assert(r.statusCode() == 200, r.body())
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val cells = (org.json4s.jackson.JsonMethods.parse(r.body()) \ "cells")
      .extract[List[org.json4s.JValue]]
    val q3 = db.cube("sales").get(Seq("2023", "Q3", "South", "van", "Cost"))
    assert(q3.exists(_ >= 47.0))
    assert(cells.map(c => (c \ "value").extractOpt[Double]) ==
      List(Some(47.0), q3, Some(47.0), Some(47.0), q3),
      "each listing reads the cell once, not once per repetition")
  }

  test("dialect query route returns rows as JSON records") {
    val sql = "SELECT * FROM sales WHERE '2021', 'Jan', North, 'motorcycles', 'Sales'"
    val r = post("/query/tiny", sql)
    assert(r.statusCode() == 200, r.body())
    assert(r.body().contains("\"rows\""))
    assert(post("/query/tiny", "").statusCode() == 400)
    assert(post("/query/nope", sql).statusCode() == 404)
  }

  test("query route caps and pages instead of materializing the grid (r13 #2)") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods.parse
    // empty addresses drop out of the grid — seed four non-empty rows
    Seq("Jan", "Feb", "Mar", "Apr").zipWithIndex.foreach { case (m, i) =>
      db.cube("sales").set(Seq("2023", m, "North", "sedan", "Sales"), 10.0 + i)
    }
    val sql = "SELECT months, value FROM sales WHERE '2023', " +
      "months=('Jan','Feb','Mar','Apr'), regions='Total', products='Total', 'Sales'"
    // a page smaller than the grid is cut and says so
    val p1 = post("/query/tiny?limit=3", sql)
    assert(p1.statusCode() == 200, p1.body())
    val j1 = parse(p1.body())
    assert((j1 \ "rows").extract[List[org.json4s.JValue]].size == 3)
    assert((j1 \ "truncated").extract[Boolean])
    assert((j1 \ "next_offset").extract[Int] == 3)
    // paging with limit/offset is disjoint and exhaustive: the union of all
    // pages equals the unpaged result
    def months(body: String): List[String] =
      (parse(body) \ "rows").extract[List[org.json4s.JValue]]
        .map(r => (r \ "months").extract[String])
    val all = months(post("/query/tiny", sql).body())
    assert(all.size == 4)
    val paged = (0 until 4 by 2).flatMap { off =>
      val p = post(s"/query/tiny?limit=2&offset=$off", sql)
      assert(p.statusCode() == 200, p.body())
      months(p.body())
    }
    assert(paged.toSet == all.toSet && paged.size == 4,
      s"pages must partition the grid: $paged vs $all")
    // the last page is not truncated
    val last = parse(post("/query/tiny?limit=2&offset=2", sql).body())
    assert(!(last \ "truncated").extract[Boolean])
    // over-cap and malformed params are refused, never materialized
    assert(post("/query/tiny?limit=20000", sql).statusCode() == 400)
    assert(post("/query/tiny?limit=0", sql).statusCode() == 400)
    assert(post("/query/tiny?offset=-1", sql).statusCode() == 400)
    assert(post("/query/tiny?limit=abc", sql).statusCode() == 400)
  }

  test("the control plane composes with at-rest encryption (r14 verdict #6)") {
    import graft.core.{Crypto, Database}
    // an AES-encrypted store, mounted through Database.load — the server
    // serves catalogs, cells and dialect queries while every fact read
    // decrypts in-executor through the loaded frames' options
    val src = TinyModel.build(spark)
    src.cube("sales").set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 41.0)
    src.cube("sales").set(Seq("2021", "Feb", "North", "motorcycles", "Sales"), 1.0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rest_enc").toString
    val pw = new Crypto.AesGcm("rest secret")
    src.save(dir, pw)
    val mounted = Database.load(dir, spark, pw)
    val encServer = new RestServer(Seq(mounted)).start()
    try {
      val encBase = s"http://127.0.0.1:${encServer.boundPort}"
      def encGet(path: String) = req(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(encBase + path)))
      def encPost(path: String, body: String) =
        req(java.net.http.HttpRequest.newBuilder(java.net.URI.create(encBase + path))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))
      val cell = encGet("/cells/tiny/sales?address=2021,Year,North,motorcycles,Sales")
      assert(cell.statusCode() == 200 && cell.body().contains("42"), cell.body())
      val q = encPost("/query/tiny",
        "SELECT months, value FROM sales WHERE '2021', months=('Jan','Feb'), " +
          "regions='North', products='motorcycles', 'Sales'")
      assert(q.statusCode() == 200 && q.body().contains("41"), q.body())
    } finally encServer.stop()
    // a WRONG password can never reach a serving state: the AES tier fails
    // LOUDLY at load (GCM tag on the metadata) before a server exists…
    intercept[IllegalArgumentException] {
      new RestServer(Seq(Database.load(dir, spark, new Crypto.AesGcm("wrong")))).start()
    }
    // …and the integrity-less Obfuscator tier fails at the metadata PARSE
    // (garbage JSON), not by mounting a garbage model — no route ever
    // serves silently-wrong numbers under a wrong password
    val obfDir = java.nio.file.Files.createTempDirectory("graft_rest_obf").toString
    src.save(obfDir, new Crypto.Obfuscator("right"))
    intercept[Exception] {
      new RestServer(Seq(Database.load(obfDir, spark,
        new Crypto.Obfuscator("wrong")))).start()
    }
  }

  test("?asOfGeneration= on the cell route serves the z-store snapshot (r16)") {
    // a dedicated database+server: the z-store compaction swaps the cube's
    // backing and must not leak into the shared fixture's tests
    val db2 = TinyModel.build(spark)
    val c = db2.cube("sales")
    c.set(Seq("2021", "Jan", "North", "motorcycles", "Sales"), 100.0)
    val dir = java.nio.file.Files.createTempDirectory("rest_ztt").toString
    assert(c.compactToZorderedStore(dir, Seq(0, 1), files = 2))
    // generation 2: the same address replaced by a bulk append
    val batch = spark.createDataFrame(Seq(
      (c.dimensions(0).idOf("2021"), c.dimensions(1).idOf("Jan"),
        c.dimensions(2).idOf("North"), c.dimensions(3).idOf("motorcycles"),
        c.dimensions(4).idOf("Sales"), 250.0)))
      .toDF("d0", "d1", "d2", "d3", "d4", "value")
    c.appendZorderedStore(batch)
    val srv = new RestServer(Seq(db2)).start()
    try {
      val b2 = s"http://127.0.0.1:${srv.boundPort}"
      def get2(p: String) = req(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(b2 + p)))
      val addr = "address=2021,Jan,North,motorcycles,Sales"
      val live = get2(s"/cells/tiny/sales?$addr")
      assert(live.statusCode() == 200 && live.body().contains("250"),
        s"live read must see the appended value: ${live.body()}")
      val asof = get2(s"/cells/tiny/sales?$addr&asOfGeneration=1")
      assert(asof.statusCode() == 200 && asof.body().contains("100"),
        s"generation-1 snapshot must read the pre-append value: ${asof.body()}")
      // a generation below every retained manifest → 404; junk → 400
      assert(get2(s"/cells/tiny/sales?$addr&asOfGeneration=0").statusCode() == 404)
      assert(get2(s"/cells/tiny/sales?$addr&asOfGeneration=x").statusCode() == 400)
      // ---- r17: the SAME snapshot plumbing serves the view routes…
      def post2(p: String, body: String) = req(java.net.http.HttpRequest
        .newBuilder(java.net.URI.create(b2 + p))
        .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body)))
      val dfn = graft.olap.ViewDef(
        filters = Seq("measures" -> "Sales", "years" -> "2021"),
        rows = AxisDef(Seq("regions" -> Seq("North"))),
        cols = AxisDef(Seq("months" -> Seq("Jan"))))
      val vbody = graft.olap.ViewDef.toJson(dfn)
      val vLive = post2("/views/tiny/sales", vbody)
      assert(vLive.statusCode() == 200 && vLive.body().contains("250"),
        s"live view must show the appended value: ${vLive.body()}")
      val vAsof = post2("/views/tiny/sales?asOfGeneration=1", vbody)
      assert(vAsof.statusCode() == 200 && vAsof.body().contains("100") &&
        !vAsof.body().contains("250"),
        s"as-of view must render the generation-1 grid: ${vAsof.body()}")
      c.views.define("jan", dfn)
      val nAsof = get2("/views/tiny/sales/jan?asOfGeneration=1")
      assert(nAsof.statusCode() == 200 && nAsof.body().contains("100"),
        s"named as-of view: ${nAsof.body()}")
      assert(post2("/views/tiny/sales?asOfGeneration=x", vbody).statusCode() == 400)
      // ---- …and the dialect-query route
      val sql = "SELECT * FROM sales WHERE '2021', 'Jan', North, 'motorcycles', 'Sales'"
      val qLive = post2("/query/tiny", sql)
      assert(qLive.statusCode() == 200 && qLive.body().contains("250"),
        s"live query: ${qLive.body()}")
      val qAsof = post2("/query/tiny?asOfGeneration=1", sql)
      assert(qAsof.statusCode() == 200 && qAsof.body().contains("100") &&
        !qAsof.body().contains("250"), s"as-of query: ${qAsof.body()}")
      assert(post2("/query/tiny?asOfGeneration=0", sql).statusCode() == 404)
    } finally srv.stop()
    // the shared fixture's cube carries no z-store: as-of must 400, loudly
    val no = get("/cells/tiny/sales?address=2021,Jan,North,motorcycles,Sales&asOfGeneration=1")
    assert(no.statusCode() == 400, s"${no.statusCode()}: ${no.body()}")
  }
}
