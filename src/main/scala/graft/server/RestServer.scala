package graft.server

import graft.core.{Cube, Database}
import graft.olap.{OlapQuery, View, ViewDef, ViewWindow}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import java.util.concurrent.locks.ReentrantReadWriteLock
import org.apache.spark.sql.functions.{col, sum}
import org.json4s._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

/** Thin HTTP layer over [[graft.core.Database]] — the counterpart of the
  * reference's REST API (`/root/reference/api/rest/main.py:1-46`,
  * `routers/databases.py:15-58`, `routers/cells.py:25-59`,
  * `routers/views.py:24-115`), built on the JDK's own
  * `com.sun.net.httpserver` (no new dependency) with json4s-jackson for
  * bodies (already on the Spark classpath).
  *
  * Surface:
  *  - `GET  /`                               — HTML index (≙ root.py:13)
  *  - `GET  /databases`                      — database list
  *  - `GET  /databases/{db}`                 — short catalog (cubes + dims)
  *  - `GET  /databases/{db}/catalog`         — full catalog (members, rules)
  *  - `GET  /cells/{db}/{cube}?address=a,b`  — addressed cell read (the
  *    reference's demo route reads a RANDOM cell; this serves the real
  *    `{database, cube, members} → value` contract its `CellAddress`
  *    model declares)
  *  - `PUT  /cells/{db}/{cube}` body `{"address":[…],"value":v}` — write
  *  - `POST /cells/{db}/{cube}/batch` body `{"addresses":[[…],…]}` —
  *    batched reads: ONE Spark job resolves every distinct base-cell
  *    address (per-cell HTTP loops can never amortize the per-request
  *    floor); a repeated address reads its value at every listing
  *  - `POST /views/{db}/{cube}?format=json|html|csv[&top..right]` —
  *    render an ad-hoc [[ViewDef]] (JSON body, the persisted-view codec)
  *  - `GET  /views/{db}/{cube}/{name}?format=…` — render a NAMED view
  *    from the cube's registry
  *  - `POST /query/{db}[?limit=n&offset=n]` body = dialect SQL — run
  *    [[OlapQuery]], rows as JSON records, capped at
  *    [[RestServer.QueryRowCap]] rows per response with
  *    `truncated`/`next_offset` paging markers
  *  - `?asOfGeneration=g` on the cell (r16), view and dialect-query
  *    routes (r17): the read serves from the z-store snapshot at commit
  *    generation g ([[graft.core.Cube.snapshotAtGeneration]], read-only)
  *
  * Concurrency mirrors the reference's per-database read/write lock
  * (`dependencies.py` `gen_rlock`/`gen_wlock`): reads share, writes are
  * exclusive. SCALE: this is a driver-side CONTROL PLANE — every read
  * renders through the cube's one-job grid aggregation on the cluster;
  * the HTTP layer carries only the view-sized result, never fact data.
  * Status mapping follows the reference: 404 unknown entity, 400 invalid
  * request (e.g. aggregated-cell writeback), 500 otherwise.
  */
final class RestServer(databases: Seq[Database], port: Int = 0) {
  require(databases.nonEmpty, "RestServer needs at least one database")

  private val dbMap = databases.map(d => d.name.toLowerCase -> d).toMap
  private val locks = databases.map(d =>
    d.name.toLowerCase -> new ReentrantReadWriteLock()).toMap
  private val server = HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", port), 0)
  @volatile private var started = false

  /** 404-checked lookups. */
  private def db(name: String): Database =
    dbMap.getOrElse(name.toLowerCase, throw NotFound(s"database '$name' not found"))
  private def cubeOf(d: Database, name: String): Cube =
    if (d.cubeExists(name)) d.cube(name) else throw NotFound(s"cube '$name' not found")

  /** Resolve `?asOfGeneration=g` into a read-only z-store snapshot cube —
    * ONE plumbing shared by the cell, view and dialect-query routes
    * (round 17; the cell route introduced it in round 16). Absent param →
    * the live cube. Snapshot cubes register weakly with their dimensions,
    * so request-scoped snapshots stay collectible.
    */
  private def asOfCube(c: Cube, qp: Map[String, String]): Cube =
    qp.get("asOfGeneration") match {
      case Some(g) =>
        val gen = try g.toLong catch { case _: NumberFormatException =>
          throw BadRequest("asOfGeneration must be an integer") }
        try c.snapshotAtGeneration(gen) catch {
          case e: IllegalStateException => throw BadRequest(
            Option(e.getMessage).getOrElse("no z-store backing"))
          case e: NoSuchElementException => throw NotFound(
            Option(e.getMessage).getOrElse(s"generation $gen"))
        }
      case None => c
    }

  private case class NotFound(msg: String) extends RuntimeException(msg)
  private case class BadRequest(msg: String) extends RuntimeException(msg)

  private def withRead[A](d: Database)(body: => A): A = {
    val l = locks(d.name.toLowerCase).readLock(); l.lock()
    try body finally l.unlock()
  }
  private def withWrite[A](d: Database)(body: => A): A = {
    val l = locks(d.name.toLowerCase).writeLock(); l.lock()
    try body finally l.unlock()
  }

  // ---- JSON bodies -------------------------------------------------------

  private def shortCatalog(d: Database): JValue =
    "database" ->
      (("id" -> d.name) ~ ("caching" -> d.caching) ~
        ("cubes" -> d.cubes.map(c =>
          ("id" -> c.name) ~
            ("dimensions" -> c.dimensions.map(_.name)) ~
            ("cells_count" -> c.cellsCount))) ~
        ("dimensions" -> d.dimensions.map(dim =>
          ("id" -> dim.name) ~ ("members_count" -> dim.members.size))))

  private def fullCatalog(d: Database): JValue =
    "database" ->
      (("id" -> d.name) ~ ("caching" -> d.caching) ~
        ("cubes" -> d.cubes.map(c =>
          ("id" -> c.name) ~
            ("dimensions" -> c.dimensions.map(_.name)) ~
            ("cells_count" -> c.cellsCount) ~
            ("rules" -> c.rules.map(_.name).toList) ~
            ("views" -> c.views.names.toList))) ~
        ("dimensions" -> d.dimensions.map(dim =>
          ("id" -> dim.name) ~
            ("members" -> dim.members.toList.map(m =>
              ("name" -> m.name) ~ ("level" -> m.level))))))

  private def cellJson(dbName: String, cubeName: String, address: Seq[String],
      value: Option[Double]): JValue =
    ("db" -> dbName) ~ ("cube" -> cubeName) ~ ("address" -> address.toList) ~
      // explicit null for an empty cell (json4s would drop a None field,
      // and an absent key reads as a routing bug, not an empty cell)
      ("value" -> value.map(v => JDouble(v): JValue).getOrElse(JNull))

  // ---- request plumbing --------------------------------------------------

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq).getOrElse(Nil)
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        k -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def bodyOf(ex: HttpExchange): String = {
    val in = ex.getRequestBody
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def respond(ex: HttpExchange, status: Int, contentType: String,
      body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.getResponseHeaders.set("Content-Type", s"$contentType; charset=utf-8")
    ex.sendResponseHeaders(status, bytes.length)
    val out = ex.getResponseBody
    try out.write(bytes) finally out.close()
  }

  private def json(ex: HttpExchange, status: Int, j: JValue): Unit =
    respond(ex, status, "application/json", JsonMethods.compact(JsonMethods.render(j)))

  private def handle(ex: HttpExchange)(body: => Unit): Unit =
    try body catch {
      case NotFound(m) => json(ex, 404, "detail" -> m)
      case BadRequest(m) => json(ex, 400, "detail" -> m)
      case e: IllegalArgumentException =>
        json(ex, 400, "detail" -> Option(e.getMessage).getOrElse("bad request"))
      case e: NoSuchElementException =>
        json(ex, 404, "detail" -> Option(e.getMessage).getOrElse("not found"))
      case e: Exception =>
        json(ex, 500, "detail" -> s"Internal server error. $e")
    } finally ex.close()

  private def segments(ex: HttpExchange): Seq[String] =
    ex.getRequestURI.getPath.split("/").toSeq.filter(_.nonEmpty)
      .map(java.net.URLDecoder.decode(_, "UTF-8"))

  private def windowOf(q: Map[String, String]): Option[ViewWindow] =
    (q.get("top"), q.get("left"), q.get("bottom"), q.get("right")) match {
      case (Some(t), Some(l), Some(b), Some(r)) =>
        Some(ViewWindow(t.toInt, l.toInt, b.toInt, r.toInt))
      case _ => None
    }

  private def renderView(ex: HttpExchange, v: View, q: Map[String, String]): Unit = {
    val w = windowOf(q)
    q.getOrElse("format", "json") match {
      case "json" => respond(ex, 200, "application/json", v.toJson(w))
      case "html" => respond(ex, 200, "text/html", v.toHtml(w))
      case "csv" => respond(ex, 200, "text/csv", v.toCsv(w))
      case other => throw BadRequest(s"unknown format '$other' (json|html|csv)")
    }
  }

  // ---- routes ------------------------------------------------------------

  private def install(): Unit = {
    server.createContext("/", (ex: HttpExchange) => handle(ex) {
      if (segments(ex).nonEmpty) throw NotFound(ex.getRequestURI.getPath)
      respond(ex, 200, "text/html",
        "<!DOCTYPE html><html><head><title>graft API</title></head><body>" +
          "<h1>graft OLAP API</h1><p>Spark-native analytics engine.</p>" +
          "<p><a href=\"/databases\">databases</a></p></body></html>")
    })

    server.createContext("/databases", (ex: HttpExchange) => handle(ex) {
      segments(ex) match {
        case Seq("databases") =>
          json(ex, 200, "databases" -> databases.map(d =>
            ("id" -> d.name) ~ ("caching" -> d.caching)))
        case Seq("databases", name) =>
          val d = db(name); withRead(d) { json(ex, 200, shortCatalog(d)) }
        case Seq("databases", name, "catalog") =>
          val d = db(name); withRead(d) { json(ex, 200, fullCatalog(d)) }
        case other => throw NotFound(other.mkString("/"))
      }
    })

    server.createContext("/cells", (ex: HttpExchange) => handle(ex) {
      segments(ex) match {
        // batched reads: ONE Spark job resolves every distinct base-cell
        // address (the address set probes the merged facts as a lookup
        // expression, one per-address aggregation) — a per-cell HTTP loop
        // can never amortize the per-request floor, so the engine-native
        // shape gets its own route. Addresses naming AGGREGATED members
        // fall back to per-address rollup gets. A repeated address is
        // resolved once and its value returned at every listing.
        case Seq("cells", dbName, cubeName, "batch")
            if ex.getRequestMethod == "POST" =>
          implicit val fmts: Formats = DefaultFormats
          val d = db(dbName)
          val c = cubeOf(d, cubeName)
          val addrs = (JsonMethods.parse(bodyOf(ex)) \ "addresses")
            .extract[List[List[String]]]
          require(addrs.nonEmpty && addrs.size <= 10000,
            "batch takes 1..10000 addresses")
          addrs.foreach(a => require(a.size == c.nDims,
            s"address $a must name all ${c.nDims} dimensions"))
          val values: Seq[Option[Double]] = withRead(d) {
            val bolts = addrs.map(a => a.zipWithIndex.map { case (m, i) =>
              c.dimensions(i).idOf(m) }.toVector)
            val distinct = bolts.zip(addrs).distinctBy(_._1)
            val isBase = (b: Seq[Int]) => b.zipWithIndex.forall { case (id, i) =>
              c.dimensions(i).isDegenerate || c.dimensions(i).levelOf(id) == 0 }
            val (base, agg) = distinct.partition(x => isBase(x._1))
            val got: Map[Vector[Int], Option[Double]] =
              (if (base.isEmpty) Map.empty[Vector[Int], Double]
               else c.facts
                .filter(graft.functions.RefLookup.contains(c.dimCols.map(col),
                  base.map(_._1.toArray)).isNotNull)
                .groupBy(c.dimCols.map(col): _*)
                .agg(sum(col("value")).cast("double").as("__v"))
                .collect()
                .map(r => Vector.tabulate(c.nDims)(r.getInt) -> r.getDouble(c.nDims))
                .toMap).map { case (k, v) => k -> Some(v) } ++
              agg.map { case (b, a) => b -> c.get(a) }
            // `facts` merges the overlay (point writes and deletes) into
            // the frame, so the single job is already write-correct
            bolts.map(b => got.getOrElse(b, None))
          }
          json(ex, 200, "cells" -> addrs.zip(values).map { case (a, v) =>
            ("address" -> a) ~
              ("value" -> v.map(x => JDouble(x): JValue).getOrElse(JNull))
          })
        case Seq("cells", dbName, cubeName) =>
          val d = db(dbName)
          val c = cubeOf(d, cubeName)
          ex.getRequestMethod match {
            case "GET" =>
              val qp = query(ex)
              val addr = qp.getOrElse("address",
                throw BadRequest("missing ?address=m1,m2,…")).split(",").toSeq
              // ?asOfGeneration=g serves the read from the z-store snapshot
              // at generation g (asOfCube — shared with views and /query)
              val v = withRead(d) { asOfCube(c, qp).get(addr) }
              json(ex, 200, cellJson(d.name, c.name, addr, v))
            case "PUT" | "POST" =>
              implicit val fmts: Formats = DefaultFormats
              val j = JsonMethods.parse(bodyOf(ex))
              val addr = (j \ "address").extract[List[String]]
              val value = (j \ "value").extract[Double]
              withWrite(d) { c.set(addr, value) }
              json(ex, 200, cellJson(d.name, c.name, addr, Some(value)))
            case m => throw BadRequest(s"method $m not allowed on /cells")
          }
        case other => throw NotFound(other.mkString("/"))
      }
    })

    server.createContext("/views", (ex: HttpExchange) => handle(ex) {
      segments(ex) match {
        // ad-hoc view: POST a ViewDef (the persisted-view JSON codec)
        case Seq("views", dbName, cubeName) if ex.getRequestMethod == "POST" =>
          val d = db(dbName)
          val c = cubeOf(d, cubeName)
          val dfn = ViewDef.fromJson(bodyOf(ex))
          val qp = query(ex)
          // ?asOfGeneration=g renders the view over the store snapshot
          // (round 17): same ViewDef, snapshot cube — every view face
          // (grid, zero-suppression, renders) serves historically unchanged
          withRead(d) { renderView(ex, new View(asOfCube(c, qp), dfn), qp) }
        // named view from the cube's registry
        case Seq("views", dbName, cubeName, viewName) =>
          val d = db(dbName)
          val c = cubeOf(d, cubeName)
          if (!c.views.contains(viewName))
            throw NotFound(s"view '$viewName' not found on cube '$cubeName'")
          val qp = query(ex)
          withRead(d) {
            renderView(ex,
              new View(asOfCube(c, qp), c.views.definition(viewName)), qp)
          }
        case other => throw NotFound(other.mkString("/"))
      }
    })

    server.createContext("/query", (ex: HttpExchange) => handle(ex) {
      segments(ex) match {
        case Seq("query", dbName) if ex.getRequestMethod == "POST" =>
          val d = db(dbName)
          val sql = bodyOf(ex).trim
          if (sql.isEmpty) throw BadRequest("empty query body")
          // Bounded like the batch-cells route (r13 verdict #2): the result
          // never materializes more than limit+1 rows through the driver
          // and the HTTP response — a '*'-slicer grid over large catalog
          // dimensions pages instead of pulling the member cross-product.
          // `limit`/`offset` page; `truncated`+`next_offset` say when a
          // page was cut. A request carrying either paging param orders by
          // every output column so SUCCESSIVE pages share one total order
          // (disjoint and exhaustive) — a dialect grid carries no inherent
          // row order.
          val qp = query(ex)
          def intParam(name: String, dflt: Int): Int =
            try qp.get(name).map(_.toInt).getOrElse(dflt)
            catch { case _: NumberFormatException =>
              throw BadRequest(s"$name must be an integer") }
          val limit = intParam("limit", RestServer.QueryRowCap)
          val offset = intParam("offset", 0)
          if (limit < 1 || limit > RestServer.QueryRowCap)
            throw BadRequest(s"limit must be 1..${RestServer.QueryRowCap}")
          if (offset < 0) throw BadRequest("offset must be >= 0")
          val (rows, truncated) = withRead(d) {
            // ?asOfGeneration=g resolves the dialect's FROM cube through
            // the snapshot plumbing (round 17); absent → the live cube
            val df = OlapQuery(d, sql, name => asOfCube(cubeOf(d, name), qp))
            val cols = df.columns.toSeq
            val paging = qp.contains("limit") || qp.contains("offset")
            val paged =
              (if (paging) df.orderBy(cols.map(col): _*).offset(offset)
               else df).limit(limit + 1)
            val got = paged.collect()
            (got.take(limit).map(r => cols.zipWithIndex.map { case (cn, i) =>
              cn -> (r.get(i) match {
                case null => JNull
                case dd: java.lang.Double => JDouble(dd)
                case l: java.lang.Long => JLong(l)
                case ii: java.lang.Integer => JInt(BigInt(ii.intValue))
                case x => JString(x.toString)
              })
            }.foldLeft(JObject()) { case (o, (k, v)) => o ~ (k -> v) }).toList,
              got.length > limit)
          }
          val base = ("rows" -> rows) ~ ("limit" -> limit) ~
            ("offset" -> offset) ~ ("truncated" -> truncated)
          // next_offset only on PAGED requests: an unpaged response is in
          // arbitrary plan order, so an offset computed against it would
          // continue a DIFFERENT (sorted) sequence — overlapping and
          // missing rows. A truncated unpaged client restarts with
          // ?limit=…&offset=0 to enter the total order.
          val paged = qp.contains("limit") || qp.contains("offset")
          json(ex, 200,
            if (truncated && paged) base ~ ("next_offset" -> (offset + limit))
            else base)
        case other => throw NotFound(other.mkString("/"))
      }
    })
  }

  def start(): RestServer = synchronized {
    if (!started) {
      install()
      // without an executor the JDK server dispatches on ONE thread,
      // serializing every request and making the read/write lock moot —
      // a cached pool gives real shared reads / exclusive writes
      server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
        r => { val t = new Thread(r, "graft-rest"); t.setDaemon(true); t }))
      server.start()
      started = true
    }
    this
  }

  /** The bound port (useful with `port = 0` — an ephemeral test port). */
  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = synchronized {
    if (started) { server.stop(0); started = false }
  }
}

object RestServer {
  /** Per-response row cap for the dialect `/query` route — the same bound
    * as the batch-cells route: the server never collects an unbounded grid
    * through the driver; clients page with `limit`/`offset`.
    */
  val QueryRowCap = 10000
}
