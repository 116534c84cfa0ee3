package graft.server

import java.net.{InetSocketAddress, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.{RefFixtures, SparkSpec}
import graft.sources.TableSource

/** Golden end-to-end: tables from the round-2 loaders (Google-Sheets-mocked,
  * Delta) served through the HTTP surface — the reference's
  * table-over-every-loader pattern (roapi/tests/api_test.rs). */
class ServedLoadersSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll
    with graft.sources.IcebergFixtures {

  private var mock: HttpServer = _

  private lazy val engine = {
    // Sheets v4 mock (zero-egress environment)
    mock = HttpServer.create(new InetSocketAddress(0), 0)
    def reply(ex: HttpExchange, body: String): Unit = {
      val b = body.getBytes("UTF-8")
      ex.sendResponseHeaders(200, b.length)
      ex.getResponseBody.write(b); ex.close()
    }
    mock.createContext("/v4/spreadsheets/SHEETX/values/", (ex: HttpExchange) =>
      reply(ex,
        """{"range":"S!A1:B3","majorDimension":"ROWS","values":[
          |["city","pop"],["ambon","355"],["boston","7"]]}""".stripMargin))
    mock.createContext("/v4/spreadsheets/SHEETX", (ex: HttpExchange) =>
      reply(ex, """{"sheets":[{"properties":{"sheetId":0,"index":0,"title":"S"}}]}"""))
    mock.start()
    val mockBase = s"http://127.0.0.1:${mock.getAddress.getPort}"

    val e = new Engine(spark, readOnly = true)
    e.registerTable(TableSource("cities",
      "https://docs.google.com/spreadsheets/d/SHEETX", format = Some("gsheet"),
      options = Map("api_base" -> mockBase, "auth_token" -> "tok")))
    if (RefFixtures.present("blogs-delta/_delta_log"))
      e.registerTable(TableSource("blogs",
        RefFixtures.path("blogs-delta"), format = Some("delta")))
    e.registerKv("city_pop",
      TableSource("cities_kv", "https://docs.google.com/spreadsheets/d/SHEETX",
        format = Some("gsheet"),
        options = Map("api_base" -> mockBase, "auth_token" -> "tok")),
      keyCol = "city", valueCol = "pop")
    e
  }
  private lazy val app = new HttpApp(engine, 0).start()
  private lazy val base = s"http://127.0.0.1:${app.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def get(path: String): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  override def afterAll(): Unit = {
    try if (mock != null) mock.stop(0) finally super.afterAll()
  }

  test("iceberg-backed table served via /api/tables and /api/sql") {
    // the round-10 loader end-to-end through the server surface: position
    // deletes applied, REST params and SQL both live
    val dir = buildV2Table(withDeletes = true)
    engine.registerTable(TableSource("ice_docs", dir, Some("iceberg")))
    val rest = get("/api/tables/ice_docs?sort=id&columns=id,name")
    assert(rest.statusCode() === 200)
    assert(rest.body() ===
      """[{"id":1,"name":"alpha"},{"id":3,"name":"gamma"},{"id":5,"name":"epsilon"}]""")
    val sql = client.send(HttpRequest.newBuilder(URI.create(base + "/api/sql"))
      .POST(HttpRequest.BodyPublishers.ofString(
        "SELECT count(*) AS n FROM ice_docs")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(sql.body() === """[{"n":3}]""")
  }

  test("gsheet-backed table served via /api/tables with REST params (golden)") {
    val r = get("/api/tables/cities?sort=city&columns=city,pop")
    assert(r.statusCode() === 200)
    assert(r.body() === """[{"city":"ambon","pop":355},{"city":"boston","pop":7}]""")
  }

  test("gsheet-backed kv store served via /api/kv (golden)") {
    val r = get("/api/kv/city_pop/ambon")
    assert(r.statusCode() === 200)
    assert(r.body() === "355")
    assert(get("/api/kv/city_pop/nowhere").statusCode() === 404)
  }

  test("delta-backed table served via /api/tables and /api/sql") {
    assume(RefFixtures.present("blogs-delta/_delta_log"))
    // reply_id has 245 nulls in the fixture; a gt filter prunes them so the
    // golden shape is two concrete ids
    val r = get("/api/tables/blogs?filter[reply_id]gt=0&sort=reply_id&limit=2&columns=reply_id")
    assert(r.statusCode() === 200)
    assert(r.body().matches("""\[\{"reply_id":\d+\},\{"reply_id":\d+\}\]"""), r.body())
    val c = client.send(HttpRequest.newBuilder(URI.create(base + "/api/sql"))
      .POST(HttpRequest.BodyPublishers.ofString("SELECT count(*) AS n FROM blogs")).build(),
      HttpResponse.BodyHandlers.ofString())
    assert(c.body() === """[{"n":500}]""")
  }
}
