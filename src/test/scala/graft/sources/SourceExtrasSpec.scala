package graft.sources

import java.io.ByteArrayInputStream
import java.nio.file.Files

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, RefFixtures}

/** stdin table source + schema_from_files declared-sample inference
  * (reference: columnq/src/table/mod.rs:704-752, 888-896). */
class SourceExtrasSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()

  test("stdin source buffers bytes and loads under the declared format") {
    val csv = "city,pop\nparis,100\nlyon,50\n"
    Loaders.stdinStream = () => new ByteArrayInputStream(csv.getBytes("UTF-8"))
    try {
      val df = Loaders.load(spark,
        TableSource("cities", "stdin", format = Some("csv")))
      assert(df.count() === 2)
      assert(df.columns.toSeq === Seq("city", "pop"))
      assert(df.filter(df("city") === "paris").head().getInt(1) === 100)
    } finally Loaders.stdinStream = () => System.in
  }

  test("stdin without an explicit format is rejected") {
    val e = intercept[IllegalArgumentException] {
      Loaders.load(spark, TableSource("x", "stdin"))
    }
    assert(e.getMessage.contains("format"))
  }

  test("schema_from_files infers from only the named files and merges") {
    val dir = Files.createTempDirectory("graft_sff")
    // sample files with complementary columns; the bulk file would vote wrong
    Files.write(dir.resolve("a.json"), """{"id": 1, "x": "one"}""".getBytes)
    Files.write(dir.resolve("b.json"), """{"id": 2, "y": 2.5}""".getBytes)
    // bulk file where id looks like a string — must NOT influence the schema
    Files.write(dir.resolve("bulk.json"),
      """{"id": 3, "x": "three", "y": 1.5}""".getBytes)
    val df = Loaders.load(spark, TableSource("t", dir.toString,
      format = Some("ndjson"),
      options = Map("schema_from_files" -> "a.json;b.json")))
    val s = df.schema
    assert(s.fieldNames.sorted.toSeq === Seq("id", "x", "y"))
    assert(s("id").dataType === LongType)
    assert(s("y").dataType === DoubleType)
    assert(df.count() === 3) // full listing still read
  }

  test("partitioned csv dir loads with hive-style partition column discovery") {
    assume(RefFixtures.present("partitioned_csv"))
    val df = Loaders.load(spark, TableSource("pcsv",
      RefFixtures.path("partitioned_csv"), format = Some("csv")))
    assert(df.count() > 0)
    assert(df.columns.contains("year"))
    assert(df.select("year").distinct().collect().map(_.get(0).toString).sorted
      === Array("2022", "2023"))
  }

  test("header.* options become HTTP request headers (io/http.rs:59-72)") {
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress(0), 0)
    @volatile var seenAuth: String = null
    server.createContext("/doc.json", (ex: com.sun.net.httpserver.HttpExchange) => {
      seenAuth = ex.getRequestHeaders.getFirst("X-Api-Key")
      val body = """[{"a": 1}, {"a": 2}]""".getBytes("UTF-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body); ex.close()
    })
    server.start()
    try {
      val df = Loaders.load(spark, TableSource("h",
        s"http://127.0.0.1:${server.getAddress.getPort}/doc.json",
        format = Some("json"), options = Map("header.X-Api-Key" -> "sekret")))
      assert(df.count() === 2)
      assert(seenAuth === "sekret")
    } finally server.stop(0)
  }

  test("empty schema_from_files list is an error") {
    val e = intercept[IllegalArgumentException] {
      Loaders.load(spark, TableSource("t", "/tmp", format = Some("ndjson"),
        options = Map("schema_from_files" -> " ; ")))
    }
    assert(e.getMessage.contains("empty list"))
  }
}
