package graft.server

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import graft.{RefFixtures, SparkSpec}
import graft.sources.TableSource

/** Golden-output parity against the reference's own API tests, on the
  * reference's own fixtures (roapi/tests/api_test.rs; fixtures in
  * [[graft.RefFixtures]] are data, read-only). The expected JSON bodies
  * below are the exact goldens those tests pin; a test is canceled where
  * the fixture it reads is absent. */
class ReferenceParitySpec extends SparkSpec {

  private lazy val engine = {
    val e = new Engine(spark, readOnly = true)
    if (RefFixtures.present("uk_cities_with_headers.csv"))
      e.registerTable(TableSource("uk_cities",
        RefFixtures.path("uk_cities_with_headers.csv")))
    val amiSchema = TableSource.parseSchema(Seq(
      ("zone", "STRING", true), ("name", "STRING", true), ("version", "STRING", true),
      ("arch", "STRING", true), ("instance_type", "STRING", true),
      ("release", "STRING", true), ("ami_id", "STRING", true), ("aki_id", "STRING", true)))
    if (RefFixtures.present("ubuntu-ami.json"))
      e.registerTable(TableSource("ubuntu_ami", RefFixtures.path("ubuntu-ami.json"),
        Some("json"), pointer = Some("/aaData"), arrayEncoded = true,
        schema = Some(amiSchema)))
    e
  }
  private lazy val app = new HttpApp(engine, 0).start()
  private lazy val base = s"http://127.0.0.1:${app.boundPort}"
  private val client = HttpClient.newHttpClient()

  private def get(path: String): String =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
  private def post(path: String, body: String): String =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  // golden: roapi/tests/api_test.rs test_kvstore_get (spacex_launch_name)
  test("spacex kvstore lookup matches the reference golden value") {
    assume(RefFixtures.present("spacex_launches.json"))
    engine.registerKv("spacex_launch_name",
      TableSource("spacex_launches", RefFixtures.path("spacex_launches.json"), Some("json")),
      keyCol = "id", valueCol = "name")
    assert(get("/api/kv/spacex_launch_name/600f9a8d8f798e2a4d5f979e")
      == "Starlink-21 (v1.0)")
  }

  // golden: roapi/tests/api_test.rs test_schema (spacex table present)
  test("schema endpoint lists a registered json table like the reference") {
    assume(RefFixtures.present("spacex_launches.json"))
    engine.registerTable(TableSource("spacex_launches",
      RefFixtures.path("spacex_launches.json"), Some("json")))
    val body = get("/api/schema")
    assert(body.contains("\"spacex_launches\""))
    assert(body.contains("\"name\""))
  }

  // golden: roapi/tests/api_test.rs test_uk_cities_sql_post
  test("uk_cities SQL filter matches the reference golden body") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val got = post("/api/sql",
      "SELECT city FROM uk_cities WHERE lat > 52 and lat < 53 and lng < -1")
    assert(got ==
      """[{"city":"Solihull, Birmingham, UK"},{"city":"Rugby, Warwickshire, UK"},{"city":"Sutton Coldfield, West Midlands, UK"},{"city":"Wolverhampton, West Midlands, UK"},{"city":"Frankton, Warwickshire, UK"}]""")
  }

  // golden: roapi/tests/api_test.rs test_rest_get (ubuntu_ami REST params)
  test("ubuntu_ami REST query matches the reference golden body") {
    assume(RefFixtures.present("ubuntu-ami.json"))
    val got = get("/api/tables/ubuntu_ami?" +
      "columns=name,version,release&" +
      "filter%5Barch%5D='amd64'&" +
      "filter%5Bzone%5Deq='us-west-2'&" +
      "filter%5Binstance_type%5Deq='hvm:ebs-ssd'&" +
      "sort=-version,release")
    assert(got ==
      """[{"name":"groovy","version":"20.10","release":"20201205"},{"name":"focal","version":"20.04 LTS","release":"20201201"},{"name":"eoan","version":"19.10","release":"20200716.1"},{"name":"disco","version":"19.04","release":"20200115"},{"name":"bionic","version":"18.04 LTS","release":"20201201"},{"name":"xenial","version":"16.04 LTS","release":"20201202.1"},{"name":"trusty","version":"14.04 LTS","release":"20191107"},{"name":"precise","version":"12.04 LTS","release":"20170502"}]""")
  }

  // golden: roapi/tests/api_test.rs test_graphql_post_query_op
  test("ubuntu_ami GraphQL query matches the reference golden body") {
    assume(RefFixtures.present("ubuntu-ami.json"))
    val got = post("/api/graphql",
      """query {
        |  ubuntu_ami(
        |    filter: {
        |      arch: "amd64"
        |      zone: { eq: "us-west-2" }
        |      instance_type: { eq: "hvm:ebs-ssd" }
        |    }
        |    sort: [
        |      { field: "version", order: "desc" }
        |      { field: "release" }
        |    ]
        |  ) {
        |    name
        |    version
        |    release
        |  }
        |}""".stripMargin)
    assert(got ==
      """[{"name":"groovy","version":"20.10","release":"20201205"},{"name":"focal","version":"20.04 LTS","release":"20201201"},{"name":"eoan","version":"19.10","release":"20200716.1"},{"name":"disco","version":"19.04","release":"20200115"},{"name":"bionic","version":"18.04 LTS","release":"20201201"},{"name":"xenial","version":"16.04 LTS","release":"20201202.1"},{"name":"trusty","version":"14.04 LTS","release":"20191107"},{"name":"precise","version":"12.04 LTS","release":"20170502"}]""")
  }

  // golden: roapi/tests/api_test.rs test_sql_invalid_post error SHAPE
  test("invalid SQL returns the reference error shape") {
    val got = post("/api/sql", "SELECT * FROM")
    assert(got.contains(""""code":400"""))
    assert(got.contains(""""error":"""))
    assert(got.contains(""""message":"""))
  }
}
