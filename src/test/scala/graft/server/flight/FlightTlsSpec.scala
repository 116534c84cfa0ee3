package graft.server.flight

import java.nio.file.{Files, Paths}

import graft.{RefFixtures, SparkSpec}
import graft.server.{Config, Engine}
import graft.sources.TableSource
import FlightProto._

/** Mutual-TLS Flight SQL transport (reference: tonic `ServerTlsConfig`
  * built from `flight_sql_config.tls.{cert,key,client_ca}` —
  * roapi/src/config.rs FlightSqlTlsConfig, flight_sql.rs:949-1021; the
  * client CA makes client-certificate verification REQUIRED). Certs are
  * generated at test time with the system openssl; the server side runs
  * the stock-classpath JDK SSL provider with ALPN h2. */
class FlightTlsSpec extends SparkSpec {

  private val FlightPath = "/arrow.flight.protocol.FlightService/"

  private def sh(cmd: Seq[String]): Unit = {
    import scala.sys.process._
    val log = new StringBuilder
    val code = Process(cmd).!(ProcessLogger(s => log.append(s).append('\n'),
      s => log.append(s).append('\n')))
    assert(code == 0, s"`${cmd.mkString(" ")}` failed:\n$log")
  }

  /** One CA; a server cert (SAN 127.0.0.1) and a client cert signed by it. */
  private lazy val certDir: String = {
    val d = Files.createTempDirectory("graft_tls").toString
    sh(Seq("openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
      "-keyout", s"$d/ca.key", "-out", s"$d/ca.pem", "-days", "2",
      "-subj", "/CN=graft-test-ca"))
    sh(Seq("openssl", "req", "-newkey", "rsa:2048", "-nodes",
      "-keyout", s"$d/server.key", "-out", s"$d/server.csr",
      "-subj", "/CN=127.0.0.1"))
    Files.writeString(Paths.get(s"$d/san.cnf"), "subjectAltName=IP:127.0.0.1\n")
    sh(Seq("openssl", "x509", "-req", "-in", s"$d/server.csr",
      "-CA", s"$d/ca.pem", "-CAkey", s"$d/ca.key", "-CAcreateserial",
      "-out", s"$d/server.pem", "-days", "2", "-extfile", s"$d/san.cnf"))
    sh(Seq("openssl", "req", "-newkey", "rsa:2048", "-nodes",
      "-keyout", s"$d/client.key", "-out", s"$d/client.csr",
      "-subj", "/CN=graft-client"))
    sh(Seq("openssl", "x509", "-req", "-in", s"$d/client.csr",
      "-CA", s"$d/ca.pem", "-CAkey", s"$d/ca.key", "-CAcreateserial",
      "-out", s"$d/client.pem", "-days", "2"))
    d
  }

  private lazy val engine = {
    val e = new Engine(spark, readOnly = true)
    if (RefFixtures.present("uk_cities_with_headers.csv"))
      e.registerTable(TableSource("tls_cities",
        RefFixtures.path("uk_cities_with_headers.csv")))
    e
  }
  private lazy val server = new FlightSqlServer(engine, 0,
    tls = Some(FlightSqlServer.Tls(
      s"$certDir/server.pem", s"$certDir/server.key", s"$certDir/ca.pem"))).start()

  test("mutual TLS: a cert-bearing client queries end-to-end over ALPN h2") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val c = new GrpcTestClient("127.0.0.1", server.boundPort,
      tls = Some(GrpcTestClient.Tls(s"$certDir/ca.pem",
        Some((s"$certDir/client.pem", s"$certDir/client.key")))))
    try {
      val desc = FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
        CommandStatementQuery(
          "SELECT city FROM tls_cities ORDER BY city LIMIT 2").encode).encode)
      val infos = c.call(FlightPath + "GetFlightInfo", Seq(desc.encode))
      assert(infos.status === 0, infos.statusMessage)
      val info = FlightInfo.parse(infos.messages.head)
      val frames = c.call(FlightPath + "DoGet", Seq(info.ticket.encode))
      assert(frames.status === 0)
      val stream = ArrowIpcFrames.reassemble(frames.messages.map(FlightData.parse))
      val rows = org.apache.spark.sql.GraftArrowBridge
        .fromIpcStreamBytes(spark, stream).collect()
      assert(rows.map(_.getString(0)).toSeq ===
        Seq("Aberdeen, Aberdeen City, UK", "Ayr, South Ayrshire, UK"))
    } finally c.close()
  }

  test("client verification is REQUIRED: no client cert, no service") {
    val c = new GrpcTestClient("127.0.0.1", server.boundPort,
      tls = Some(GrpcTestClient.Tls(s"$certDir/ca.pem", clientCert = None)))
    try intercept[Exception] {
      c.call(FlightPath + "GetFlightInfo",
        Seq(FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
          CommandStatementQuery("SELECT 1").encode).encode).encode))
    } finally c.close()
  }

  test("plaintext clients cannot reach a TLS server") {
    val c = new GrpcTestClient("127.0.0.1", server.boundPort)
    try intercept[Exception] {
      c.call(FlightPath + "GetFlightInfo",
        Seq(FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
          CommandStatementQuery("SELECT 1").encode).encode).encode))
    } finally c.close()
  }

  test("flight_sql_config.tls parses the reference's cert/key/client_ca keys") {
    val cfg = Config.parse(
      s"""flight_sql_config:
         |  tls:
         |    cert: /p/server.pem
         |    key: /p/server.key
         |    client_ca: /p/ca.pem
         |  auth_token: tok
         |""".stripMargin)
    assert(cfg.flightTls ===
      Some(FlightSqlServer.Tls("/p/server.pem", "/p/server.key", "/p/ca.pem")))
    assert(cfg.flightAuthToken === Some("tok"))
    // a partial tls block fails loudly rather than serving plaintext
    val e = intercept[IllegalArgumentException](Config.parse(
      """flight_sql_config:
        |  tls:
        |    cert: /p/server.pem
        |""".stripMargin))
    assert(e.getMessage.contains("key"))
  }
}
