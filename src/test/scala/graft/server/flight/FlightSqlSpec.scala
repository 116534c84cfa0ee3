package graft.server.flight

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.arrow.vector.ipc.ReadChannel
import org.apache.arrow.vector.ipc.message.MessageSerializer

import org.apache.spark.sql.GraftArrowBridge

import graft.{RefFixtures, SparkSpec}
import graft.server.Engine
import graft.sources.TableSource
import FlightProto._

/** End-to-end Flight SQL frontend spec over a REAL h2c connection: the
  * golden aggregate + catalog-metadata surface of the reference's own
  * client tests (roapi/tests/flight_sql_test.rs:68-220), driven through the
  * hand-rolled gRPC client since no arrow-flight client library exists on
  * the offline classpath. */
class FlightSqlSpec extends SparkSpec {

  private val FlightPath = "/arrow.flight.protocol.FlightService/"

  private lazy val engine = {
    val e = new Engine(spark, readOnly = true)
    if (RefFixtures.present("uk_cities_with_headers.csv"))
      e.registerTable(TableSource("uk_cities",
        RefFixtures.path("uk_cities_with_headers.csv")))
    if (RefFixtures.present("spacex_launches.json"))
      e.registerTable(TableSource("spacex_launches",
        RefFixtures.path("spacex_launches.json"), Some("json")))
    e
  }
  private lazy val server = new FlightSqlServer(engine, 0).start()
  private lazy val client = new GrpcTestClient("127.0.0.1", server.boundPort)

  private def callOk(method: String, msg: Array[Byte],
                     meta: Map[String, String] = Map.empty): Seq[Array[Byte]] = {
    val r = client.call(FlightPath + method, Seq(msg), meta)
    assert(r.status === 0, s"$method failed: ${r.statusMessage}")
    r.messages
  }

  /** GetFlightInfo for a command, then DoGet its ticket and decode the
    * FlightData frames back through the Arrow IPC stream reader. */
  private def fetchRows(cmdUrl: String, cmdBytes: Array[Byte]): Seq[org.apache.spark.sql.Row] = {
    val desc = FlightDescriptor.cmd(AnyMsg(cmdUrl, cmdBytes).encode)
    val infos = callOk("GetFlightInfo", desc.encode)
    val info = FlightInfo.parse(infos.head)
    fetchTicket(info.ticket)
  }

  private def fetchTicket(ticket: Ticket): Seq[org.apache.spark.sql.Row] =
    rowsOf(callOk("DoGet", ticket.encode))

  private def rowsOf(frames: Seq[Array[Byte]]): Seq[org.apache.spark.sql.Row] = {
    val stream = ArrowIpcFrames.reassemble(frames.map(FlightData.parse))
    GraftArrowBridge.fromIpcStreamBytes(spark, stream).collect().toSeq
  }

  private def dfOf(frames: Seq[Array[Byte]]): org.apache.spark.sql.DataFrame = {
    val stream = ArrowIpcFrames.reassemble(frames.map(FlightData.parse))
    GraftArrowBridge.fromIpcStreamBytes(spark, stream)
  }

  // golden: roapi/tests/flight_sql_test.rs:68-100 (spacex aggregate through
  // the prepared-statement flow)
  test("prepared statement executes the golden spacex aggregate") {
    assume(RefFixtures.present("spacex_launches.json"))
    val query = """SELECT COUNT(*), rocket as launch_cnt
                  |FROM spacex_launches
                  |GROUP BY rocket
                  |ORDER BY rocket""".stripMargin
    val action = Action("CreatePreparedStatement",
      AnyMsg(ActionCreatePreparedStatementRequest.Url,
        ActionCreatePreparedStatementRequest(query).encode).encode)
    val results = callOk("DoAction", action.encode)
    val created = ActionCreatePreparedStatementResult.parse(
      AnyMsg.parse(ActionResult.parse(results.head)).value)
    assert(created.handle.nonEmpty)
    // dataset_schema is known at prepare time, before any execution
    val prepSchema = MessageSerializer.deserializeSchema(new ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(created.datasetSchema))))
    assert(prepSchema.getFields.size() === 2)
    assert(prepSchema.getFields.get(1).getName === "launch_cnt")

    val rows = fetchRows(CommandPreparedStatementQuery.Url,
      CommandPreparedStatementQuery(created.handle).encode)
    val got = rows.map(r => (r.getLong(0), r.getString(1)))
    assert(got === Seq(
      (5L, "5e9d0d95eda69955f709d1eb"),
      (122L, "5e9d0d95eda69973a809d1ec"),
      (5L, "5e9d0d95eda69974db09d1ed")))

    // close releases the handle; re-describing it now fails
    callOk("DoAction", Action("ClosePreparedStatement",
      AnyMsg(ActionClosePreparedStatementRequest.Url,
        ActionClosePreparedStatementRequest(created.handle).encode).encode).encode)
    val desc = FlightDescriptor.cmd(AnyMsg(CommandPreparedStatementQuery.Url,
      CommandPreparedStatementQuery(created.handle).encode).encode)
    val r = client.call(FlightPath + "GetFlightInfo", Seq(desc.encode))
    assert(r.status !== 0)
  }

  test("ad-hoc statement executes once per ticket (pop semantics)") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val desc = FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
      CommandStatementQuery("SELECT city FROM uk_cities ORDER BY city LIMIT 2").encode).encode)
    val info = FlightInfo.parse(callOk("GetFlightInfo", desc.encode).head)
    // FlightInfo carries the encapsulated result schema
    val schema = MessageSerializer.deserializeSchema(new ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(info.schema))))
    assert(schema.getFields.get(0).getName === "city")
    val rows = fetchTicket(info.ticket)
    assert(rows.map(_.getString(0)) ===
      Seq("Aberdeen, Aberdeen City, UK", "Ayr, South Ayrshire, UK"))
    // the stored result was popped by the first DoGet
    val again = client.call(FlightPath + "DoGet", Seq(info.ticket.encode))
    assert(again.status !== 0)
  }

  // golden: roapi/tests/flight_sql_test.rs:102-120 (get_catalogs); the
  // reference returns ITS catalog constant "roapi", this engine's is "graft"
  test("get_catalogs returns the engine catalog") {
    val rows = fetchRows(CommandGetCatalogs.Url, CommandGetCatalogs.encode)
    assert(rows.map(_.getString(0)) === Seq("graft"))
  }

  test("get_db_schemas returns (graft, public) and honors filters") {
    val rows = fetchRows(CommandGetDbSchemas.Url,
      CommandGetDbSchemas(Some("graft"), None).encode)
    assert(rows.map(r => (r.getString(0), r.getString(1))) === Seq(("graft", "public")))
    val filtered = fetchRows(CommandGetDbSchemas.Url,
      CommandGetDbSchemas(None, Some("nope%")).encode)
    assert(filtered.isEmpty)
  }

  // golden: roapi/tests/flight_sql_test.rs:122-220 (get_tables, all four
  // variants: no schema, with schema, name filter, non-matching filter)
  test("get_tables matches the reference surface") {
    assume(RefFixtures.present("uk_cities_with_headers.csv", "spacex_launches.json"))
    // without schemas: first requested type labels the rows
    val noSchema = dfOf(callOk("GetFlightInfo",
      FlightDescriptor.cmd(AnyMsg(CommandGetTables.Url,
        CommandGetTables(Some("graft"), None, None,
          Seq("BASE TABLE", "TABLE"), includeSchema = false).encode).encode).encode)
      .pipe(b => { val i = FlightInfo.parse(b.head); callOk("DoGet", i.ticket.encode) }))
    assert(!noSchema.columns.contains("table_schema"))
    assert(noSchema.collect().map(r =>
        (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq === Seq(
      ("graft", "public", "spacex_launches", "BASE TABLE"),
      ("graft", "public", "uk_cities", "BASE TABLE")))

    // with schemas: the binary column appears, one row per table
    val withSchema = dfOf(callOk("GetFlightInfo",
      FlightDescriptor.cmd(AnyMsg(CommandGetTables.Url,
        CommandGetTables(Some("graft"), None, None, Seq("table"),
          includeSchema = true).encode).encode).encode)
      .pipe(b => { val i = FlightInfo.parse(b.head); callOk("DoGet", i.ticket.encode) }))
    assert(withSchema.columns.contains("table_schema"))
    assert(withSchema.count() === 2)

    // name filter: one row, and its schema bytes parse to the CSV's fields
    val one = dfOf(callOk("GetFlightInfo",
      FlightDescriptor.cmd(AnyMsg(CommandGetTables.Url,
        CommandGetTables(None, None, Some("uk_cities"), Seq.empty,
          includeSchema = true).encode).encode).encode)
      .pipe(b => { val i = FlightInfo.parse(b.head); callOk("DoGet", i.ticket.encode) }))
    val rows = one.collect()
    assert(rows.length === 1)
    val schemaBytes = rows(0).getAs[Array[Byte]]("table_schema")
    val tblSchema = MessageSerializer.deserializeSchema(new ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(schemaBytes))))
    val fields = tblSchema.getFields
    assert(fields.size() === 3)
    assert(fields.get(0).getName === "city" &&
      fields.get(0).getType.isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.Utf8])
    assert(fields.get(1).getName === "lat" &&
      fields.get(1).getType.isInstanceOf[org.apache.arrow.vector.types.pojo.ArrowType.FloatingPoint])
    assert(fields.get(2).getName === "lng")

    // non-matching filter: schema-only stream, zero rows
    val none = fetchRows(CommandGetTables.Url,
      CommandGetTables(Some("graft"), None, Some("foo"), Seq.empty,
        includeSchema = true).encode)
    assert(none.isEmpty)
  }

  test("basic-auth handshake issues a bearer token the other calls require") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val e2 = new Engine(spark, readOnly = true)
    e2.registerTable(TableSource("uk_cities", RefFixtures.path("uk_cities_with_headers.csv")))
    val authed = new FlightSqlServer(e2, 0,
      authBasic = Some(("flight_user", "flight_password"))).start()
    val c2 = new GrpcTestClient("127.0.0.1", authed.boundPort)
    try {
      // unauthenticated query is rejected
      val denied = c2.call(FlightPath + "GetFlightInfo",
        Seq(FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
          CommandStatementQuery("SELECT 1").encode).encode).encode))
      assert(denied.status === 16)
      // wrong credentials rejected
      val badCred = java.util.Base64.getEncoder
        .encodeToString("flight_user:wrong".getBytes(UTF_8))
      val bad = c2.call(FlightPath + "Handshake",
        Seq(HandshakeRequest.encode(0, Array.emptyByteArray)),
        Map("authorization" -> s"Basic $badCred"))
      assert(bad.status === 16)
      // correct handshake returns the token in header AND payload
      val cred = java.util.Base64.getEncoder
        .encodeToString("flight_user:flight_password".getBytes(UTF_8))
      val ok = c2.call(FlightPath + "Handshake",
        Seq(HandshakeRequest.encode(0, Array.emptyByteArray)),
        Map("authorization" -> s"Basic $cred"))
      assert(ok.status === 0)
      val headerToken = ok.headers("authorization")
      assert(headerToken.startsWith("Bearer "))
      val payloadToken = new String(HandshakeResponse.parse(ok.messages.head).payload, UTF_8)
      assert(headerToken === s"Bearer $payloadToken")
      // the token authorizes queries
      val rows = c2.call(FlightPath + "GetFlightInfo",
        Seq(FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
          CommandStatementQuery("SELECT city FROM uk_cities LIMIT 1").encode).encode).encode),
        Map("authorization" -> headerToken))
      assert(rows.status === 0)
    } finally { c2.close(); authed.stop() }
  }

  test("get_sql_info returns server metadata in the spec's union schema") {
    def infoRows(requested: Seq[Long]): Seq[(Long, String)] = {
      val desc = FlightDescriptor.cmd(AnyMsg(CommandGetSqlInfo.Url,
        CommandGetSqlInfo(requested).encode).encode)
      val info = FlightInfo.parse(callOk("GetFlightInfo", desc.encode).head)
      val frames = callOk("DoGet", info.ticket.encode).map(FlightData.parse)
      val stream = ArrowIpcFrames.reassemble(frames)
      // the dense-union value column has no Spark analogue — read with arrow
      val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(stream), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        val out = Seq.newBuilder[(Long, String)]
        while (reader.loadNextBatch()) {
          val names = root.getVector("info_name")
            .asInstanceOf[org.apache.arrow.vector.UInt4Vector]
          val union = root.getVector("value")
            .asInstanceOf[org.apache.arrow.vector.complex.DenseUnionVector]
          (0 until root.getRowCount).foreach { i =>
            out += ((names.get(i).toLong, String.valueOf(union.getObject(i))))
          }
        }
        out.result()
      } finally { reader.close(); alloc.close() }
    }
    val all = infoRows(Seq.empty)
    assert(all === Seq(
      (0L, "Graft Flight SQL Server"), (1L, "1"), (2L, "1.3")))
    assert(infoRows(Seq(2L)) === Seq((2L, "1.3")))
  }

  test("get_xdbc_type_info serves the reference's INTEGER row; data_type filters") {
    // reference: flight_sql.rs:75-99 declares one INTEGER XdbcTypeInfo row,
    // :765-779 serves it through the builder; schema is the public
    // FlightSql.proto contract for the command
    def xdbcStream(filter: Option[Long]): Array[Byte] = {
      val desc = FlightDescriptor.cmd(AnyMsg(CommandGetXdbcTypeInfo.Url,
        CommandGetXdbcTypeInfo(filter).encode).encode)
      val info = FlightInfo.parse(callOk("GetFlightInfo", desc.encode).head)
      ArrowIpcFrames.reassemble(
        callOk("DoGet", info.ticket.encode).map(FlightData.parse))
    }
    def withRoot[A](filter: Option[Long])(
        f: org.apache.arrow.vector.VectorSchemaRoot => A): A = {
      val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
      val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
        new java.io.ByteArrayInputStream(xdbcStream(filter)), alloc)
      try { assert(reader.loadNextBatch()); f(reader.getVectorSchemaRoot) }
      finally { reader.close(); alloc.close() }
    }
    withRoot(None) { root =>
      import scala.jdk.CollectionConverters._
      val fields = root.getSchema.getFields.asScala
      assert(fields.map(_.getName).toSeq === Seq("type_name", "data_type",
        "column_size", "literal_prefix", "literal_suffix", "create_params",
        "nullable", "case_sensitive", "searchable", "unsigned_attribute",
        "fixed_prec_scale", "auto_increment", "local_type_name",
        "minimum_scale", "maximum_scale", "sql_data_type",
        "datetime_subcode", "num_prec_radix", "interval_precision"))
      // spec nullability: the seven not-null columns of the contract
      val notNull = fields.filterNot(_.isNullable).map(_.getName).toSet
      assert(notNull === Set("type_name", "data_type", "nullable",
        "case_sensitive", "searchable", "fixed_prec_scale", "sql_data_type"))
      assert(root.getRowCount === 1)
      def v(name: String) = root.getVector(name)
      assert(String.valueOf(v("type_name").getObject(0)) === "INTEGER")
      assert(v("data_type").getObject(0) === 4) // XDBC_INTEGER
      assert(v("column_size").getObject(0) === 32)
      assert(v("literal_prefix").isNull(0) && v("literal_suffix").isNull(0))
      assert(v("create_params").isNull(0))
      assert(v("nullable").getObject(0) === 1) // NULLABILITY_NULLABLE
      assert(v("case_sensitive").getObject(0) === false)
      assert(v("searchable").getObject(0) === 3) // SEARCHABLE_FULL
      assert(v("unsigned_attribute").getObject(0) === false)
      assert(v("fixed_prec_scale").getObject(0) === false)
      assert(v("auto_increment").getObject(0) === false)
      assert(String.valueOf(v("local_type_name").getObject(0)) === "INTEGER")
      assert(v("minimum_scale").isNull(0) && v("maximum_scale").isNull(0))
      assert(v("sql_data_type").getObject(0) === 4)
      assert(v("datetime_subcode").isNull(0))
      assert(v("num_prec_radix").getObject(0) === 2)
      assert(v("interval_precision").isNull(0))
    }
    // the optional data_type filter keeps the row iff it matches
    withRoot(Some(4L))(root => assert(root.getRowCount === 1))
    withRoot(Some(12L))(root => assert(root.getRowCount === 0))
  }

  test("DoPut statement update returns the reference's fake 1-row result") {
    // flight_sql.rs:61 FAKE_UPDATE_RESULT + :782-789: the read-only server
    // answers CommandStatementUpdate with record_count = 1, no mutation
    val desc = FlightDescriptor.cmd(AnyMsg(CommandStatementUpdate.Url,
      CommandStatementUpdate("UPDATE uk_cities SET city = 'x'").encode).encode)
    // FlightData{flight_descriptor(1)} — the stream's first message
    val flightData = new ProtoWire.Writer().bytes(1, desc.encode).result()
    val res = callOk("DoPut", flightData)
    // PutResult{app_metadata(1) = DoPutUpdateResult{record_count(1)}}
    val pr = new ProtoWire.Reader(res.head)
    val (1, 2) = pr.readTag()
    val meta = new ProtoWire.Reader(pr.readBytes())
    val (1, 0) = meta.readTag()
    assert(meta.readVarint() === 1L)
    // other DoPut commands answer UNIMPLEMENTED like the reference arms
    val prep = new ProtoWire.Writer().bytes(1,
      FlightDescriptor.cmd(AnyMsg(CommandPreparedStatementQuery.Url,
        CommandPreparedStatementQuery("h".getBytes(UTF_8)).encode).encode).encode)
      .result()
    assert(client.call(FlightPath + "DoPut", Seq(prep)).status === 12)
  }

  test("GetSchema answers without executing; unknown methods are UNIMPLEMENTED") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    val sr = callOk("GetSchema", FlightDescriptor.cmd(AnyMsg(CommandStatementQuery.Url,
      CommandStatementQuery("SELECT lat, lng FROM uk_cities").encode).encode).encode)
    // SchemaResult { bytes schema = 1 }
    val r = new ProtoWire.Reader(sr.head)
    val (1, 2) = r.readTag()
    val schema = MessageSerializer.deserializeSchema(new ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(r.readBytes()))))
    assert(schema.getFields.size() === 2)
    val unimpl = client.call(FlightPath + "ListFlights", Seq(Array.emptyByteArray))
    assert(unimpl.status === 12)
  }

  implicit final class PipeOps[A](private val a: A) {
    def pipe[B](f: A => B): B = f(a)
  }
}
