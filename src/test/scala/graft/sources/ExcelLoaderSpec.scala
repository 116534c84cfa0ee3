package graft.sources

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, RefFixtures}

/** Behavior parity with the reference's calamine-based loader
  * (reference: columnq/src/table/excel.rs:433-725 tests). */
class ExcelLoaderSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val xlsx = RefFixtures.path("uk_cities_with_headers.xlsx")
  private val ods = RefFixtures.path("excel_range.ods")

  test("xlsx: uk_cities loads 37 rows with inferred city/lat/lng schema") {
    assume(RefFixtures.present("uk_cities_with_headers.xlsx"))
    // mirrors load_xlsx_with_yaml_config (excel.rs:666-691): 37 rows
    val df = Loaders.load(spark, TableSource("uk", xlsx,
      options = Map("sheet_name" -> "uk_cities_with_headers")))
    assert(df.count() === 37)
    assert(df.schema === StructType(Seq(
      StructField("city", StringType, nullable = true),
      StructField("lat", DoubleType, nullable = true),
      StructField("lng", DoubleType, nullable = true))))
  }

  test("xlsx: values match the CSV fixture of the same table") {
    assume(RefFixtures.present("uk_cities_with_headers.xlsx", "uk_cities_with_headers.csv"))
    val xdf = Loaders.load(spark, TableSource("uk", xlsx))
    val cdf = Loaders.load(spark,
      TableSource("uk_csv", RefFixtures.path("uk_cities_with_headers.csv")))
      .toDF("city", "lat", "lng")
    assert(xdf.exceptAll(cdf).count() === 0)
    assert(cdf.exceptAll(xdf).count() === 0)
  }

  test("xlsx: unknown sheet name errors with available sheets listed") {
    assume(RefFixtures.present("uk_cities_with_headers.xlsx"))
    val e = intercept[IllegalArgumentException] {
      Loaders.load(spark, TableSource("uk", xlsx, options = Map("sheet_name" -> "nope")))
    }
    assert(e.getMessage.contains("uk_cities_with_headers"))
  }

  test("ods: custom range without sheet name — 6 columns, 3 rows") {
    assume(RefFixtures.present("excel_range.ods"))
    // mirrors load_ods_with_custom_range_and_without_sheet_name
    // (excel.rs:690-720): rows 2..5, cols 1..6, 3 inference lines
    val df = Loaders.load(spark, TableSource("rng", ods, options = Map(
      "rows_range_start" -> "2", "rows_range_end" -> "5",
      "columns_range_start" -> "1", "columns_range_end" -> "6",
      "schema_inference_lines" -> "3")))
    assert(df.columns.length === 6)
    assert(df.count() === 3)
    assert(df.columns.toSeq === Seq("bool_column", "int_column", "float_column",
      "string_column", "datetime_column", "duration_column"))
  }

  test("inference lattice: two distinct non-null types vote Utf8, Null upgrades") {
    import ExcelLoader._
    // Int-vs-Float equivalent (all xlsx numerics are floats): float + string
    val s1 = inferSchema(
      Vector(CStr("a"), CStr("b")),
      Seq(Vector(CFloat(1.0), CFloat(2.0)), Vector(CStr("x"), CEmpty)))
    assert(s1.fields.map(_.dataType).toSeq === Seq(StringType, DoubleType))
    // all-empty column defaults to Utf8 (excel.rs:175)
    val s2 = inferSchema(Vector(CStr("a")), Seq(Vector(CEmpty)))
    assert(s2.fields.head.dataType === StringType)
    // header cell that isn't a string is an error (excel.rs:141-144)
    val e = intercept[IllegalArgumentException] {
      inferSchema(Vector(CStr("a"), CEmpty), Seq.empty)
    }
    assert(e.getMessage.contains("1th column name is empty"))
    // more values than header columns is an error (excel.rs:149-153)
    intercept[IllegalArgumentException] {
      inferSchema(Vector(CStr("a")), Seq(Vector(CFloat(1), CFloat(2))))
    }
  }

  test("header spaces become underscores") {
    import ExcelLoader._
    val s = inferSchema(Vector(CStr("float column")), Seq(Vector(CFloat(0.5))))
    assert(s.fields.head.name === "float_column")
  }

  test("colIndex decodes A1-style references") {
    import ExcelLoader._
    assert(colIndex("A1") === 0)
    assert(colIndex("B7") === 1)
    assert(colIndex("Z2") === 25)
    assert(colIndex("AA10") === 26)
    assert(colIndex("AZ3") === 51)
  }

  test("golden HTTP query over the xlsx table (reference api_test.rs:43-66)") {
    assume(RefFixtures.present("uk_cities_with_headers.xlsx"))
    val engine = new graft.server.Engine(spark, readOnly = true)
    engine.registerTable(TableSource("uk_cities", xlsx))
    val app = new graft.server.HttpApp(engine, 0).start()
    try {
      val client = java.net.http.HttpClient.newHttpClient()
      val r = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${app.boundPort}/api/sql"))
          .POST(java.net.http.HttpRequest.BodyPublishers.ofString(
            "SELECT city FROM uk_cities WHERE lat > 52 and lat < 53 and lng < -1"))
          .build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() === 200)
      assert(r.body() ===
        """[{"city":"Solihull, Birmingham, UK"},{"city":"Rugby, Warwickshire, UK"},""" +
          """{"city":"Sutton Coldfield, West Midlands, UK"},{"city":"Wolverhampton, West Midlands, UK"},""" +
          """{"city":"Frankton, Warwickshire, UK"}]""")
    } finally app.stop()
  }

  test("declared schema overrides inference and casts integral floats") {
    assume(RefFixtures.present("uk_cities_with_headers.xlsx"))
    val schema = StructType(Seq(
      StructField("city", StringType, nullable = true),
      StructField("lat", DoubleType, nullable = true),
      StructField("lng", DoubleType, nullable = true)))
    val df = Loaders.load(spark, TableSource("uk", xlsx, schema = Some(schema)))
    assert(df.schema === schema && df.count() === 37)
  }
}
