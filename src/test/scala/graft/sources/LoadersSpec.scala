package graft.sources

import java.nio.file.Files

import graft.{RefFixtures, SparkSpec}

class LoadersSpec extends SparkSpec {

  private def tmpFile(name: String, content: String): String = {
    val d = Files.createTempDirectory("graft_fixtures")
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("csv with header and inferred schema") {
    val p = tmpFile("cities.csv", "city,lat,lng\nOslo,59.91,10.75\nPune,18.52,73.86\n")
    val df = Loaders.load(spark, TableSource("cities", p))
    assert(df.columns.toSeq == Seq("city", "lat", "lng"))
    assert(df.count() == 2)
    assert(df.schema("lat").dataType.typeName == "double")
  }

  test("tsv via format option") {
    val p = tmpFile("t.tsv", "a\tb\n1\t2\n")
    val df = Loaders.load(spark, TableSource("t", p, Some("tsv")))
    assert(df.count() == 1 && df.columns.length == 2)
  }

  test("ndjson lines") {
    val p = tmpFile("x.ndjson", """{"a": 1, "b": "x"}""" + "\n" + """{"a": 2, "b": "y"}""" + "\n")
    val df = Loaders.load(spark, TableSource("x", p))
    assert(df.count() == 2)
  }

  test("json document with RFC-6901 pointer") {
    val p = tmpFile("doc.json",
      """{"meta": {"n": 2}, "data": {"rows": [{"id": 1, "name": "a"}, {"id": 2, "name": "b"}]}}""")
    val df = Loaders.load(spark,
      TableSource("doc", p, Some("json"), pointer = Some("/data/rows")))
    assert(df.count() == 2)
    assert(df.columns.sorted.toSeq == Seq("id", "name"))
  }

  test("array-encoded json rows require and use declared schema") {
    val p = tmpFile("arr.json", """{"aaData": [[1, "x", 1.5], [2, "y", 2.5]]}""")
    val schema = TableSource.parseSchema(Seq(
      ("id", "BIGINT", false), ("name", "STRING", true), ("score", "DOUBLE", true)))
    val df = Loaders.load(spark, TableSource("arr", p, Some("json"),
      pointer = Some("/aaData"), arrayEncoded = true, schema = Some(schema)))
    val rows = df.orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.map(_.getString(1)).toSeq == Seq("x", "y"))
    // missing schema is an error
    intercept[IllegalArgumentException] {
      Loaders.load(spark, TableSource("arr2", p, Some("json"),
        pointer = Some("/aaData"), arrayEncoded = true))
    }
  }

  test("deeply-nested JSON document with inference (reference spacex fixture)") {
    assume(RefFixtures.present("spacex_launches.json"))
    val df = Loaders.load(spark, TableSource("spacex_launches",
      RefFixtures.path("spacex_launches.json"), Some("json")))
    assert(df.count() == 132)
    // nested struct access via dotted path (links.patch.small is a struct field)
    assert(df.schema("links").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val ok = df.select(org.apache.spark.sql.functions.col("links.patch.small"))
      .na.drop.count()
    assert(ok > 0)
    val succeeded = df.filter("success = true").count()
    assert(succeeded > 0 && succeeded < 132)
  }

  test("uri arg grammar name=uri,opt=val") {
    val src = TableSource.parseUriArg(
      "blogs=/data/blogs.csv,format=csv,has_header=false,reload_interval=30")
    assert(src.name == "blogs" && src.resolvedFormat == "csv")
    assert(src.options("has_header") == "false")
    assert(src.reloadIntervalSec.contains(30L))
  }

  test("format inference failure is a clear error") {
    intercept[IllegalArgumentException] {
      TableSource("x", "/data/file.unknown").resolvedFormat
    }
  }

  test("orc round-trip with predicate pushdown into the scan") {
    val d = Files.createTempDirectory("graft_orc").toString + "/docs"
    graft.Tables.t(spark, "/root/testdata/sf0.001", "documents")
      .write.mode("overwrite").orc(d)
    val df = Loaders.load(spark, TableSource("docs_orc", d, Some("orc")))
    assert(df.count() ==
      graft.Tables.t(spark, "/root/testdata/sf0.001", "documents").count())
    // filters must reach the ORC scan, same as the parquet listing path
    val q = df.filter("doc_id = 7").select("doc_id", "source")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(doc_id,7"),
      s"no pushdown in:\n$plan")
    assert(q.count() == 1)
    // extension inference: .orc resolves without an explicit format
    assert(TableSource("t", d + "/whatever.orc").resolvedFormat == "orc")
  }
}
