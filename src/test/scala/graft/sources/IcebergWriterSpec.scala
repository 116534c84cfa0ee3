package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Iceberg writer round-tripped through the repo's protocol-level reader
  * (the [[DeltaWriterSpec]] discipline for the other table format).
  * [[IcebergFixtures]] supplies the byte-built delete-file builders
  * (position-delete manifests, equality deletes, Puffin DVs) the
  * delete-aware compaction tests graft onto writer-made tables. */
class IcebergWriterSpec extends SparkSpec with IcebergFixtures {

  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_iceberg_w").toString + "/t"

  private def readBack(dir: String, opts: Map[String, String] = Map.empty): DataFrame =
    Loaders.load(spark, TableSource("iw_t", dir, Some("iceberg"), options = opts))

  private def idName(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("create + append + snapshot time travel round-trip through the reader") {
    val dir = newDir()
    val v1 = IcebergWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    assert(v1 == 1L)
    assert(idName(readBack(dir)) == Set(1L -> "a", 2L -> "b"))
    val v2 = IcebergWriter.write(Seq((3L, "c")).toDF("id", "name"), dir)
    assert(v2 == 2L)
    assert(idName(readBack(dir)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // snapshot 1 is still readable (time travel by snapshot id)
    assert(idName(readBack(dir, Map("snapshot-id" -> "1"))) ==
      Set(1L -> "a", 2L -> "b"))
    // filesystem-catalog layout: versioned metadata + hint
    val meta = new java.io.File(dir + "/metadata").listFiles().map(_.getName)
    assert(meta.contains("v1.metadata.json") && meta.contains("v2.metadata.json"))
    assert(Files.readString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text")).trim == "2")
  }

  test("overwrite starts a fresh snapshot; the old one stays time-travelable") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    val v3 = IcebergWriter.write(Seq((9L, "z")).toDF("id", "name"), dir,
      mode = "overwrite")
    assert(v3 == 3L)
    assert(idName(readBack(dir)) == Set(9L -> "z"))
    assert(idName(readBack(dir, Map("snapshot-id" -> "2"))) ==
      Set(1L -> "a", 2L -> "b"))
  }

  test("append schema mismatch fails; overwrite replaces the schema with new field ids") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    val bad = intercept[IllegalArgumentException] {
      IcebergWriter.write(Seq((1.5, "a")).toDF("id", "name"), dir)
    }
    assert(bad.getMessage.contains("schema"))
    IcebergWriter.write(Seq(("x", 1L)).toDF("label", "n"), dir, mode = "overwrite")
    val df = readBack(dir)
    assert(df.schema.fieldNames.toSeq == Seq("label", "n"))
    // time travel to the pre-overwrite snapshot reads the OLD schema
    // (snapshot-scoped schema-id)
    val old = readBack(dir, Map("snapshot-id" -> "1"))
    assert(old.schema.fieldNames.toSeq == Seq("id", "name"))
    assert(idName(old) == Set(1L -> "a"))
  }

  test("snapshot-summary ledger makes appends idempotent") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    assert(IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir,
      txn = Some(("appX", 7L))) == 2L)
    // same and older batch ids: skipped
    assert(IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir,
      txn = Some(("appX", 7L))) == 2L)
    assert(IcebergWriter.write(Seq((3L, "c")).toDF("id", "name"), dir,
      txn = Some(("appX", 5L))) == 2L)
    // newer id and a different app both commit
    assert(IcebergWriter.write(Seq((4L, "d")).toDF("id", "name"), dir,
      txn = Some(("appX", 8L))) == 3L)
    assert(IcebergWriter.write(Seq((5L, "e")).toDF("id", "name"), dir,
      txn = Some(("appY", 0L))) == 4L)
    assert(idName(readBack(dir)) ==
      Set(1L -> "a", 2L -> "b", 4L -> "d", 5L -> "e"))
  }

  test("a foreign metadata version in the directory is skipped, not clobbered") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    // some other process parked a v2 file (the put-if-absent commit point
    // means the writer can never overwrite it — it advances past). A
    // FRESH unparseable occupant is treated as a possibly-in-flight
    // concurrent commit and fails loudly (TOCTOU guard)...
    val junk = java.nio.file.Path.of(dir + "/metadata/v2.metadata.json")
    Files.writeString(junk, "{}")
    val inflight = intercept[IllegalStateException] {
      IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    }
    assert(inflight.getMessage.contains("commit race"))
    // ...an occupant only MINUTES old still counts as possibly-in-flight
    // (a stalled-but-alive writer: GC pause, slow store — advisor finding;
    // the old 60 s bound misclassified those as junk)...
    assert(junk.toFile.setLastModified(System.currentTimeMillis() - 10 * 60_000L))
    val stalled = intercept[IllegalStateException] {
      IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    }
    assert(stalled.getMessage.contains("commit race"))
    // ...while junk parked HOURS ago is provably dead and skipped over
    assert(junk.toFile.setLastModified(System.currentTimeMillis() - 7L * 3600_000L))
    val v = IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    assert(v == 3L)
    assert(Files.readString(junk) == "{}") // untouched
    assert(idName(readBack(dir)) == Set(1L -> "a", 2L -> "b"))
    // a lagging hint SELF-HEALS: a crashed writer left real metadata at
    // v4 with the hint still at 3 — resolution prefers the newer real
    // file, so the next commit builds on v4's lineage at v5 instead of
    // wedging forever on a phantom "commit race"
    Files.writeString(java.nio.file.Path.of(dir + "/metadata/v4.metadata.json"),
      Files.readString(java.nio.file.Path.of(dir + "/metadata/v3.metadata.json")))
    assert(Files.readString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text")).trim == "3")
    val v5 = IcebergWriter.write(Seq((3L, "c")).toDF("id", "name"), dir)
    assert(v5 == 5L)
    assert(Files.readString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text")).trim == "5")
    assert(idName(readBack(dir)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("manifest record counts are true footer counts") {
    val dir = newDir()
    IcebergWriter.write((1L to 10L).map(i => (i, s"d$i")).toDF("id", "name")
      .coalesce(1), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "metadata"))
      .map(_.getPath).find(_.getName.startsWith("graft-m")).get
    val in = fs.open(manifest)
    val bytes = try in.readAllBytes() finally in.close()
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(bytes),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val entry = reader.next()
    reader.close()
    val dataFile = entry.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
    assert(dataFile.get("record_count").asInstanceOf[Long] == 10L)
  }

  test("appending onto a legacy-v1 metadata layout normalizes, not bricks, the table") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    // surgically rewrite the metadata into the v1 shape: top-level `schema`,
    // no `schemas` array, format-version 1
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = java.nio.file.Path.of(dir + "/metadata/v1.metadata.json")
    val node = mapper.readTree(java.nio.file.Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val schema0 = node.get("schemas").get(0)
    node.remove("schemas"); node.remove("current-schema-id")
    node.set[com.fasterxml.jackson.databind.node.ObjectNode]("schema", schema0)
    node.put("format-version", 1)
    java.nio.file.Files.writeString(p, mapper.writeValueAsString(node))
    // drop the hadoop checksum sidecar the out-of-band rewrite invalidated
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Path.of(dir + "/metadata/.v1.metadata.json.crc"))
    assert(idName(readBack(dir)) == Set(1L -> "a")) // legacy form reads fine
    // append must produce WELL-FORMED v2 metadata (a schemas array built
    // from the legacy schema), and the table stays fully readable
    IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    assert(idName(readBack(dir)) == Set(1L -> "a", 2L -> "b"))
    val v2 = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Path.of(dir + "/metadata/v2.metadata.json")))
    assert(v2.get("schemas").isArray && v2.get("schemas").size() == 1)
    // and overwrite on the same legacy-derived lineage assigns the next id
    IcebergWriter.write(Seq(("x", 9L)).toDF("label", "n"), dir, mode = "overwrite")
    assert(readBack(dir).schema.fieldNames.toSeq == Seq("label", "n"))
  }

  test("expireSnapshots folds dropped ledger summaries into table properties") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir,
      txn = Some(("appZ", 5L)))
    IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir) // current
    Thread.sleep(5)
    // expiry drops snapshot 1 — the only carrier of appZ's batch id 5
    IcebergWriter.expireSnapshots(spark, dir, olderThanMs = 0L)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = Files.readString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text")).trim
    val meta = mapper.readTree(Files.readString(java.nio.file.Path.of(
      dir + s"/metadata/v$hint.metadata.json")))
    assert(meta.get("properties").get("graft-ledger-appZ").asText() == "5")
    // redelivery of batch 5 still skips; batch 6 still commits
    val before = readBack(dir).count()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir,
      txn = Some(("appZ", 5L)))
    assert(readBack(dir).count() == before)
    IcebergWriter.write(Seq((3L, "c")).toDF("id", "name"), dir,
      txn = Some(("appZ", 6L)))
    assert(readBack(dir).count() == before + 1)
    // the folded property SURVIVES later writes (review finding: write()
    // rebuilt metadata from a template that dropped `properties`, which
    // would silently re-open the exactly-once door for any OTHER app)
    val hint2 = Files.readString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text")).trim
    val meta2 = mapper.readTree(Files.readString(java.nio.file.Path.of(
      dir + s"/metadata/v$hint2.metadata.json")))
    assert(meta2.get("properties").get("graft-ledger-appZ").asText() == "5")
  }

  private def dataParquetFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(dir + "/data"))
  }

  test("identity-partitioned create + append: spec in metadata, pure per-tuple files") {
    val dir = newDir()
    val df = Seq((1L, "us", "a"), (2L, "us", "b"), (3L, "eu", "c"),
      (4L, "ap", "d")).toDF("id", "region", "name")
    IcebergWriter.write(df, dir, partitionBy = Seq("region"))
    val back = readBack(dir)
    // the identity source column is IN the data files, per spec
    assert(back.schema.fieldNames.toSeq == Seq("id", "region", "name"))
    assert(back.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet == Set((1L, "us", "a"), (2L, "us", "b"), (3L, "eu", "c"), (4L, "ap", "d")))
    // metadata declares the identity spec
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readString(
      java.nio.file.Path.of(dir + "/metadata/v1.metadata.json")))
    val spec = meta.get("partition-specs").get(meta.get("default-spec-id").asInt())
    val f0 = spec.get("fields").get(0)
    assert(f0.get("name").asText() == "region")
    assert(f0.get("transform").asText() == "identity")
    assert(f0.get("field-id").asInt() == 1000)
    assert(meta.get("last-partition-id").asInt() == 1000)
    // every data file holds exactly ONE partition tuple
    dataParquetFiles(dir).foreach { f =>
      assert(spark.read.parquet(f.toString)
        .select("region").distinct().count() == 1L, f)
    }
    // an append with no partitionBy INHERITS the table spec
    IcebergWriter.write(Seq((5L, "us", "e")).toDF("id", "region", "name"), dir)
    assert(readBack(dir).count() == 5)
    // a mismatched partitioning refuses loudly
    val bad = intercept[IllegalArgumentException] {
      IcebergWriter.write(Seq((6L, "us", "f")).toDF("id", "region", "name"),
        dir, partitionBy = Seq("name"))
    }
    assert(bad.getMessage.contains("partition"))
    // float partition keys refuse
    val badType = intercept[IllegalArgumentException] {
      IcebergWriter.write(Seq((1L, 1.5, "x")).toDF("id", "score", "name"),
        newDir(), partitionBy = Seq("score"))
    }
    assert(badType.getMessage.contains("identity-partition"))
    // empty-string partition values refuse: the dynamic-partition layout
    // maps "" and null to the SAME dir, so the manifest would record null
    // for a file holding ""-rows and external pruning would drop them
    val badEmpty = intercept[IllegalArgumentException] {
      IcebergWriter.write(Seq((7L, "", "x")).toDF("id", "region", "name"),
        newDir(), partitionBy = Seq("region"))
    }
    assert(badEmpty.getMessage.contains("empty-string"))
  }

  test("partition tuples (incl. null and date values) land in the manifest entries") {
    val dir = newDir()
    val df = Seq(
      (1L, Option("us"), java.sql.Date.valueOf("2024-03-01")),
      (2L, None, java.sql.Date.valueOf("2024-03-02")))
      .toDF("id", "region", "day")
    IcebergWriter.write(df, dir, partitionBy = Seq("region", "day"))
    assert(readBack(dir).count() == 2)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifest = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "metadata"))
      .map(_.getPath).find(_.getName.startsWith("graft-m")).get
    val in = fs.open(manifest)
    val bytes = try in.readAllBytes() finally in.close()
    val reader = new org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord](
      new org.apache.avro.file.SeekableByteArrayInput(bytes),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    val tuples = scala.collection.mutable.Set[(Option[String], Option[Int])]()
    while (reader.hasNext) {
      val e = reader.next()
      val p = e.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("partition").asInstanceOf[org.apache.avro.generic.GenericRecord]
      tuples += ((Option(p.get("region")).map(String.valueOf),
        Option(p.get("day")).map(_.asInstanceOf[Number].intValue())))
    }
    reader.close()
    val d1 = java.time.LocalDate.parse("2024-03-01").toEpochDay.toInt
    val d2 = java.time.LocalDate.parse("2024-03-02").toEpochDay.toInt
    assert(tuples.toSet == Set((Some("us"), Some(d1)), (None, Some(d2))))
  }

  test("per-tuple files make partition pruning observable through the column index") {
    val dir = newDir()
    val df = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "eu" else if (i % 3 == 1) "us" else "ap", s"d$i"))
      .toDF("id", "region", "name").repartition(4)
    IcebergWriter.write(df, dir, partitionBy = Seq("region"))
    val idx = ColumnIndex.build(spark, dir + "/data", Seq("region"))
    val kept = idx.prune(Seq(("region", "eq", "'us'"))).get
    assert(kept.nonEmpty && kept.size < idx.fileCount,
      s"expected a real prune, kept ${kept.size} of ${idx.fileCount}")
    // every surviving file really is a us file (zones were per-tuple tight)
    kept.foreach { f =>
      val regions = spark.read.parquet(f).select("region")
        .distinct().collect().map(_.getString(0)).toSeq
      assert(regions == Seq("us"), s"$f -> $regions")
    }
  }

  test("overwrite may re-partition: new spec entry, old snapshot keeps its own") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "us", "a"), (2L, "eu", "b"))
      .toDF("id", "region", "name"), dir, partitionBy = Seq("region"))
    IcebergWriter.write(Seq((3L, "us", "c"), (4L, "eu", "d"))
      .toDF("id", "region", "name"), dir, mode = "overwrite",
      partitionBy = Seq("name"))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readString(
      java.nio.file.Path.of(dir + "/metadata/v2.metadata.json")))
    assert(meta.get("partition-specs").size() == 2)
    val cur = meta.get("default-spec-id").asInt()
    assert(cur == 1)
    val curSpec = meta.get("partition-specs").get(1)
    assert(curSpec.get("fields").get(0).get("name").asText() == "name")
    // fresh partition field-ids above the prior last-partition-id
    assert(curSpec.get("fields").get(0).get("field-id").asInt() == 1001)
    assert(meta.get("last-partition-id").asInt() == 1001)
    // both snapshots readable
    assert(readBack(dir).select("id").collect().map(_.getLong(0)).toSet == Set(3L, 4L))
    assert(readBack(dir, Map("snapshot-id" -> "1"))
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
    // a spec transform this writer does not speak refuses the write
    val p = java.nio.file.Path.of(dir + "/metadata/v2.metadata.json")
    val node = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val fields = node.get("partition-specs").get(1).get("fields").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    fields.put("transform", "void")
    Files.writeString(p, mapper.writeValueAsString(node))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Path.of(dir + "/metadata/.v2.metadata.json.crc"))
    val e = intercept[IllegalArgumentException] {
      IcebergWriter.write(Seq((9L, "x", "z")).toDF("id", "region", "name"), dir)
    }
    assert(e.getMessage.contains("void"))
  }

  test("expireSnapshots prunes metadata and deletes only unreachable files") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir) // snap 1
    IcebergWriter.write(Seq((9L, "z")).toDF("id", "name"), dir,
      mode = "overwrite") // snap 2: snap 1's data is now unreachable-if-expired
    IcebergWriter.write(Seq((10L, "y")).toDF("id", "name"), dir) // snap 3 (current)
    def dataFileCount() = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir + "/data"))
    }
    val before = dataFileCount()
    // nothing old enough -> no-op
    assert(IcebergWriter.expireSnapshots(spark, dir,
      olderThanMs = 24 * 3600 * 1000L) == ((0, 0L)))
    // expire everything non-current: snaps 1 and 2 go; snap 2's files are
    // still reachable from snapshot 3 (carried manifests) and MUST stay
    val (expired, deleted) = IcebergWriter.expireSnapshots(spark, dir, olderThanMs = 0L)
    assert(expired == 2)
    assert(deleted >= 3L, s"deleted $deleted") // snap1+2 lists, snap1 manifest+data
    assert(dataFileCount() < before) // snap 1's overwritten data is gone
    assert(idName(readBack(dir)) == Set(9L -> "z", 10L -> "y")) // current intact
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(java.nio.file.Path.of(dir + "/metadata/v4.metadata.json")))
    assert(meta.get("snapshots").size() == 1)
    // time travel to an expired snapshot fails loudly
    intercept[Exception] { idName(readBack(dir, Map("snapshot-id" -> "1"))) }
    // and the table keeps working: a fresh append commits on v4's lineage
    IcebergWriter.write(Seq((11L, "w")).toDF("id", "name"), dir)
    assert(idName(readBack(dir)) == Set(9L -> "z", 10L -> "y", 11L -> "w"))
  }

  test("compactDataFiles packs small files into a replace snapshot") {
    val dir = newDir()
    // five micro-batch appends -> five tiny files, five snapshots
    (0 until 5).foreach(i =>
      IcebergWriter.write(Seq((i.toLong, s"n$i")).toDF("id", "name"), dir))
    def liveFiles() = {
      def walk(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      walk(new java.io.File(dir + "/data"))
    }
    val before = idName(readBack(dir))
    assert(before.size == 5)
    val v = IcebergWriter.compactDataFiles(spark, dir, targetFileBytes = 1L << 20)
    assert(v == 6L)
    assert(idName(readBack(dir)) == before) // same rows through the swap
    // the new snapshot's scan reads ONE packed file; old files remain on
    // disk for the prior snapshots until expireSnapshots
    assert(readBack(dir).inputFiles.length == 1)
    assert(liveFiles() == 6) // 5 originals + 1 packed
    assert(idName(readBack(dir, Map("snapshot-id" -> "3"))).size == 3)
    // the compaction snapshot is a `replace`
    val meta = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(java.nio.file.Path.of(dir + "/metadata/v6.metadata.json")))
    val last = meta.get("snapshots").get(meta.get("snapshots").size() - 1)
    assert(last.get("summary").get("operation").asText() == "replace")
    // a second pass is a no-op; appends keep working on the packed table
    assert(IcebergWriter.compactDataFiles(spark, dir) == -1L)
    IcebergWriter.write(Seq((9L, "post")).toDF("id", "name"), dir)
    assert(idName(readBack(dir)) == before + (9L -> "post"))
    // expire then reclaims the five replaced originals
    val (expired, deleted) = IcebergWriter.expireSnapshots(spark, dir, olderThanMs = 0L)
    assert(expired == 6 && deleted >= 5L, s"($expired, $deleted)")
    assert(idName(readBack(dir)) == before + (9L -> "post"))
  }

  /** All entries of every live manifest: (status, seq, path, tuple values
    * by field name). */
  private def manifestEntries(dir: String)
      : Seq[(Int, Long, String, Map[String, Any])] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = IcebergLoader.currentMetadataVersioned(fs, dir)._1
    val snapId = meta.get("current-snapshot-id").asLong()
    val snap = meta.get("snapshots").elements().asScala
      .find(_.get("snapshot-id").asLong() == snapId).get
    val ml = snap.get("manifest-list").asText()
    IcebergLoader.readAvro(fs, new org.apache.hadoop.fs.Path(ml)).flatMap { m =>
      val mp = String.valueOf(m.get("manifest_path"))
      IcebergLoader.readAvro(fs, new org.apache.hadoop.fs.Path(mp)).map { e =>
        val d = e.get("data_file")
          .asInstanceOf[org.apache.avro.generic.GenericRecord]
        val tuple: Map[String, Any] = d.getSchema.getField("partition") match {
          case null => Map.empty
          case _ => d.get("partition") match {
            case pr: org.apache.avro.generic.GenericRecord =>
              pr.getSchema.getFields.asScala.map(f =>
                f.name() -> (pr.get(f.name()) match {
                  case u: org.apache.avro.util.Utf8 => u.toString
                  case x => x
                })).toMap
            case _ => Map.empty
          }
        }
        (e.get("status").asInstanceOf[Number].intValue(),
          e.get("sequence_number").asInstanceOf[Number].longValue(),
          String.valueOf(d.get("file_path")), tuple)
      }
    }
  }

  test("partitioned compaction: per-tuple bin-pack, EXISTING carried entries") {
    val dir = newDir()
    // four appends: partition "a" collects 4 small files, partition "b" 1
    IcebergWriter.write(Seq((0L, "a", "n0"), (100L, "b", "m0"))
      .toDF("id", "grp", "name"), dir, partitionBy = Seq("grp"))
    (1 to 3).foreach(i =>
      IcebergWriter.write(Seq((i.toLong, "a", s"n$i")).toDF("id", "grp", "name"),
        dir, partitionBy = Seq("grp")))
    def content() = readBack(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val before = content()
    assert(before.size == 5)
    val beforeEntries = manifestEntries(dir)
    assert(beforeEntries.size == 5)
    val bSeqBefore = beforeEntries.filter(_._4("grp") == "b").map(_._2).head
    val v = IcebergWriter.compactDataFiles(spark, dir,
      targetFileBytes = 1L << 20)
    assert(v == 5L)
    assert(content() == before) // same rows through the swap
    val after = manifestEntries(dir)
    // "a" packed into one fresh ADDED file; "b"'s lone small file carried
    val aEntries = after.filter(_._4("grp") == "a")
    val bEntries = after.filter(_._4("grp") == "b")
    assert(aEntries.size == 1 && bEntries.size == 1, after)
    assert(aEntries.head._1 == 1, "packed file must be status ADDED")
    // the carried entry is EXISTING at its ORIGINAL sequence number — an
    // incremental reader must not see it as new data
    assert(bEntries.head._1 == 0, "carried file must be status EXISTING")
    assert(bEntries.head._2 == bSeqBefore,
      s"carried seq ${bEntries.head._2} != original $bSeqBefore")
    // the packed file holds only "a" rows; partition pruning still works
    assert(spark.read.parquet(aEntries.head._3)
      .select("grp").distinct().collect().map(_.getString(0)).toSeq == Seq("a"))
    // appends keep working; a second compact is a no-op
    assert(IcebergWriter.compactDataFiles(spark, dir) == -1L)
    IcebergWriter.write(Seq((9L, "a", "post")).toDF("id", "grp", "name"), dir)
    assert(content() == before + ((9L, "a", "post")))
  }

  test("removeOrphanFiles reclaims unreferenced files; cleanupMetadata bounds the catalog") {
    val dir = newDir()
    (0 until 7).foreach(i =>
      IcebergWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant orphans a crashed writer would leave: a moved-but-uncommitted
    // data file, the manifest list of a lost commit race, a scratch dir
    val orphanData = java.nio.file.Path.of(dir + "/data/orphan-dead.parquet")
    Files.write(orphanData, Array[Byte](1, 2, 3))
    val orphanAvro = java.nio.file.Path.of(dir + "/metadata/snap-999-dead.avro")
    Files.write(orphanAvro, Array[Byte](4, 5))
    val scratch = new java.io.File(dir + "/.graft_tmp_dead"); scratch.mkdirs()
    Files.write(java.nio.file.Path.of(scratch.getPath + "/part-dead.parquet"),
      Array[Byte](6))
    // an external ANALYZE's Puffin statistics file, referenced from the
    // CURRENT metadata — it ages immediately and only the statistics
    // keep-set can protect it (review finding: untested protection is a
    // permanent no-op waiting to happen); and a metadata-log entry that
    // must pin v2.metadata.json through cleanupMetadata
    val statsFile = java.nio.file.Path.of(dir + "/metadata/stats-7.puffin")
    Files.write(statsFile, Array[Byte](9, 9))
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val curMeta = java.nio.file.Path.of(dir + "/metadata/v7.metadata.json")
    val node = mapper.readTree(Files.readString(curMeta))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val statsArr = node.putArray("statistics")
    statsArr.addObject().put("snapshot-id", 7L)
      .put("statistics-path", statsFile.toString)
    val mlArr = node.putArray("metadata-log")
    mlArr.addObject().put("timestamp-ms", 1L)
      .put("metadata-file", dir + "/metadata/v2.metadata.json")
    Files.writeString(curMeta, mapper.writeValueAsString(node))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Path.of(dir + "/metadata/.v7.metadata.json.crc"))
    // age EVERYTHING (live data, manifests, orphans, the scratch's inner
    // file): only the reachability keep-set may now protect the live
    // files — a silently mismatched keep join would delete the table
    // (review finding: fresh live files made the age gate do that job)
    val old = System.currentTimeMillis() - 10L * 24 * 3600 * 1000
    def ageTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(ageTree)
      fs.setTimes(new org.apache.hadoop.fs.Path(f.getPath), old, -1)
    }
    ageTree(new java.io.File(dir))
    // one FRESH orphan that must survive on the age gate alone
    val freshOrphan = java.nio.file.Path.of(dir + "/data/orphan-fresh.parquet")
    Files.write(freshOrphan, Array[Byte](7))
    val n = IcebergWriter.removeOrphanFiles(spark, dir,
      olderThanMs = 60L * 1000)
    assert(n == 3L, s"deleted $n")
    assert(!Files.exists(orphanData) && !Files.exists(orphanAvro) &&
      !scratch.exists())
    assert(Files.exists(freshOrphan)) // inside the age window
    assert(Files.exists(statsFile)) // the statistics keep-set held
    // every snapshot still reads — reachability protected them all
    assert(readBack(dir).count() == 7)
    assert(idName(readBack(dir, Map("snapshot-id" -> "3"))).size == 3)
    // metadata retention: v1/v3/v4 retire, v2 pinned by metadata-log,
    // v5..v7 keep
    val md = IcebergWriter.cleanupMetadata(spark, dir, keepLast = 3)
    assert(md == 3L, s"deleted $md metadata files")
    assert(!new java.io.File(dir + "/metadata/v4.metadata.json").exists())
    assert(new java.io.File(dir + "/metadata/v2.metadata.json").exists(),
      "metadata-log must pin v2")
    assert(new java.io.File(dir + "/metadata/v5.metadata.json").exists())
    // reads, snapshot time travel, and appends all continue
    assert(readBack(dir).count() == 7)
    assert(idName(readBack(dir, Map("snapshot-id" -> "2"))).size == 2)
    IcebergWriter.write(Seq((99L, "post")).toDF("id", "name"), dir)
    assert(readBack(dir).count() == 8)
  }

  test("bucket transform murmur3 matches the spec's published vectors") {
    // iceberg spec Appendix B test vectors (hash, not bucket-mod)
    assert(IcebergWriter.bucketHashLong(34L) == 2017239379) // int and long widen alike
    assert(IcebergWriter.murmur3("iceberg".getBytes("UTF-8")) == 1210000089)
    // date 2017-11-16 = 17486 epoch days
    assert(IcebergWriter.bucketHashLong(17486L) == -653330422)
    // timestamp 2017-11-16T22:31:08 = 1510871468000000 micros
    assert(IcebergWriter.bucketHashLong(1510871468000000L) == -2047944441)
    assert(IcebergWriter.bucketN(2017239379, 16) == 2017239379 % 16)
    assert(IcebergWriter.bucketN(-653330422, 4) == ((-653330422 & Int.MaxValue) % 4))
  }

  test("days/bucket/truncate transforms: spec json, tuples, pruning, append") {
    val dir = newDir()
    val ts = (d: String, h: Int) =>
      java.time.LocalDateTime.parse(s"$d" + f"T$h%02d:00:00")
    val df = Seq(
      (1L, ts("2024-03-01", 1), "alpha"),
      (2L, ts("2024-03-01", 23), "alpine"),
      (3L, ts("2024-03-02", 5), "beta"),
      (4L, ts("2024-03-03", 12), "bear"))
      .toDF("id", "event_ts", "name").coalesce(1) // one file per tuple
    IcebergWriter.write(df, dir,
      partitionBy = Seq("days(event_ts)", "truncate(2,name)"))
    // spec json carries the transform serializations
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val meta = mapper.readTree(Files.readString(
      java.nio.file.Path.of(dir + "/metadata/v1.metadata.json")))
    val fields = meta.get("partition-specs").get(0).get("fields")
    assert(fields.get(0).get("name").asText() == "event_ts_day")
    assert(fields.get(0).get("transform").asText() == "day")
    assert(fields.get(0).get("source-id").asInt() == 2)
    assert(fields.get(1).get("transform").asText() == "truncate[2]")
    // rows round-trip with the SOURCE columns intact in the files
    val back = readBack(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "event_ts", "name"))
    assert(back.count() == 4)
    assert(back.where("name = 'alpine'").select("id").head().getLong(0) == 2L)
    // manifest tuples: day as epoch-day int, truncate as the 2-char prefix
    val d0 = java.time.LocalDate.parse("2024-03-01").toEpochDay.toInt
    val tuples = manifestEntries(dir).map(e =>
      (e._4("event_ts_day").asInstanceOf[Number].intValue(),
        e._4("name_trunc").toString)).toSet
    assert(tuples == Set((d0, "al"), (d0 + 1, "be"), (d0 + 2, "be")), tuples)
    // a time predicate prunes at FILE level through the manifest bounds
    val idx = ColumnIndex.buildFromIceberg(spark, dir, Seq("event_ts"))
    assert(idx.fileCount == 3)
    val kept = idx.prune(Seq(("event_ts", "gte", "'2024-03-03 00:00:00'"))).get
    assert(kept.size == 1, s"expected 1 surviving file, got ${kept.size}")
    // append with no partitionBy INHERITS the transform spec
    IcebergWriter.write(Seq((5L, ts("2024-03-01", 9), "ally"))
      .toDF("id", "event_ts", "name"), dir)
    assert(readBack(dir).count() == 5)
    // a semantically mismatched partitioning refuses
    val bad = intercept[IllegalArgumentException] {
      IcebergWriter.write(Seq((6L, ts("2024-03-01", 9), "x"))
        .toDF("id", "event_ts", "name"), dir, partitionBy = Seq("hours(event_ts)"))
    }
    assert(bad.getMessage.contains("partition"))
    // bucket: values land in [0, n), the same key always lands together,
    // and a NULL key rides the default partition with a null tuple value
    val bDir = newDir()
    val bdf = ((0L until 40L).map(i => (i, s"k${i % 10}")) :+ (40L -> null))
      .toDF("id", "key")
    IcebergWriter.write(bdf, bDir, partitionBy = Seq("bucket(4,key)"))
    assert(readBack(bDir).count() == 41)
    val buckets = manifestEntries(bDir).map(e =>
      Option(e._4("key_bucket")).map(_.asInstanceOf[Number].intValue()))
    assert(buckets.contains(None), buckets) // the null key's file
    assert(buckets.flatten.nonEmpty && buckets.flatten.forall(b => b >= 0 && b < 4),
      buckets)
    // identity partitioning on a timestamp still refuses, naming transforms
    val badTs = intercept[IllegalArgumentException] {
      IcebergWriter.write(df, newDir(), partitionBy = Seq("event_ts"))
    }
    assert(badTs.getMessage.contains("days"), badTs.getMessage)
    // unknown transform strings refuse loudly
    val badT = intercept[IllegalArgumentException] {
      IcebergWriter.write(df, newDir(), partitionBy = Seq("zoom(event_ts)"))
    }
    assert(badT.getMessage.contains("zoom"))
  }

  test("compaction carries untouched files' manifest stats verbatim") {
    val dir = newDir()
    // one BIG file (many rows) + three tiny ones
    IcebergWriter.write((0L until 3000L).map(i => (i, s"big$i"))
      .toDF("id", "name").coalesce(1), dir)
    (0 until 3).foreach(i =>
      IcebergWriter.write(Seq((10000L + i, s"t$i")).toDF("id", "name"), dir))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bigSize = fs.listStatus(new org.apache.hadoop.fs.Path(dir, "data"))
      .map(_.getLen).max
    // target between tiny and big: the three tiny files pack, big carries
    val v = IcebergWriter.compactDataFiles(spark, dir,
      targetFileBytes = bigSize, minFiles = 2)
    assert(v == 5L)
    assert(readBack(dir).count() == 3003)
    assert(readBack(dir).inputFiles.length == 2) // carried big + packed
    // the metadata index still has zones for BOTH — the carried file's
    // counts/bounds traveled verbatim, the packed one's were re-derived
    val idx = ColumnIndex.buildFromIceberg(spark, dir, Seq("id"))
    assert(idx.fileCount == 2)
    assert(idx.files.map(_.rows).sorted == Vector(3L, 3000L))
    assert(idx.files.forall(_.zones.contains("id")))
    assert(idx.prune(Seq(("id", "gte", "10000"))).get.size == 1)
  }

  // ---- delete-aware compaction ---------------------------------------------

  /** A v3 manifest entry for any content kind (the fixture trait's
    * builders are per-kind; the delete tests mix kinds in ONE manifest,
    * which needs one schema instance for positional Avro writing). */
  private def mkEntry(content: Int, path: String, format: String = "PARQUET",
                      seq: Option[Long] = None,
                      eqIds: Seq[Int] = Seq.empty)
      : org.apache.avro.generic.GenericRecord = {
    val e = new org.apache.avro.generic.GenericData.Record(manifestSchemaV3)
    val d = new org.apache.avro.generic.GenericData.Record(
      manifestSchemaV3.getField("data_file").schema())
    d.put("content", content)
    d.put("file_path", path)
    d.put("file_format", format)
    d.put("record_count", 0L)
    d.put("file_size_in_bytes", 0L)
    if (eqIds.nonEmpty)
      d.put("equality_ids", java.util.Arrays.asList(eqIds.map(Int.box): _*))
    e.put("status", 1)
    seq.foreach(s => e.put("sequence_number", Long.box(s)))
    e.put("data_file", d)
    e
  }

  /** Graft one DELETE snapshot onto a writer-made table, the way an
    * external engine's DELETE would: a new manifest list = the current
    * snapshot's entries + one content=1 manifest of `deleteEntries`,
    * committed as the next metadata version at sequence lastSeq+1
    * (entries without their own sequence_number inherit it). */
  private def addDeleteSnapshot(dir: String,
      deleteEntries: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val hint = Files.readString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text")).trim.toLong
    val node = mapper.readTree(Files.readString(java.nio.file.Path.of(
      dir + s"/metadata/v$hint.metadata.json")))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val newSeq = node.get("last-sequence-number").asLong() + 1
    val snaps = node.get("snapshots")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
    val all = (0 until snaps.size()).map(snaps.get)
    val cur = all.find(_.get("snapshot-id").asLong() ==
      node.get("current-snapshot-id").asLong()).get
    val newSnapId = all.map(_.get("snapshot-id").asLong()).max + 1
    val dm = new java.io.File(dir + s"/metadata/del-m$newSnapId.avro")
    writeAvro(manifestSchemaV3, deleteEntries, dm)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val oldEntries = IcebergLoader.readAvro(fs,
      new org.apache.hadoop.fs.Path(cur.get("manifest-list").asText()))
    val del = listEntry(dm.getAbsolutePath, content = 1, snap = newSnapId)
    del.put("manifest_length", dm.length())
    del.put("sequence_number", Long.box(newSeq))
    val listFile = new java.io.File(dir + s"/metadata/snap-del-$newSnapId.avro")
    writeAvro(manifestListSchema, oldEntries :+ del, listFile)
    snaps.add(mapper.readTree(
      s"""{"snapshot-id":$newSnapId,"sequence-number":$newSeq,
         |"timestamp-ms":${System.currentTimeMillis()},
         |"schema-id":${node.get("current-schema-id").asInt()},
         |"manifest-list":"${listFile.getAbsolutePath}",
         |"summary":{"operation":"delete"}}""".stripMargin))
    node.put("last-sequence-number", newSeq)
    node.put("current-snapshot-id", newSnapId)
    Files.writeString(java.nio.file.Path.of(
      dir + s"/metadata/v${hint + 1}.metadata.json"),
      mapper.writeValueAsString(node))
    Files.writeString(java.nio.file.Path.of(
      dir + "/metadata/version-hint.text"), (hint + 1).toString)
    // the writer wrote the hint through hadoop — NIO rewrites invalidate
    // its .crc sidecar
    java.nio.file.Files.deleteIfExists(java.nio.file.Path.of(
      dir + "/metadata/.version-hint.text.crc"))
    ()
  }

  /** Part files carry task UUIDs — find a data file by CONTENT. */
  private def dataFileWith(dir: String, pred: String): String =
    new java.io.File(dir + "/data").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .find(f => spark.read.parquet(f.getAbsolutePath).where(pred).count() == 1)
      .get.getAbsolutePath

  /** The current snapshot's manifest-list content codes (0 data, 1 deletes). */
  private def currentManifestContents(dir: String): Seq[Long] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (meta, _) = IcebergLoader.currentMetadataVersioned(fs, dir)
    val snaps = meta.get("snapshots").elements().asScala.toSeq
    val cur = snaps.find(_.get("snapshot-id").asLong() ==
      meta.get("current-snapshot-id").asLong()).get
    IcebergLoader.readAvro(fs,
        new org.apache.hadoop.fs.Path(cur.get("manifest-list").asText()))
      .map(m => IcebergLoader.longOr(m, "content", 0L))
  }

  test("compaction applies position deletes + DVs; spent delete files reclaim") {
    val dir = newDir()
    IcebergWriter.write(Seq((0L, "a0"), (1L, "a1"), (2L, "a2")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id"), dir)
    IcebergWriter.write(Seq((10L, "b0"), (11L, "b1")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id"), dir)
    val fileA = dataFileWith(dir, "id = 0")
    val fileB = dataFileWith(dir, "id = 10")
    // external DELETE snapshot: a position delete on fileA row 1 (id 1)
    // and a Puffin DV on fileB row 0 (id 10)
    val posDel = dir + "/data/pos-del.parquet"
    writeDataFile(Seq((fileA, 1L)).toDF("file_path", "pos"),
      new java.io.File(posDel))
    val (puffin, locs) = puffinFile(Seq(dvBlob(Seq(0L))))
    val puffinPath = dir + "/data/del.puffin"
    Files.write(java.nio.file.Path.of(puffinPath), puffin)
    addDeleteSnapshot(dir, Seq(
      mkEntry(1, posDel),
      entryDv(puffinPath, fileB, locs(0)._1, locs(0)._2)))
    def ids() = readBack(dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids() == Set(0L, 2L, 11L))
    // compaction MATERIALIZES the deletes instead of refusing
    val v = IcebergWriter.compactDataFiles(spark, dir, targetFileBytes = 1L << 20)
    assert(v == 4L)
    assert(ids() == Set(0L, 2L, 11L)) // reader equality across the rewrite
    assert(readBack(dir).inputFiles.length == 1)
    // physical purge: the packed file holds exactly the 3 surviving rows
    val packed = readBack(dir).inputFiles.head
    assert(spark.read.parquet(packed).count() == 3L)
    // the replace snapshot publishes NO delete manifests
    assert(currentManifestContents(dir) == Seq(0L))
    // ... which makes the spent delete files reclaimable: expire the
    // pre-compaction snapshots, then sweep
    Thread.sleep(5)
    IcebergWriter.expireSnapshots(spark, dir, olderThanMs = 0L)
    IcebergWriter.removeOrphanFiles(spark, dir, olderThanMs = 0L)
    assert(!new java.io.File(posDel).exists(), "position-delete file must reclaim")
    assert(!new java.io.File(puffinPath).exists(), "puffin DV must reclaim")
    assert(ids() == Set(0L, 2L, 11L))
  }

  test("compaction materializes sequence-gated equality deletes; stale ones just drop") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir) // seq 1
    IcebergWriter.write(Seq((3L, "c"), (4L, "d")).toDF("id", "name"), dir) // seq 2
    // equality delete at seq 3 on field id 1 (= `id`): tombstones 2 and 3
    // outrank BOTH data files
    val eqDel = dir + "/data/eq-del.parquet"
    writeDataFile(Seq(2L, 3L).toDF("id"), new java.io.File(eqDel))
    addDeleteSnapshot(dir, Seq(mkEntry(2, eqDel, eqIds = Seq(1))))
    assert(idName(readBack(dir)) == Set(1L -> "a", 4L -> "d"))
    IcebergWriter.compactDataFiles(spark, dir, targetFileBytes = 1L << 20)
    assert(idName(readBack(dir)) == Set(1L -> "a", 4L -> "d"))
    assert(readBack(dir).inputFiles.length == 1)
    assert(currentManifestContents(dir) == Seq(0L))
    // a STALE equality delete (sequence 1 vs data at 1 and 2) applies to
    // nothing — per spec it only reaches STRICTLY older sequences — so
    // nothing rewrites; the commit's only job is retiring the spent
    // delete manifest so the delete file can expire
    val dir2 = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir2)
    IcebergWriter.write(Seq((4L, "d")).toDF("id", "name"), dir2)
    val eq2 = dir2 + "/data/eq-del2.parquet"
    writeDataFile(Seq(4L).toDF("id"), new java.io.File(eq2))
    addDeleteSnapshot(dir2, Seq(mkEntry(2, eq2, seq = Some(1L), eqIds = Seq(1))))
    assert(idName(readBack(dir2)) == Set(1L -> "a", 4L -> "d"))
    // inputFiles pre-compaction includes the equality-delete scan too —
    // compare only the DATA part files to prove both carried unrewritten
    val before = readBack(dir2).inputFiles.toSet
      .filter(_.contains("/part-"))
    val v2 = IcebergWriter.compactDataFiles(spark, dir2, targetFileBytes = 1L)
    assert(v2 == 4L)
    assert(idName(readBack(dir2)) == Set(1L -> "a", 4L -> "d"))
    assert(readBack(dir2).inputFiles.toSet == before) // both carried, no rewrite
    assert(currentManifestContents(dir2) == Seq(0L))
  }

  test("compaction refuses tables with column rename or drop-readd history") {
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    // simulate a rename in the schema history: a second schemas entry
    // where field id 2 is called "label" instead of "name"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val p = java.nio.file.Path.of(dir + "/metadata/v1.metadata.json")
    val node = mapper.readTree(Files.readString(p))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val renamed = node.get("schemas").get(0)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    renamed.put("schema-id", 1)
    renamed.get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("name", "label")
    node.get("schemas")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(renamed)
    Files.writeString(p, mapper.writeValueAsString(node))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Path.of(dir + "/metadata/.v1.metadata.json.crc"))
    val e = intercept[IllegalArgumentException] {
      IcebergWriter.compactDataFiles(spark, dir)
    }
    assert(e.getMessage.contains("rename"))
    // but this writer's OWN overwrite assigns fresh field ids to a whole
    // new schema generation — a new id-LINEAGE, not drop-and-readd, and
    // compaction must keep working (review finding: the name-under-two-ids
    // check false-positived on every overwritten table)
    val dir2 = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir2)
    IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir2,
      mode = "overwrite")
    IcebergWriter.write(Seq((3L, "c")).toDF("id", "name"), dir2)
    assert(IcebergWriter.compactDataFiles(spark, dir2,
      targetFileBytes = 1L << 20) == 4L)
    assert(idName(readBack(dir2)) == Set(2L -> "b", 3L -> "c"))
    // an EXTERNAL engine can re-declare the same names under fresh ids
    // WITHOUT rewriting files — live files then predate the current
    // generation and the name-based read would misresolve them: refuse
    val dir3 = newDir()
    IcebergWriter.write(Seq((1L, "a")).toDF("id", "name"), dir3)
    IcebergWriter.write(Seq((2L, "b")).toDF("id", "name"), dir3)
    val m3 = java.nio.file.Path.of(dir3 + "/metadata/v2.metadata.json")
    val n3 = mapper.readTree(Files.readString(m3))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    val gen1 = n3.get("schemas").get(0)
      .deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    gen1.put("schema-id", 1)
    gen1.get("fields").get(0)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("id", 11)
    gen1.get("fields").get(1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].put("id", 12)
    n3.get("schemas")
      .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode].add(gen1)
    n3.put("current-schema-id", 1)
    val snaps3 = n3.get("snapshots")
    snaps3.get(snaps3.size() - 1)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      .put("schema-id", 1)
    Files.writeString(m3, mapper.writeValueAsString(n3))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Path.of(dir3 + "/metadata/.v2.metadata.json.crc"))
    val e3 = intercept[IllegalArgumentException] {
      IcebergWriter.compactDataFiles(spark, dir3, targetFileBytes = 1L << 20)
    }
    assert(e3.getMessage.contains("misresolve"), e3.getMessage)
  }

  test("data files carry parquet FIELD IDS matching the table schema (spec conformance)") {
    import spark.implicits._
    // iceberg spec §Parquet: data files record field ids so engines
    // resolve columns by ID — files without them need a name-mapping
    // property to be readable by real iceberg readers at all
    def footerIds(dir: String): Map[String, Set[Option[Int]]] = {
      val conf = spark.sparkContext.hadoopConfiguration
      val files = Seq.newBuilder[org.apache.hadoop.fs.Path]
      def walk(p: java.io.File): Unit = p.listFiles().foreach { f =>
        if (f.isDirectory) walk(f)
        else if (f.getName.endsWith(".parquet"))
          files += new org.apache.hadoop.fs.Path(f.getAbsolutePath)
      }
      walk(new java.io.File(dir + "/data"))
      files.result().flatMap { p =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
        try r.getFooter.getFileMetaData.getSchema.getFields.asScala
          .map(f => f.getName -> Option(f.getId).map(_.intValue()))
        finally r.close()
      }.groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).toSet }
    }
    val dir = newDir()
    IcebergWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .coalesce(1), dir) // ids assigned 1, 2
    IcebergDml.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "name"),
      dir, Seq("id")) // DML replacement files stamp too
    IcebergWriter.compactDataFiles(spark, dir, targetFileBytes = 64L << 20)
    val ids = footerIds(dir)
    assert(ids("id") == Set(Some(1)), ids.toString)
    assert(ids("name") == Set(Some(2)), ids.toString)
    // and the table still reads correctly end to end
    assert(load(dir).collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("iceberg schema json assigns depth-first field ids and round-trips types") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("tags", ArrayType(StringType, containsNull = true)),
      StructField("kv", MapType(StringType, DoubleType, valueContainsNull = false)),
      StructField("nested", StructType(Seq(
        StructField("x", IntegerType), StructField("y", DecimalType(10, 2)))))))
    val (json, lastId) = IcebergWriter.icebergSchemaJson(schema, 0, 0)
    // ids: id=1, tags=2(elem 3), kv=4(key 5, value 6), nested=7(x 8, y 9)
    assert(lastId == 9, json)
    val spark2 = IcebergLoader.tableSchema(
      new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        s"""{"schemas":[$json],"current-schema-id":0}"""))
    assert(spark2("id").dataType == LongType)
    assert(spark2("tags").dataType == ArrayType(StringType, containsNull = true))
    assert(spark2("kv").dataType == MapType(StringType, DoubleType, valueContainsNull = false))
    assert(spark2("nested").dataType.asInstanceOf[StructType]("y").dataType ==
      DecimalType(10, 2))
  }
}
