package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, RefFixtures}

/** Log-replay parity with the reference's delta-rs-backed loader
  * (reference: columnq/src/table/delta.rs:310-380 tests + the public Delta
  * transaction log protocol). */
class DeltaLoaderSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  private val blogsDelta = RefFixtures.path("blogs-delta")

  test("blogs-delta fixture loads with the log-declared schema and row count") {
    assume(RefFixtures.present("blogs-delta/_delta_log"))
    val df = Loaders.load(spark, TableSource("blogs", blogsDelta, format = Some("delta")))
    assert(df.count() === 500) // commitInfo.operationMetrics.numOutputRows
    assert(df.schema.fieldNames.toSeq === Seq("reply_id", "next_id", "blog_id"))
    // row-identical to reading the live parquet file directly
    val direct = spark.read.parquet(
      s"$blogsDelta/part-00000-91e75e45-f604-46ac-aa68-b3542389889a-c000.snappy.parquet")
    assert(df.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(df).count() === 0)
  }

  test("format auto-detected from _delta_log directory") {
    assume(RefFixtures.present("blogs-delta/_delta_log"))
    val src = TableSource("blogs", blogsDelta)
    assert(src.resolvedFormat === "delta")
    assert(Loaders.load(spark, src).count() === 500)
  }

  private def writeCommit(dir: String, version: Long, lines: Seq[String]): Unit = {
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    Files.write(log.resolve(f"$version%020d.json"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private val schemaString =
    """{"type":"struct","fields":[
      |{"name":"id","type":"long","nullable":true,"metadata":{}},
      |{"name":"v","type":"string","nullable":true,"metadata":{}},
      |{"name":"ds","type":"string","nullable":true,"metadata":{}}]}""".stripMargin.replace("\n", "")

  private def metaAction(partCols: String = """["ds"]"""): String =
    s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
      s""""schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
        .writeValueAsString(schemaString)},"partitionColumns":$partCols,"configuration":{}}}"""

  /** Build a partitioned two-commit Delta table by hand. */
  private def makePartitionedTable(): String = {
    val dir = Files.createTempDirectory("graft_delta").toString
    import spark.implicits._
    // data files hold only the non-partition columns
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.parquet(s"$dir/ds=2024-01-01")
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.parquet(s"$dir/ds=2024-01-02")
    def firstParquet(sub: String): String = {
      val d = Paths.get(dir, sub)
      val f = Files.list(d).filter(_.toString.endsWith(".parquet")).findFirst().get()
      s"$sub/${f.getFileName}"
    }
    val f1 = firstParquet("ds=2024-01-01")
    val f2 = firstParquet("ds=2024-01-02")
    writeCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      metaAction(),
      s"""{"add":{"path":"$f1","partitionValues":{"ds":"2024-01-01"},"size":1,"modificationTime":1,"dataChange":true}}"""))
    writeCommit(dir, 1, Seq(
      s"""{"add":{"path":"$f2","partitionValues":{"ds":"2024-01-02"},"size":1,"modificationTime":2,"dataChange":true}}"""))
    dir
  }

  test("partition values are reconstructed from the log") {
    val dir = makePartitionedTable()
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.columns.toSeq === Seq("id", "v", "ds"))
    val rows = df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(rows === Set((1L, "a", "2024-01-01"), (2L, "b", "2024-01-01"),
      (3L, "c", "2024-01-02")))
  }

  test("remove actions drop files and versionAsOf time-travels") {
    val dir = makePartitionedTable()
    val full = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(full.count() === 3)
    // version 2 removes the 2024-01-02 file
    val f2 = DeltaLoader.snapshot(spark, dir).files
      .find(_.partitionValues("ds") == "2024-01-02").get.path
    writeCommit(dir, 2, Seq(
      s"""{"remove":{"path":"$f2","deletionTimestamp":3,"dataChange":true}}"""))
    val afterRemove = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(afterRemove.count() === 2)
    assert(afterRemove.select("ds").distinct().collect().map(_.getString(0)).toSeq
      === Seq("2024-01-01"))
    // time travel back to version 1
    val v1 = Loaders.load(spark,
      TableSource("t", dir, format = Some("delta"), options = Map("version" -> "1")))
    assert(v1.count() === 3)
    val v0 = Loaders.load(spark,
      TableSource("t", dir, format = Some("delta"), options = Map("version" -> "0")))
    assert(v0.count() === 2)
  }

  test("checkpoint parquet is replayed, then later JSON commits applied on top") {
    val dir = makePartitionedTable()
    // fold versions 0+1 into a checkpoint at version 1, delete the JSON they came from
    val snap = DeltaLoader.snapshot(spark, dir)
    val addRows = snap.files.map(f => Row(Row(f.path, f.partitionValues), null, null, null))
    val metaRow = Row(null, Row(schemaString, Seq("ds"), Map.empty[String, String]), null, null)
    val protoRow = Row(null, null, Row(1), null)
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(StructField("minReaderVersion", IntegerType)))),
      StructField("remove", StructType(Seq(StructField("path", StringType))))))
    import scala.jdk.CollectionConverters._
    val cpDf = spark.createDataFrame((addRows :+ metaRow :+ protoRow).asJava, cpSchema)
    val log = Paths.get(dir, "_delta_log")
    val tmpCp = Files.createTempDirectory("cp").toString
    cpDf.coalesce(1).write.mode("overwrite").parquet(tmpCp)
    val cpFile = Files.list(Paths.get(tmpCp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(cpFile, log.resolve(f"${1L}%020d.checkpoint.parquet"))
    Files.write(log.resolve("_last_checkpoint"), """{"version":1,"size":4}""".getBytes)
    Files.delete(log.resolve(f"${0L}%020d.json"))
    Files.delete(log.resolve(f"${1L}%020d.json"))
    // a post-checkpoint commit removing one file
    val f2 = snap.files.find(_.partitionValues("ds") == "2024-01-02").get.path
    writeCommit(dir, 2, Seq(
      s"""{"remove":{"path":"$f2","deletionTimestamp":3,"dataChange":true}}"""))
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.count() === 2)
  }

  test("many-file checkpoint replays distributed: removes anti-join, re-adds dedup") {
    val dir = Files.createTempDirectory("graft_delta_many").toString
    import spark.implicits._
    // 40 single-row unpartitioned files
    val fileNames = (0 until 40).map { i =>
      val sub = f"f$i%03d"
      Seq((i.toLong, s"v$i", "x")).toDF("id", "v", "ds").coalesce(1).write.parquet(s"$dir/$sub")
      val f = Files.list(Paths.get(dir, sub))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      s"$sub/${f.getFileName}"
    }
    // checkpoint at version 0 holding all 40 adds + meta + protocol
    val addRows = fileNames.map(p => Row(Row(p, Map.empty[String, String]), null, null, null))
    val metaRow = Row(null, Row(schemaString, Seq.empty[String], Map.empty[String, String]), null, null)
    val protoRow = Row(null, null, Row(1), null)
    val cpSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(StructField("minReaderVersion", IntegerType)))),
      StructField("remove", StructType(Seq(StructField("path", StringType))))))
    import scala.jdk.CollectionConverters._
    val cpDf = spark.createDataFrame((addRows :+ metaRow :+ protoRow).asJava, cpSchema)
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    val tmpCp = Files.createTempDirectory("cp_many").toString
    cpDf.coalesce(1).write.mode("overwrite").parquet(tmpCp)
    val cpFile = Files.list(Paths.get(tmpCp)).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.copy(cpFile, log.resolve(f"${0L}%020d.checkpoint.parquet"))
    Files.write(log.resolve("_last_checkpoint"), """{"version":0,"size":42}""".getBytes)
    // v1 removes 10 files; v2 re-adds one of them (must not duplicate)
    writeCommit(dir, 1, fileNames.take(10).map(p =>
      s"""{"remove":{"path":"$p","deletionTimestamp":3,"dataChange":true}}"""))
    writeCommit(dir, 2, Seq(
      s"""{"add":{"path":"${fileNames.head}","partitionValues":{},"size":1,"modificationTime":9,"dataChange":true}}"""))
    val snap = DeltaLoader.snapshot(spark, dir)
    assert(snap.version === 2)
    assert(snap.files.length === 31) // 40 - 10 removed + 1 re-added
    assert(snap.files.map(_.path).distinct.length === 31)
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.count() === 31)
    assert(df.select("id").collect().map(_.getLong(0)).toSet ===
      ((10 until 40).map(_.toLong).toSet + 0L))
  }

  test("v2 checkpoint: uuid-named main + sidecar add set replays; inline v2 too") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_delta_v2cp").toString
    val fileNames = (0 until 3).map { i =>
      val sub = f"g$i"
      Seq((i.toLong, s"v$i", "x")).toDF("id", "v", "ds").coalesce(1)
        .write.parquet(s"$dir/$sub")
      val f = Files.list(Paths.get(dir, sub))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      s"$sub/${f.getFileName}"
    }
    val log = Paths.get(dir, "_delta_log")
    Files.createDirectories(log)
    def onePart(df: org.apache.spark.sql.DataFrame): java.nio.file.Path = {
      val tmp = Files.createTempDirectory("v2cp").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
    }
    // sidecar parquet (file actions ONLY, per spec) under _delta_log/_sidecars/
    val sideSchema = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))),
      StructField("remove", StructType(Seq(StructField("path", StringType))))))
    val sideRows = fileNames.map(p => Row(Row(p, Map.empty[String, String]), null))
    Files.createDirectories(log.resolve("_sidecars"))
    Files.copy(onePart(spark.createDataFrame(sideRows.asJava, sideSchema)),
      log.resolve("_sidecars/0a0b0c0d-0000-4000-8000-000000000001.parquet"))
    // uuid-named main file: non-file actions + the sidecar reference
    val mainSchema = StructType(Seq(
      StructField("metaData", StructType(Seq(
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType))))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType))))),
      StructField("checkpointMetadata", StructType(Seq(
        StructField("version", LongType)))),
      StructField("sidecar", StructType(Seq(
        StructField("path", StringType),
        StructField("sizeInBytes", LongType))))))
    val mainRows = Seq(
      Row(Row(schemaString, Seq.empty[String], Map.empty[String, String]),
        null, null, null),
      Row(null, Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null),
      Row(null, null, Row(2L), null),
      Row(null, null, null,
        Row("0a0b0c0d-0000-4000-8000-000000000001.parquet", 1L)))
    Files.copy(onePart(spark.createDataFrame(mainRows.asJava, mainSchema)),
      log.resolve("00000000000000000002.checkpoint." +
        "80a083e8-7026-4e79-81be-64bd76c43a11.parquet"))
    Files.write(log.resolve("_last_checkpoint"),
      """{"version":2,"size":4}""".getBytes("UTF-8"))
    // the uuid-named base replays with its sidecar-held add set
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.count() === 3)
    assert(df.select("id").collect().map(_.getLong(0)).toSet === Set(0L, 1L, 2L))
    // the writer continues the log on top of the v2 base
    val v3 = DeltaWriter.write(Seq((9L, "v9", "x")).toDF("id", "v", "ds"), dir)
    assert(v3 === 3L)
    assert(Loaders.load(spark,
      TableSource("t", dir, format = Some("delta"))).count() === 4)
    // a missing sidecar names its problem instead of a raw path error
    val sc = log.resolve("_sidecars/0a0b0c0d-0000-4000-8000-000000000001.parquet")
    Files.move(sc, log.resolve("_sidecars/parked"))
    val e = intercept[IllegalArgumentException] {
      DeltaLoader.snapshot(spark, dir)
    }
    assert(e.getMessage.contains("missing sidecar"), e.getMessage)
    Files.move(log.resolve("_sidecars/parked"), sc)
    assert(DeltaLoader.snapshot(spark, dir).files.size === 4)

    // INLINE v2 variant: file actions in the uuid-named main file itself
    val dir2 = Files.createTempDirectory("graft_delta_v2cpi").toString
    val fn2 = {
      Seq((5L, "v5", "x")).toDF("id", "v", "ds").coalesce(1)
        .write.parquet(s"$dir2/g0")
      val f = Files.list(Paths.get(dir2, "g0"))
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      s"g0/${f.getFileName}"
    }
    val log2 = Paths.get(dir2, "_delta_log")
    Files.createDirectories(log2)
    val inlineSchema = StructType(mainSchema.fields.filterNot(_.name == "sidecar") :+
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType))))))
    val inlineRows = Seq(
      Row(Row(schemaString, Seq.empty[String], Map.empty[String, String]),
        null, null, null),
      Row(null, Row(3, 7, Seq("v2Checkpoint"), Seq("v2Checkpoint")), null, null),
      Row(null, null, Row(0L), null),
      Row(null, null, null, Row(fn2, Map.empty[String, String])))
    Files.copy(onePart(spark.createDataFrame(inlineRows.asJava, inlineSchema)),
      log2.resolve("00000000000000000000.checkpoint." +
        "1b1c1d1e-0000-4000-8000-000000000002.parquet"))
    Files.write(log2.resolve("_last_checkpoint"),
      """{"version":0,"size":4}""".getBytes("UTF-8"))
    val df2 = Loaders.load(spark, TableSource("t2", dir2, format = Some("delta")))
    assert(df2.count() === 1)
    assert(df2.select("id").head().getLong(0) === 5L)
  }

  test("log IO routes through Hadoop FS: object-store logs reach the connector layer") {
    // with hadoop-aws on the classpath this same code reads the real log;
    // offline it must fail AT the missing connector, not at path handling
    val e = intercept[Throwable] {
      DeltaLoader.snapshot(spark, "s3a://bucket/delta-table")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("s3a") || m.contains("S3A")), msgs(e).mkString("|"))
  }

  test("column-mapped table (mode=name) reads physical files under logical names") {
    val dir = Files.createTempDirectory("graft_delta_cm").toString
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    // data files store PHYSICAL names, including a nested struct field
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("col-id", "col-v", "xx")
      .select(col("`col-id`"), col("`col-v`"), struct(col("xx").as("col-x")).as("col-s"))
      .coalesce(1).write.parquet(s"$dir/part-ds1")
    Seq((3L, "c", 30L)).toDF("col-id", "col-v", "xx")
      .select(col("`col-id`"), col("`col-v`"), struct(col("xx").as("col-x")).as("col-s"))
      .coalesce(1).write.parquet(s"$dir/part-ds2")
    def firstParquet(sub: String): String = {
      val d = Paths.get(dir, sub)
      val f = Files.list(d).filter(_.toString.endsWith(".parquet")).findFirst().get()
      s"$sub/${f.getFileName}"
    }
    def fld(name: String, tpe: String, id: Int, phys: String): String =
      s"""{"name":"$name","type":$tpe,"nullable":true,"metadata":{""" +
        s""""delta.columnMapping.id":$id,"delta.columnMapping.physicalName":"$phys"}}"""
    val nested = s"""{"type":"struct","fields":[${fld("x", "\"long\"", 4, "col-x")}]}"""
    val cmSchema = s"""{"type":"struct","fields":[${fld("id", "\"long\"", 1, "col-id")},""" +
      s"""${fld("v", "\"string\"", 2, "col-v")},${fld("s", nested, 3, "col-s")},""" +
      s"""${fld("ds", "\"string\"", 5, "col-ds")}]}"""
    val meta =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(cmSchema)},"partitionColumns":["ds"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name","delta.columnMapping.maxColumnId":"5"}}}"""
    val f1 = firstParquet("part-ds1")
    val f2 = firstParquet("part-ds2")
    // partitionValues keys are PHYSICAL names under column mapping
    writeCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      meta,
      s"""{"add":{"path":"$f1","partitionValues":{"col-ds":"d1"},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"col-ds":"d2"},"size":1,"modificationTime":2,"dataChange":true}}"""))
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.columns.toSeq === Seq("id", "v", "s", "ds"))
    assert(df.schema("s").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("x"), "nested field must surface under its logical name")
    val rows = df.select("id", "v", "s.x", "ds").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    assert(rows === Set((1L, "a", 10L, "d1"), (2L, "b", 20L, "d1"), (3L, "c", 30L, "d2")))
  }

  test("reader v3 with the columnMapping feature is accepted; unknown features fail") {
    val dir = Files.createTempDirectory("graft_delta_cm3").toString
    import spark.implicits._
    Seq(1L).toDF("col-id").coalesce(1).write.parquet(s"$dir/d")
    val f = Files.list(Paths.get(dir, "d"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().getFileName
    val cmSchema = """{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,""" +
      """"metadata":{"delta.columnMapping.id":1,"delta.columnMapping.physicalName":"col-id"}}]}"""
    val meta =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${com.fasterxml.jackson.databind.json.JsonMapper.builder().build()
          .writeValueAsString(cmSchema)},"partitionColumns":[],""" +
        s""""configuration":{"delta.columnMapping.mode":"name"}}}"""
    writeCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["columnMapping"],"writerFeatures":["columnMapping"]}}""",
      meta,
      s"""{"add":{"path":"d/$f","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true}}"""))
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.columns.toSeq === Seq("id") && df.count() === 1)
    // an unknown reader feature still fails loudly, naming the feature
    val dir2 = Files.createTempDirectory("graft_delta_unknown").toString
    writeCommit(dir2, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["someFutureFeature"]}}""",
      meta))
    val e = intercept[IllegalArgumentException](DeltaLoader.snapshot(spark, dir2))
    assert(e.getMessage.contains("someFutureFeature"))
  }

  // ---- deletion vectors -----------------------------------------------------
  // test-side INDEPENDENT implementations of the public formats (Z85 encode,
  // portable roaring serialize, DV file layout), so the reader is validated
  // against the written spec rather than against itself.

  private def z85Encode(bytes: Array[Byte]): String = DvFixtures.z85Encode(bytes)

  private def serializeRoaring(values: Array[Long]): Array[Byte] =
    DvFixtures.serializeRoaring(values)

  private def writeDvFile(path: java.nio.file.Path, data: Array[Byte]): Int =
    DvFixtures.writeDvFile(path, data)

  test("Z85 decode matches the public ZeroMQ test vector") {
    // spec.zeromq.org/32: "HelloWorld" decodes to 86 4F D2 6F B5 59 F7 5B
    assert(DeletionVectors.z85Decode("HelloWorld").map(_ & 0xFF).toSeq ===
      Seq(0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B))
    val uuidBytes = Array.tabulate[Byte](16)(i => (i * 7 + 3).toByte)
    assert(DeletionVectors.z85Decode(z85Encode(uuidBytes)).toSeq === uuidBytes.toSeq)
  }

  test("roaring portable decode handles array and bitmap containers") {
    val small = Array[Long](1, 3, 70000, 70001)
    assert(DeletionVectors.deserializeBitmapArray(serializeRoaring(small)).toSeq ===
      small.toSeq)
    val big = (0L until 6000L).filter(_ % 3 != 0).toArray // 4000 in one container
    val bigger = big ++ (100000L to 110000L) // second container goes bitmap
    assert(DeletionVectors.deserializeBitmapArray(serializeRoaring(bigger)).toSeq ===
      bigger.sorted.toSeq)
  }

  test("deletion vectors drop rows: on-disk UUID DV and inline DV") {
    val dir = Files.createTempDirectory("graft_delta_dvread").toString
    import spark.implicits._
    // one data file, 6 rows in a deterministic order
    Seq((0L, "r0"), (1L, "r1"), (2L, "r2"), (3L, "r3"), (4L, "r4"), (5L, "r5"))
      .toDF("id", "v").coalesce(1).sortWithinPartitions("id")
      .write.parquet(s"$dir/data")
    val f = Files.list(Paths.get(dir, "data"))
      .filter(_.toString.endsWith(".parquet")).findFirst().get().getFileName
    // on-disk DV deleting row indexes 1 and 4, addressed by Z85 uuid
    val uuid = java.util.UUID.randomUUID()
    val uuidBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits).putLong(uuid.getLeastSignificantBits).array()
    val offset = writeDvFile(Paths.get(dir, s"deletion_vector_$uuid.bin"),
      serializeRoaring(Array(1L, 4L)))
    writeCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"]}}""",
      metaAction("""[]"""),
      s"""{"add":{"path":"data/$f","partitionValues":{},"size":1,"modificationTime":1,"dataChange":true,""" +
        s""""deletionVector":{"storageType":"u","pathOrInlineDv":"${z85Encode(uuidBytes)}",""" +
        s""""offset":$offset,"sizeInBytes":1,"cardinality":2}}}"""))
    val df = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(0L, 2L, 3L, 5L))

    // a later commit re-adds the file with an INLINE DV (the DELETE flow):
    // row 0 goes too
    writeCommit(dir, 1, Seq(
      s"""{"add":{"path":"data/$f","partitionValues":{},"size":1,"modificationTime":2,"dataChange":true,""" +
        s""""deletionVector":{"storageType":"i","pathOrInlineDv":"${z85Encode(
          padTo4(serializeRoaring(Array(0L, 1L, 4L))))}",""" +
        s""""sizeInBytes":${serializeRoaring(Array(0L, 1L, 4L)).length},"cardinality":3}}}"""))
    val df2 = Loaders.load(spark, TableSource("t", dir, format = Some("delta")))
    assert(df2.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 5L))
  }

  /** Z85 works on 4-byte groups; the roaring payload is self-delimiting, so
    * trailing zero padding is inert. */
  private def padTo4(b: Array[Byte]): Array[Byte] = DvFixtures.padTo4(b)

  test("unsupported protocol features fail loudly") {
    val dir = Files.createTempDirectory("graft_delta_bad").toString
    writeCommit(dir, 0, Seq(
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["futureFeature"]}}""",
      metaAction("""[]""")))
    val e = intercept[IllegalArgumentException] {
      DeltaLoader.snapshot(spark, dir)
    }
    assert(e.getMessage.contains("minReaderVersion") &&
      e.getMessage.contains("futureFeature"))
  }
}
