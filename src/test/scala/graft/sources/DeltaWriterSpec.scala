package graft.sources

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Delta writer round-tripped through the repo's own protocol-level reader
  * ([[DeltaLoader]] replays the raw `_delta_log`, so a writer bug in the
  * JSON actions cannot hide behind a shared in-memory model). */
class DeltaWriterSpec extends SparkSpec {

  import spark.implicits._

  private def newDir(): String =
    Files.createTempDirectory("graft_delta_w").toString + "/t"

  private def readBack(dir: String, opts: Map[String, String] = Map.empty): DataFrame =
    DeltaLoader.load(spark, TableSource("dw_t", dir, Some("delta"), options = opts))

  private def rows(df: DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("create + append + time travel round-trip through the log reader") {
    val dir = newDir()
    val v0 = DeltaWriter.write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), dir)
    assert(v0 == 0L)
    assert(rows(readBack(dir)) == Set(1L -> "a", 2L -> "b"))
    val v1 = DeltaWriter.write(Seq((3L, "c")).toDF("id", "name"), dir)
    assert(v1 == 1L)
    assert(rows(readBack(dir)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
    // time travel reads the version-0 file set only
    assert(rows(readBack(dir, Map("version" -> "0"))) == Set(1L -> "a", 2L -> "b"))
    // the log is plain protocol JSON: version files are zero-padded and the
    // first commit carries protocol + metaData
    val log = new java.io.File(dir + "/_delta_log").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // hadoop checksum sidecars
    assert(log.head == "00000000000000000000.json", log.mkString(","))
    val first = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.json"))
    assert(first.contains("\"protocol\"") && first.contains("\"schemaString\""))
  }

  test("overwrite replaces the live set; old versions stay readable") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    val v2 = DeltaWriter.write(Seq((9L, "z")).toDF("id", "name"), dir,
      mode = "overwrite")
    assert(v2 == 2L)
    assert(rows(readBack(dir)) == Set(9L -> "z"))
    assert(rows(readBack(dir, Map("version" -> "1"))) ==
      Set(1L -> "a", 2L -> "b"))
  }

  test("append schema mismatch fails loudly; overwrite may change the schema") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    val bad = intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq((1.5, "a")).toDF("id", "name"), dir)
    }
    assert(bad.getMessage.contains("schema"))
    DeltaWriter.write(Seq(("x", 1L)).toDF("label", "n"), dir, mode = "overwrite")
    val df = readBack(dir)
    assert(df.schema.fieldNames.toSeq == Seq("label", "n"))
    assert(df.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set("x" -> 1L))
  }

  test("txn ledger makes appends idempotent (exactly-once sink contract)") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    val v = DeltaWriter.write(Seq((2L, "b")).toDF("id", "name"), dir,
      txn = Some(("appX", 7L)))
    assert(v == 1L)
    // redelivery of the SAME batch id: skipped, no new version, no dup rows
    val again = DeltaWriter.write(Seq((2L, "b")).toDF("id", "name"), dir,
      txn = Some(("appX", 7L)))
    assert(again == 1L)
    assert(rows(readBack(dir)) == Set(1L -> "a", 2L -> "b"))
    // an OLDER batch id is also skipped (ledger keeps the max)
    assert(DeltaWriter.write(Seq((3L, "c")).toDF("id", "name"), dir,
      txn = Some(("appX", 5L))) == 1L)
    // a NEWER batch id commits; a different appId has its own ledger
    assert(DeltaWriter.write(Seq((4L, "d")).toDF("id", "name"), dir,
      txn = Some(("appX", 8L))) == 2L)
    assert(DeltaWriter.write(Seq((5L, "e")).toDF("id", "name"), dir,
      txn = Some(("appY", 0L))) == 3L)
    assert(rows(readBack(dir)) ==
      Set(1L -> "a", 2L -> "b", 4L -> "d", 5L -> "e"))
  }

  test("a contended version file is skipped over, not clobbered") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    // another writer already holds version 1 (commitInfo-only commit —
    // legal per protocol)
    Files.writeString(java.nio.file.Path.of(dir + "/_delta_log/00000000000000000001.json"),
      """{"commitInfo":{"timestamp":0,"operation":"TEST"}}""" + "\n")
    val v = DeltaWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    assert(v == 2L)
    assert(rows(readBack(dir)) == Set(1L -> "a", 2L -> "b"))
  }

  test("pipeline integration: curated corpus lands as a queryable Delta table") {
    // the sink the writer exists for — doc_curate output becomes a
    // transactional table other engines (delta-rs, the reference) can read
    val dir = newDir()
    val curated = graft.SparkEntry.queries("doc_curate")(spark, sf0001)
    DeltaWriter.write(curated, dir)
    val back = readBack(dir)
    // nullability loosens through a parquet round trip (standard); names
    // and types must survive exactly
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      curated.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(back.count() == curated.count())
    val expectIds = curated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(back.select("doc_id").collect().map(_.getLong(0)).toSet == expectIds)
    // an incremental second batch appends transactionally
    DeltaWriter.write(curated.limit(3), dir, txn = Some(("curate", 1L)))
    assert(readBack(dir).count() == curated.count() + 3)
  }

  private def deleteLogFiles(dir: String)(keep: String => Boolean): Unit =
    new java.io.File(dir + "/_delta_log").listFiles().foreach { f =>
      // hadoop checksum sidecars (.name.crc) go with their file
      val name = f.getName.stripPrefix(".").stripSuffix(".crc")
      if (!keep(name) && name != "_last_checkpoint") assert(f.delete())
    }

  test("every 10th commit writes a checkpoint the reader can replay from alone") {
    val dir = newDir()
    (0 until 25).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    val log = new java.io.File(dir + "/_delta_log").listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted
    assert(log.contains("00000000000000000009.checkpoint.parquet"), log.mkString(","))
    assert(log.contains("00000000000000000019.checkpoint.parquet"))
    val lc = Files.readString(java.nio.file.Path.of(dir + "/_delta_log/_last_checkpoint"))
    assert(lc.contains("\"version\":19"), lc)
    val expect = (0 until 25).map(i => i.toLong -> s"r$i").toSet
    assert(rows(readBack(dir)) == expect)
    // time travel BELOW the checkpoint replays JSON from version zero
    assert(rows(readBack(dir, Map("version" -> "4"))) ==
      (0 until 5).map(i => i.toLong -> s"r$i").toSet)
    // the v19 checkpoint alone must carry all state <= 19: delete every
    // JSON commit at or below it (plus the superseded v9 checkpoint) and
    // the reader still sees all 25 commits — proof it does NOT read them
    val cpKeep = Set("00000000000000000019.checkpoint.parquet")
    deleteLogFiles(dir) { name =>
      cpKeep(name) || name.endsWith(".json") && name.stripSuffix(".json").toLong > 19
    }
    assert(rows(readBack(dir)) == expect)
    // and appends continue normally on the cleaned log
    assert(DeltaWriter.write(Seq((99L, "post")).toDF("id", "name"), dir) == 25L)
    assert(rows(readBack(dir)) == expect + (99L -> "post"))
  }

  test("checkpoint drops overwritten files and carries the txn ledger") {
    val dir = newDir()
    (0 until 5).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, "x")).toDF("id", "name"), dir)) // v0..v4
    DeltaWriter.write(Seq((100L, "ow")).toDF("id", "name"), dir,
      mode = "overwrite") // v5 tombstones v0..v4's files
    (0 until 3).foreach(i =>
      DeltaWriter.write(Seq((200L + i, "y")).toDF("id", "name"), dir,
        txn = Some(("appC", i.toLong)))) // v6..v8
    DeltaWriter.write(Seq((300L, "z")).toDF("id", "name"), dir) // v9 -> checkpoint
    val expect = Set(100L -> "ow", 200L -> "y", 201L -> "y", 202L -> "y", 300L -> "z")
    assert(rows(readBack(dir)) == expect)
    // wipe ALL JSON commits: the checkpoint is now the only log state
    deleteLogFiles(dir)(name => name.endsWith(".checkpoint.parquet"))
    // overwritten files must not resurrect through the checkpoint
    assert(rows(readBack(dir)) == expect)
    // the ledger survived: redelivering appC batch 2 is still a no-op
    assert(DeltaWriter.write(Seq((202L, "y")).toDF("id", "name"), dir,
      txn = Some(("appC", 2L))) == 9L)
    assert(rows(readBack(dir)) == expect)
    // while a NEW batch id commits on top of the checkpointed log
    assert(DeltaWriter.write(Seq((203L, "y")).toDF("id", "name"), dir,
      txn = Some(("appC", 3L))) == 10L)
    assert(rows(readBack(dir)) == expect + (203L -> "y"))
  }

  test("partitioned writes: values in the log, not the files; loader reconstructs") {
    val dir = newDir()
    val df = Seq((1L, Option("us"), "a"), (2L, Option("us"), "b"),
      (3L, Option("eu"), "c"), (4L, None, "d")).toDF("id", "region", "name")
    DeltaWriter.write(df, dir, partitionBy = Seq("region"))
    val back = readBack(dir)
    assert(back.schema.fieldNames.toSeq == Seq("id", "region", "name"))
    assert(back.collect().map(r =>
        (r.getLong(0), Option(r.getString(1)), r.getString(2))).toSet ==
      Set((1L, Some("us"), "a"), (2L, Some("us"), "b"),
        (3L, Some("eu"), "c"), (4L, None, "d")))
    // the data files themselves carry NO partition column (protocol shape)
    def dataFiles(d: String): Seq[java.io.File] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory && f.getName != "_delta_log") f.listFiles().toSeq.flatMap(walk)
        else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      walk(new java.io.File(d))
    }
    dataFiles(dir).foreach { f =>
      val cols = spark.read.parquet(f.toString).columns.toSeq
      assert(cols == Seq("id", "name"), s"$f -> $cols")
    }
    // the first commit's metaData + add actions carry the partitioning
    val first = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.json"))
    assert(first.contains("\"partitionColumns\":[\"region\"]"))
    assert(first.contains("\"partitionValues\":{\"region\":\"us\"}"))
    assert(first.contains("\"partitionValues\":{\"region\":null}"))
    // appends inherit; a mismatched partitioning refuses
    DeltaWriter.write(Seq((5L, Option("ap"), "e")).toDF("id", "region", "name"), dir)
    assert(readBack(dir).count() == 5)
    val bad = intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq((6L, Option("x"), "f")).toDF("id", "region", "name"),
        dir, partitionBy = Seq("name"))
    }
    assert(bad.getMessage.contains("partitioning"))
    // empty-string partition values refuse (indistinguishable from null)
    val badEmpty = intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq((7L, Option(""), "g")).toDF("id", "region", "name"), dir)
    }
    assert(badEmpty.getMessage.contains("empty-string"))
    // overwrite may re-partition; old versions stay readable
    DeltaWriter.write(Seq((9L, Option("zz"), "z")).toDF("id", "region", "name"),
      dir, mode = "overwrite", partitionBy = Seq("name"))
    assert(readBack(dir).collect().map(_.getLong(0)).toSet == Set(9L))
    assert(readBack(dir, Map("version" -> "1")).count() == 5)
    // the metadata index derives exact [v,v] zones from partitionValues
    val idx = ColumnIndex.buildFromDelta(spark, dir, Seq("name"))
    assert(idx.prune(Seq(("name", "eq", "'z'"))).get.size == 1)
  }

  test("partitioned table checkpoints: partitionValues survive the replay") {
    val dir = newDir()
    (0 until 12).foreach { i =>
      DeltaWriter.write(
        Seq((i.toLong, s"r${i % 3}", s"n$i")).toDF("id", "region", "name"),
        dir, partitionBy = Seq("region"))
    }
    // wipe the JSON at or below the v9 checkpoint: partition values must
    // come back through the checkpoint's add.partitionValues column
    deleteLogFiles(dir) { name =>
      name.endsWith(".checkpoint.parquet") ||
        (name.endsWith(".json") && name.stripSuffix(".json").toLong > 9)
    }
    val back = readBack(dir)
    assert(back.count() == 12)
    assert(back.select("region").distinct().collect().map(_.getString(0)).toSet ==
      Set("r0", "r1", "r2"))
    assert(back.where(back("region") === "r1").count() == 4)
  }

  test("checkpoint carries protocol reader/writerFeatures through verbatim") {
    // a v3 table-features table (spec REQUIRES the features arrays at
    // reader version 3) — the checkpoint must not launder them away
    val dir = newDir()
    val logDir = new java.io.File(dir + "/_delta_log"); logDir.mkdirs()
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},{\"name\":\"name\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    Files.writeString(java.nio.file.Path.of(dir + "/_delta_log/00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":3,"minWriterVersion":7,"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}
         |{"metaData":{"id":"m","description":"keep me","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{},"createdTime":0}}
         |""".stripMargin)
    (0 until 9).foreach(i => // v1..v9 -> checkpoint at v9
      DeltaWriter.write(Seq((i.toLong, "x")).toDF("id", "name"), dir))
    val cp = spark.read.parquet(dir + "/_delta_log/00000000000000000009.checkpoint.parquet")
    val proto = cp.where(org.apache.spark.sql.functions.col("protocol").isNotNull)
      .select("protocol.minReaderVersion", "protocol.readerFeatures",
        "protocol.writerFeatures").collect().head
    assert(proto.getInt(0) == 3)
    assert(proto.getSeq[String](1) == Seq("deletionVectors"))
    assert(proto.getSeq[String](2) == Seq("deletionVectors"))
    val meta = cp.where(org.apache.spark.sql.functions.col("metaData").isNotNull)
      .select("metaData.description").collect().head
    assert(meta.getString(0) == "keep me")
    // and the checkpoint alone still replays (features validated, rows ok)
    deleteLogFiles(dir)(name => name.endsWith(".checkpoint.parquet"))
    assert(rows(readBack(dir)) == (0 until 9).map(i => i.toLong -> "x").toSet)
  }

  test("vacuum reclaims overwritten and orphaned files; the horizon is honest") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "name"), dir)
    DeltaWriter.write(Seq((9L, "z")).toDF("id", "name"), dir, mode = "overwrite")
    // plus a crashed writer's uncommitted orphan, both flavors: a moved
    // part at the root and a whole abandoned scratch dir
    Files.write(java.nio.file.Path.of(dir + "/part-orphan-dead.parquet"),
      Array[Byte](1, 2, 3))
    val deadScratch = new java.io.File(dir + "/.graft_tmp_dead")
    assert(deadScratch.mkdirs())
    Files.write(java.nio.file.Path.of(deadScratch + "/part-a.parquet"),
      Array[Byte](4, 5, 6))
    def dataFiles() = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = dataFiles()
    assert(before.size >= 4) // v0 + v1 + overwrite + orphan
    // a LONG retention deletes nothing (everything is younger)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 24 * 3600 * 1000L) == 0L)
    assert(dataFiles() == before)
    // retention 0: everything dead goes, the live set stays
    val deleted = DeltaWriter.vacuum(spark, dir, retentionMs = 0L)
    assert(deleted >= 4L, s"deleted $deleted")
    assert(rows(readBack(dir)) == Set(9L -> "z")) // current reads fine
    assert(!dataFiles().contains("part-orphan-dead.parquet"))
    assert(!deadScratch.exists()) // abandoned scratch dirs reclaim wholesale
    // time travel BEHIND the horizon now fails loudly (files are gone)
    intercept[Exception] { rows(readBack(dir, Map("version" -> "1"))) }
  }

  test("vacuum clocks removed files on their tombstone, not file mtime") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    // age the v0 data files as if written 8 days ago
    val old = System.currentTimeMillis() - 8L * 24 * 3600 * 1000
    new java.io.File(dir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .foreach(f => assert(f.setLastModified(old)))
    // overwrite NOW: tombstones are fresh even though the files are old
    DeltaWriter.write(Seq((2L, "b")).toDF("id", "name"), dir, mode = "overwrite")
    // default 7-day window: mtime-old but freshly-removed files survive
    assert(DeltaWriter.vacuum(spark, dir) == 0L)
    assert(rows(readBack(dir, Map("version" -> "0"))) == Set(1L -> "a"))
    // past the window they reclaim
    Thread.sleep(5)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 1L)
    intercept[Exception] { rows(readBack(dir, Map("version" -> "0"))) }
    assert(rows(readBack(dir)) == Set(2L -> "b"))
  }

  test("vacuum walks underscore-named partition dirs; fresh empty dirs survive") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "x", "a"), (2L, "y", "b"))
      .toDF("id", "_grp", "name"), dir, partitionBy = Seq("_grp"))
    DeltaWriter.write(Seq((9L, "z", "c")).toDF("id", "_grp", "name"), dir,
      mode = "overwrite", partitionBy = Seq("_grp"))
    Thread.sleep(5)
    // dead files under _grp=... must reclaim: the dot/underscore skip
    // exempts only NON-partition entries
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 2L)
    assert(readBack(dir).count() == 1)
    // a freshly-created empty partition dir (a concurrent writer's
    // mkdirs-before-rename) survives a windowed vacuum...
    val pending = new java.io.File(dir + "/_grp=pending")
    assert(pending.mkdirs())
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 3600_000L) == 0L)
    assert(pending.exists())
    // ...while an OLD empty dir sweeps
    assert(pending.setLastModified(System.currentTimeMillis() - 7200_000L))
    DeltaWriter.vacuum(spark, dir, retentionMs = 3600_000L)
    assert(!pending.exists())
  }

  test("compact bin-packs small files per partition in one dataChange=false commit") {
    val dir = newDir()
    // five micro-batch appends across two partitions -> five tiny files
    (0 until 5).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, if (i % 2 == 0) "a" else "b", s"n$i"))
        .toDF("id", "grp", "name"), dir, partitionBy = Seq("grp")))
    def content() = readBack(dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val before = content()
    val snap0 = DeltaLoader.snapshot(spark, dir)
    assert(snap0.files.size == 5)
    // add.size rides the log so small-file selection is metadata-only
    assert(snap0.files.forall(_.size >= 0L), snap0.files.map(_.size))
    val v = DeltaWriter.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(v == 5L)
    assert(content() == before) // same rows through the swap
    // live set shrank to one packed file per partition
    assert(DeltaLoader.snapshot(spark, dir).files.size == 2)
    // the commit is pure reorganization: every action dataChange=false
    val commit = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000005.json"))
    assert(!commit.contains("\"dataChange\":true"), commit)
    assert(commit.contains("\"operation\":\"OPTIMIZE\""))
    // already-packed partitions make a second compact a no-op
    assert(DeltaWriter.compact(spark, dir) == -1L)
    // time travel across the swap still works (old files stay on disk)
    assert(DeltaLoader.load(spark, TableSource("dw_t", dir, Some("delta"),
      options = Map("version" -> "4"))).count() == 5)
    // until vacuum reclaims the replaced files past the window
    Thread.sleep(5)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 5L)
    assert(content() == before)
  }

  test("column-mapped tables are refused loudly") {
    val dir = newDir()
    // hand-build a minimal column-mapped table (the DeltaLoaderSpec shape)
    val logDir = new java.io.File(dir + "/_delta_log"); logDir.mkdirs()
    val schema = """{\"type\":\"struct\",\"fields\":[{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"delta.columnMapping.physicalName\":\"col-1\",\"delta.columnMapping.id\":1}}]}"""
    Files.writeString(java.nio.file.Path.of(dir + "/_delta_log/00000000000000000000.json"),
      s"""{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}
         |{"metaData":{"id":"m","format":{"provider":"parquet","options":{}},"schemaString":"$schema","partitionColumns":[],"configuration":{"delta.columnMapping.mode":"name"},"createdTime":0}}
         |""".stripMargin)
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.write(Seq(1L).toDF("id"), dir)
    }
    assert(e.getMessage.contains("column-mapped"))
  }

  /** Runs `body` with System.err captured; returns (result, stderr text). */
  private def capturingErr[A](body: => A): (A, String) = {
    val buf = new java.io.ByteArrayOutputStream()
    val old = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    val r = try body finally System.setErr(old)
    (r, buf.toString("UTF-8"))
  }

  private def logNames(dir: String): Seq[String] =
    new java.io.File(dir + "/_delta_log").listFiles().map(_.getName).toSeq

  test("checkpoint refuses unmodeled actions instead of silently dropping them") {
    val dir = newDir()
    (0 to 7).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    // an external engine lands a domainMetadata action at version 8 —
    // state our checkpoint model cannot carry
    Files.writeString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000008.json"),
      """{"commitInfo":{"timestamp":0,"operation":"SET DOMAIN"}}""" + "\n" +
        """{"domainMetadata":{"domain":"delta.rowTracking","configuration":"{}","removed":false}}""" + "\n")
    // version 9 hits the checkpoint interval: the commit itself must
    // succeed, the checkpoint must refuse LOUDLY, naming the action
    val (v, errText) = capturingErr {
      DeltaWriter.write(Seq((9L, "r9")).toDF("id", "name"), dir)
    }
    assert(v == 9L)
    assert(!logNames(dir).exists(_.contains("checkpoint")), logNames(dir))
    assert(errText.contains("domainMetadata") && errText.contains("checkpoint"),
      errText)
    // the table stays fully readable via JSON replay
    assert(readBack(dir).count() == 9L)
  }

  test("checkpoint refuses add subfields beyond its model (rowTracking)") {
    val dir = newDir()
    (0 to 7).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    // re-publish an existing file's add with a rowTracking subfield the
    // checkpoint schema would silently strip
    val snap = DeltaLoader.snapshot(spark, dir)
    val f = snap.files.head
    Files.writeString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000008.json"),
      s"""{"add":{"path":"${f.path}","partitionValues":{},"size":${f.size},""" +
        """"modificationTime":0,"dataChange":false,"baseRowId":42}}""" + "\n")
    val (v, errText) = capturingErr {
      DeltaWriter.write(Seq((9L, "r9")).toDF("id", "name"), dir)
    }
    assert(v == 9L)
    assert(!logNames(dir).exists(_.contains("checkpoint")), logNames(dir))
    assert(errText.contains("baseRowId"), errText)
    assert(readBack(dir).count() == 9L)
  }

  test("cleanupLog retires pre-checkpoint JSON; replay, appends, ledger, TT above horizon") {
    val dir = newDir()
    // 30 commits -> checkpoints at 9, 19, 29; a txn ledger entry early on
    (0 until 5).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    DeltaWriter.write(Seq((5L, "r5")).toDF("id", "name"), dir,
      txn = Some(("appL", 42L)))
    (6 until 30).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    def logNamesNow() = new java.io.File(dir + "/_delta_log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(logNamesNow().count(_.endsWith(".json")) == 30)
    // nothing deletes inside the window
    assert(DeltaWriter.cleanupLog(spark, dir,
      retentionMs = 60L * 60 * 1000) == 0L)
    Thread.sleep(5)
    // past the window: 30 JSON commits + 2 superseded checkpoints retire
    assert(DeltaWriter.cleanupLog(spark, dir, retentionMs = 0L) == 32L)
    val names = logNamesNow()
    assert(names.count(_.endsWith(".json")) == 0, names)
    assert(names.contains("00000000000000000029.checkpoint.parquet"))
    assert(!names.exists(_.startsWith("00000000000000000009.checkpoint")))
    // full replay from the checkpoint alone
    assert(readBack(dir).count() == 30)
    // the txn ledger survived through the checkpoint: a redelivery skips
    val skip = DeltaWriter.write(Seq((5L, "dup")).toDF("id", "name"), dir,
      txn = Some(("appL", 41L)))
    assert(skip == 29L && readBack(dir).count() == 30)
    // new appends continue the version numbering; TT above the horizon works
    val v30 = DeltaWriter.write(Seq((30L, "r30")).toDF("id", "name"), dir)
    assert(v30 == 30L)
    DeltaWriter.write(Seq((31L, "r31")).toDF("id", "name"), dir)
    assert(readBack(dir, Map("version" -> "30")).count() == 31)
    assert(readBack(dir).count() == 32)
    // below the horizon fails loudly rather than serving wrong contents
    assertThrows[Exception](readBack(dir, Map("version" -> "5")).count())
  }

  test("multipart checkpoints: sharded write, replay, vacuum + cleanupLog over them") {
    val dir = newDir()
    (0 until 12).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name")
        .coalesce(1), dir))
    // the interval checkpoint at v9 was classic; force a MULTIPART one at
    // the head (14 actions: protocol + metaData + 12 adds; 4 per part)
    assert(DeltaWriter.checkpoint(spark, dir, actionsPerPart = 4L) == 11L)
    def names() = new java.io.File(dir + "/_delta_log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    val partRx = raw"0*11\.checkpoint\.\d{10}\.\d{10}\.parquet"
    assert(names().count(_.matches(partRx)) == 4, names())
    val lc = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(java.nio.file.Path.of(dir + "/_delta_log/_last_checkpoint")))
    assert(lc.get("version").asLong() == 11L && lc.get("parts").asInt() == 4
      && lc.get("size").asLong() == 14L, lc.toString)
    // replay equality straight off the sharded base
    assert(readBack(dir).count() == 12)
    assert(rows(readBack(dir)).contains(0L -> "r0"))
    // cleanupLog re-checkpoints at the head (rebase: full JSON replay,
    // sharded again via its own knob) then retires: 12 JSON + the
    // superseded classic v9 checkpoint
    Thread.sleep(5)
    assert(DeltaWriter.cleanupLog(spark, dir, retentionMs = 0L,
      actionsPerPart = 4L) == 13L)
    val lc2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(
      Files.readString(java.nio.file.Path.of(dir + "/_delta_log/_last_checkpoint")))
    assert(lc2.get("version").asLong() == 11L && lc2.get("parts").asInt() == 4)
    assert(readBack(dir).count() == 12)
    // vacuum keys on tombstone clocks read from the SHARDED checkpoint
    // path: overwrite, then a 5-minute window protects the tombstoned
    // files, retention zero reclaims them
    DeltaWriter.write(Seq((100L, "z")).toDF("id", "name"), dir, mode = "overwrite")
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 5L * 60 * 1000) == 0L)
    Thread.sleep(5)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 12L)
    assert(rows(readBack(dir)) == Set(100L -> "z"))
  }

  test("cleanupLog behind the head re-checkpoints first; retired JSON is covered") {
    val dir = newDir()
    // 15 commits: checkpoint lands at v9, head is v14 — the gap is the
    // advisor's hazard window (a pre-tombstone-carrying checkpoint plus
    // retired JSON would let a low-retention vacuum reclaim on mtime alone)
    (0 until 15).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    def names() = new java.io.File(dir + "/_delta_log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(names().contains("00000000000000000009.checkpoint.parquet"))
    Thread.sleep(5)
    // cleanup writes a FRESH checkpoint at the head (v14) and retires all
    // 15 JSON commits plus the superseded v9 checkpoint
    assert(DeltaWriter.cleanupLog(spark, dir, retentionMs = 0L) == 16L)
    val after = names()
    assert(after.count(_.endsWith(".json")) == 0, after)
    assert(after.contains("00000000000000000014.checkpoint.parquet"), after)
    assert(!after.exists(_.startsWith("00000000000000000009.checkpoint")), after)
    // full replay from the fresh checkpoint; appends continue the numbering
    assert(readBack(dir).count() == 15)
    assert(DeltaWriter.write(Seq((99L, "x")).toDF("id", "name"), dir) == 15L)
    assert(readBack(dir).count() == 16)
  }

  test("cleanupLog with a dangling checkpoint hint heals from the JSON, never trusts it") {
    val dir = newDir()
    (0 until 10).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    // corrupt state: the hint survives, the checkpoint parquet does not —
    // the JSON commits are the only real replay state
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new HPath(dir,
      "_delta_log/00000000000000000009.checkpoint.parquet"), false))
    Thread.sleep(5)
    // rebase replays the COMPLETE JSON history into a fresh checkpoint
    // (the dangling hint's broken base is never read), and only then
    // retires the JSON — the replay state is preserved by construction
    assert(DeltaWriter.cleanupLog(spark, dir, retentionMs = 0L) == 10L)
    val names = new java.io.File(dir + "/_delta_log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(names.count(_.endsWith(".json")) == 0, names)
    assert(names.contains("00000000000000000009.checkpoint.parquet"), names)
    assert(readBack(dir).count() == 10)
  }

  test("re-checkpointing over a base whose remove struct lacks deletionTimestamp") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    // hand-build a v0 checkpoint in an older/foreign writer's shape: a
    // remove channel WITHOUT the optional deletionTimestamp subfield, and
    // one clockless tombstone row (advisor finding: folding such a base
    // into a new checkpoint threw a raw AnalysisException — and
    // re-checkpointing is exactly what vacuum's refusal prescribes)
    val commit0 = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.json"))
    import org.apache.spark.sql.types._
    val slim = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))))
    val lines = commit0.split('\n').toSeq.filter(_.nonEmpty)
      .filterNot(_.contains("commitInfo")) :+
      """{"remove":{"path":"ghost.parquet","dataChange":true}}"""
    val scratch = Files.createTempDirectory("graft_cp_nots").toString
    spark.read.schema(slim).json(spark.createDataset(lines)).coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.checkpoint.parquet"))
    Files.writeString(java.nio.file.Path.of(dir + "/_delta_log/_last_checkpoint"),
      """{"version":0,"size":3}""")
    // commits through v9: the v9 checkpoint folds the slim base — it must
    // WRITE (clockless base tombstones drop as already-expired), not warn
    // itself away on an AnalysisException
    (1 until 10).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    val names = new java.io.File(dir + "/_delta_log").listFiles()
      .map(_.getName).filterNot(_.startsWith(".")).toSeq
    assert(names.contains("00000000000000000009.checkpoint.parquet"), names.sorted)
    val cp = spark.read.parquet(
      dir + "/_delta_log/00000000000000000009.checkpoint.parquet")
    // the clockless ghost tombstone dropped (missing ts = 0 = expired)
    assert(cp.where("remove.path is not null").count() == 0L)
    // the table replays from the new checkpoint alone
    deleteLogFiles(dir)(name => name.endsWith(".checkpoint.parquet") ||
      name == "_last_checkpoint")
    assert(readBack(dir).count() == 10)
  }

  test("checkpoints carry remove tombstones; vacuum honors their clocks after JSON cleanup") {
    val dir = newDir()
    (0 until 9).foreach(i =>
      DeltaWriter.write(Seq((i.toLong, s"r$i")).toDF("id", "name"), dir))
    // v9 = overwrite -> 9 remove tombstones land in the v9 checkpoint
    DeltaWriter.write(Seq((100L, "z")).toDF("id", "name"), dir, mode = "overwrite")
    val cpText = spark.read.parquet(
      dir + "/_delta_log/00000000000000000009.checkpoint.parquet")
    assert(cpText.where("remove.path is not null").count() == 9L,
      "the checkpoint must carry the overwrite's tombstones")
    // external log cleanup: every JSON commit at or below the checkpoint goes
    deleteLogFiles(dir)(name => name.endsWith(".checkpoint.parquet"))
    assert(rows(readBack(dir)) == Set(100L -> "z"))
    // age the overwritten files' MTIME far past any window: only the
    // checkpoint-carried tombstone clocks can now protect them
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 30L * 24 * 3600 * 1000
    fs.listStatus(new HPath(dir)).filter(st => !st.isDirectory &&
      st.getPath.getName.endsWith(".parquet")).foreach(st =>
      fs.setTimes(st.getPath, old, -1))
    // a 5-minute window: tombstones are seconds old -> nothing reclaims
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 5L * 60 * 1000) == 0L)
    // retention zero after the clock ticks: the overwritten files reclaim
    Thread.sleep(5)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 9L)
    assert(rows(readBack(dir)) == Set(100L -> "z"))
  }

  test("vacuum refuses when JSON is gone and the checkpoint has no tombstone channel") {
    val dir = newDir()
    DeltaWriter.write(Seq((1L, "a")).toDF("id", "name"), dir)
    // hand-build a remove-less checkpoint (an older/foreign writer's shape)
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val commit0 = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.json"))
    import org.apache.spark.sql.types._
    val slim = StructType(Seq(
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType))))))
    val ds = spark.createDataset(commit0.split('\n').toSeq.filter(_.nonEmpty))
    val scratch = Files.createTempDirectory("graft_cp_slim").toString
    spark.read.schema(slim).json(ds).coalesce(1)
      .write.mode("overwrite").parquet(scratch)
    val part = new java.io.File(scratch).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.checkpoint.parquet"))
    Files.writeString(java.nio.file.Path.of(dir + "/_delta_log/_last_checkpoint"),
      """{"version":0,"size":3}""")
    deleteLogFiles(dir)(name => name.endsWith(".checkpoint.parquet"))
    assert(rows(readBack(dir)) == Set(1L -> "a")) // table still reads
    val e = intercept[IllegalArgumentException] {
      DeltaWriter.vacuum(spark, dir, retentionMs = 0L)
    }
    assert(e.getMessage.contains("refusing to vacuum"), e.getMessage)
    // the prescribed remedy WORKS when the checkpoint IS the head and the
    // pre-checkpoint JSON is gone: a same-version rebase re-checkpoint
    // refolds the base (review finding: the old `< v` base filter made
    // exactly this scenario throw 'found no protocol/metaData')
    assert(DeltaWriter.checkpoint(spark, dir) == 0L)
    assert(rows(readBack(dir)) == Set(1L -> "a"))
    // the rewrite is tombstone-CAPABLE, so vacuum now proceeds — with no
    // clocks to honor, since the base never carried any (the documented
    // trade the operator accepts by re-checkpointing after JSON loss)
    DeltaWriter.vacuum(spark, dir, retentionMs = 0L)
    assert(rows(readBack(dir)) == Set(1L -> "a"))
  }

  test("compact materializes deletion vectors: DV-free replacements, originals reclaimable") {
    val dir = newDir()
    // two appends -> two small files; file A's rows in a known order so
    // DV row indexes are deterministic
    DeltaWriter.write(Seq((0L, "a0"), (1L, "a1"), (2L, "a2")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id"), dir)
    DeltaWriter.write(Seq((10L, "b0"), (11L, "b1")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id"), dir)
    // part names carry task UUIDs — find batch A's file by CONTENT, not
    // by sort order (the sorted head is whichever uuid sorts first)
    val fileA = DeltaLoader.snapshot(spark, dir).files.map(_.path).find(p =>
      spark.read.parquet(dir + "/" + p).where("id = 0").count() == 1).get
    val fs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sizeA = fs.getFileStatus(new HPath(dir, fileA)).getLen
    // an external DELETE lands at v2: re-add file A with an inline DV
    // dropping row index 1 (id 1)
    val dvBytes = DvFixtures.serializeRoaring(Array(1L))
    Files.writeString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000002.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""" + "\n" +
        s"""{"add":{"path":"$fileA","partitionValues":{},"size":$sizeA,""" +
        s""""modificationTime":1,"dataChange":true,"deletionVector":{""" +
        s""""storageType":"i","pathOrInlineDv":"${DvFixtures.z85Encode(
          DvFixtures.padTo4(dvBytes))}","sizeInBytes":${dvBytes.length},""" +
        """"cardinality":1}}}""" + "\n")
    def ids() = readBack(dir).select("id").collect().map(_.getLong(0)).toSet
    assert(ids() == Set(0L, 2L, 10L, 11L)) // the DV hides id 1
    // compaction rewrites BOTH small files, materializing the DV
    val v = DeltaWriter.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(v == 3L)
    assert(ids() == Set(0L, 2L, 10L, 11L)) // same logical contents
    val snap = DeltaLoader.snapshot(spark, dir)
    assert(snap.files.size == 1, snap.files.map(_.path))
    assert(snap.files.forall(_.dv.isEmpty), "replacements must be DV-free")
    // physical purge: the packed file really has 4 rows, not 5
    assert(spark.read.parquet(new HPath(dir, snap.files.head.path).toString)
      .count() == 4L)
    // the swap is pure reorganization and the originals are vacuum-able
    val commit = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000003.json"))
    assert(!commit.contains("\"dataChange\":true"), commit)
    Thread.sleep(5)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 2L)
    assert(ids() == Set(0L, 2L, 10L, 11L))
    // a LONE DV-bearing file still rewrites (materialization pass), while
    // a lone small DV-free file stays put
    assert(DeltaWriter.compact(spark, dir, targetFileBytes = 1L << 20) == -1L)
    val dir2 = newDir()
    DeltaWriter.write(Seq((0L, "x"), (1L, "y")).toDF("id", "name")
      .coalesce(1).sortWithinPartitions("id"), dir2)
    val f2 = DeltaLoader.snapshot(spark, dir2).files.head
    val size2 = fs.getFileStatus(new HPath(dir2, f2.path)).getLen
    val dv2 = DvFixtures.serializeRoaring(Array(0L))
    Files.writeString(java.nio.file.Path.of(
      dir2 + "/_delta_log/00000000000000000001.json"),
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],"writerFeatures":["deletionVectors"]}}""" + "\n" +
        s"""{"add":{"path":"${f2.path}","partitionValues":{},"size":$size2,""" +
        s""""modificationTime":1,"dataChange":true,"deletionVector":{""" +
        s""""storageType":"i","pathOrInlineDv":"${DvFixtures.z85Encode(
          DvFixtures.padTo4(dv2))}","sizeInBytes":${dv2.length},""" +
        """"cardinality":1}}}""" + "\n")
    assert(DeltaWriter.compact(spark, dir2, targetFileBytes = 1L << 20) == 2L)
    val snap2 = DeltaLoader.snapshot(spark, dir2)
    assert(snap2.files.size == 1 && snap2.files.forall(_.dv.isEmpty))
    assert(readBack(dir2).select("id").collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("compact rewrites column-mapped tables via physical names") {
    import org.apache.spark.sql.functions.{col, struct}
    val dir = Files.createTempDirectory("graft_delta_cm_compact").toString
    // an adopted name-mapped table: physical column names in the files
    // (incl. a nested struct field), partitionValues keyed by PHYSICAL
    // partition name — the DeltaLoaderSpec column-mapping fixture shape,
    // with TWO small files in partition d1 so compaction engages
    def writePhys(rows: Seq[(Long, String, Long)], sub: String): String = {
      rows.toDF("col-id", "col-v", "xx")
        .select(col("`col-id`"), col("`col-v`"),
          struct(col("xx").as("col-x")).as("col-s"))
        .coalesce(1).write.parquet(s"$dir/$sub")
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      s"$sub/${f.getName}"
    }
    val f1 = writePhys(Seq((1L, "a", 10L)), "p1")
    val f2 = writePhys(Seq((2L, "b", 20L)), "p2")
    val f3 = writePhys(Seq((3L, "c", 30L)), "p3")
    def fld(name: String, tpe: String, id: Int, phys: String): String =
      s"""{"name":"$name","type":$tpe,"nullable":true,"metadata":{""" +
        s""""delta.columnMapping.id":$id,"delta.columnMapping.physicalName":"$phys"}}"""
    val nested = s"""{"type":"struct","fields":[${fld("x", "\"long\"", 4, "col-x")}]}"""
    val cmSchema = s"""{"type":"struct","fields":[${fld("id", "\"long\"", 1, "col-id")},""" +
      s"""${fld("v", "\"string\"", 2, "col-v")},${fld("s", nested, 3, "col-s")},""" +
      s"""${fld("ds", "\"string\"", 5, "col-ds")}]}"""
    val metaLine =
      s"""{"metaData":{"id":"t","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":${new com.fasterxml.jackson.databind.ObjectMapper()
          .writeValueAsString(cmSchema)},"partitionColumns":["ds"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"5"}}}"""
    Files.createDirectories(java.nio.file.Path.of(dir + "/_delta_log"))
    Files.writeString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000000.json"), Seq(
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaLine,
      s"""{"add":{"path":"$f1","partitionValues":{"col-ds":"d1"},"size":1,"modificationTime":1,"dataChange":true}}""",
      s"""{"add":{"path":"$f2","partitionValues":{"col-ds":"d1"},"size":1,"modificationTime":2,"dataChange":true}}""",
      s"""{"add":{"path":"$f3","partitionValues":{"col-ds":"d2"},"size":1,"modificationTime":3,"dataChange":true}}""")
      .mkString("", "\n", "\n"))
    def contents() = readBack(dir).select("id", "v", "s.x", "ds").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3))).toSet
    val expect = Set((1L, "a", 10L, "d1"), (2L, "b", 20L, "d1"), (3L, "c", 30L, "d2"))
    assert(contents() == expect)
    // compaction packs d1's two files; d2's lone file carries
    val v = DeltaWriter.compact(spark, dir, targetFileBytes = 1L << 20)
    assert(v == 1L)
    assert(contents() == expect) // reader equality across the swap
    assert(readBack(dir).inputFiles.length == 2)
    // the swap commit is pure reorganization in the PHYSICAL domain:
    // partitionValues keys stay physical, stats keys are physical
    val commit = Files.readString(java.nio.file.Path.of(
      dir + "/_delta_log/00000000000000000001.json"))
    assert(!commit.contains("\"dataChange\":true"), commit)
    assert(commit.contains(""""partitionValues":{"col-ds":"d1"}"""), commit)
    assert(commit.contains("col-id"), "stats must use physical names: " + commit)
    assert(!commit.contains(""""id":1,"""), commit) // never the logical key
    // the rewritten parquet carries PARQUET FIELD IDS from the mapping
    // (id-mode readers resolve by field id, not name — review finding)
    // the packed replacement is whichever live file is NOT the carried f3
    val packedPath = readBack(dir).inputFiles
      .map(p => new HPath(p)).find(!_.toString.endsWith(f3)).get
    // upcast to GroupType: MessageType's vararg getType overload is
    // ambiguous against GroupType's single-String one from Scala
    val pqSchema: org.apache.parquet.schema.GroupType =
      org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          packedPath, spark.sparkContext.hadoopConfiguration))
        .getFooter.getFileMetaData.getSchema
    assert(pqSchema.getType("col-id").getId.intValue == 1, pqSchema.toString)
    assert(pqSchema.getType("col-v").getId.intValue == 2)
    assert(pqSchema.getType("col-s").getId.intValue == 3)
    assert(pqSchema.getType("col-s").asGroupType().getType("col-x")
      .getId.intValue == 4, "nested mapped fields need ids too")
    // the replaced originals reclaim; contents hold
    Thread.sleep(5)
    assert(DeltaWriter.vacuum(spark, dir, retentionMs = 0L) >= 2L)
    assert(contents() == expect)
  }

  test("base-checkpoint column model: derived *_parsed skip only beside their sibling") {
    import org.apache.spark.sql.types._
    def addStruct(fields: (String, DataType)*): StructType =
      StructType(Seq(StructField("add", StructType(
        fields.map { case (n, t) => StructField(n, t) }))))
    // writeStatsAsStruct layout: stats_parsed NEXT TO stats — lossless skip
    DeltaWriter.requireModeledColumns(addStruct(
      "path" -> StringType, "stats" -> StringType,
      "stats_parsed" -> StructType(Seq(StructField("numRecords", LongType)))),
      "test")
    // writeStatsAsJson=false layout: stats_parsed is the ONLY copy — refuse
    val e = intercept[IllegalStateException] {
      DeltaWriter.requireModeledColumns(addStruct(
        "path" -> StringType,
        "stats_parsed" -> StructType(Seq(StructField("numRecords", LongType)))),
        "test")
    }
    assert(e.getMessage.contains("stats_parsed"), e.getMessage)
    // genuinely unknown columns always refuse
    val e2 = intercept[IllegalStateException] {
      DeltaWriter.requireModeledColumns(addStruct(
        "path" -> StringType, "baseRowId" -> LongType), "test")
    }
    assert(e2.getMessage.contains("baseRowId"))
  }

  test("encodeAddPath: RFC 2396 segments, pchar extras literal, URLDecoder round-trip") {
    val rel = "grp=a b+c%d=é/part-0001.snappy.parquet"
    val enc = DeltaWriter.encodeAddPath(rel)
    // '=' and '/' stay literal (hive partition paths read like upstream's);
    // space, '+', '%' and non-ASCII percent-encode
    assert(enc == "grp=a%20b%2Bc%25d=%C3%A9/part-0001.snappy.parquet", enc)
    assert(java.net.URLDecoder.decode(enc, "UTF-8") == rel)
    // every pchar extra this writer passes through survives a URLDecoder
    // readback unchanged
    val extras = ":@&=$,"
    assert(DeltaWriter.encodeAddPath(extras) == extras)
    assert(java.net.URLDecoder.decode(extras, "UTF-8") == extras)
  }
}
