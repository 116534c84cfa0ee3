package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.DataFrame

/** Minimal Delta Lake WRITER built on the public transaction-log protocol
  * (delta.io/protocol) — the sink side of [[DeltaLoader]], so a curation
  * pipeline can land its output as a transactional table instead of bare
  * parquet (reference precedent: the reference READS delta via delta-rs,
  * columnq/src/table/delta.rs; writing is the natural pipeline extension).
  *
  * Commit mechanics: data part files are written distributed (a normal
  * Spark parquet write into a scratch dir, then moved under the table
  * root), and the version's actions land in `_delta_log/<v>.json` through
  * `FileSystem.create(path, overwrite = false)` — the protocol's
  * put-if-absent primitive. On stores with ATOMIC create (file://, HDFS,
  * abfss) two writers racing to the same version cannot both win; the
  * loser re-reads the log, RE-VALIDATES against the fresh snapshot
  * (schema compatibility, txn ledger, metaData-on-first-commit), and
  * retries at the next version. S3-class stores have no atomic
  * create-if-absent — there the Delta protocol itself requires an
  * external commit coordinator (delta-rs uses a DynamoDB lock), and this
  * writer inherits that documented limitation. A crash before the commit
  * leaves only uncommitted data files — invisible to every reader,
  * reclaimable by vacuum, exactly the protocol's orphan story.
  *
  * Idempotent appends: an optional `txn` (appId, version) action makes a
  * commit a no-op when the log already carries that appId at >= version —
  * a caller that passes a batch id turns at-least-once batch redelivery
  * into exactly-once table contents.
  *
  * Supported: append + overwrite, schema declared on first commit,
  * schema-compatibility enforcement on append, version continuation after
  * any reader-compatible log (checkpoint-based tables append fine — new
  * JSON commits replay after the checkpoint), and PARTITIONED tables:
  * `partitionBy` columns land in `metaData.partitionColumns`, the data
  * write goes through Spark's dynamic-partition layout (which, exactly as
  * the Delta protocol wants, keeps partition columns OUT of the data
  * files — [[DeltaLoader]] reconstructs them from the log), and each add
  * action records its tuple in `partitionValues` (the protocol's
  * string-serialization: the unescaped hive dir value, null for the
  * default-partition marker). Appends inherit the table's partitioning
  * when `partitionBy` is omitted and refuse a mismatched one; overwrite
  * may re-partition. Partition key types: string / int-family / boolean /
  * date; empty-string values refuse (the layout cannot tell them from
  * null). Unsupported (fails loudly): appending to column-mapped tables
  * (data files would need physical names).
  *
  * Checkpoints: after committing version v with (v+1) divisible by
  * [[checkpointInterval]], the full replay state at v lands in
  * `<v>.checkpoint.parquet` + `_last_checkpoint` (the public checkpoint
  * layout delta-rs and [[DeltaLoader]] consume), so reader log replay
  * stays O(interval) in commit count instead of O(commits). The
  * cumulative add set — the only big thing on a 100 TB table — never
  * touches the driver: a prior checkpoint's adds are read distributed,
  * anti-joined against post-checkpoint tombstones executor-side, and
  * unioned with the (protocol-small) new JSON adds straight into the
  * parquet write. Checkpoint actions carry `dataChange=false`; the
  * latest txn per appId rides along, and so do remove TOMBSTONES within
  * [[checkpointTombstoneRetentionMs]] (vacuum keys its retention on their
  * deletionTimestamps, which otherwise vanish with cleaned-up JSON), so
  * idempotent appends AND safe vacuums survive pre-checkpoint JSON
  * cleanup. Time travel below a checkpoint still replays from version
  * zero while the JSON exists — until [[vacuum]] reclaims the referenced
  * files, at which point the retention window IS the time-travel horizon
  * (the documented upstream trade).
  */
object DeltaWriter {

  private val mapper = new ObjectMapper()

  /** Write `df` as one Delta commit; returns the committed version (or the
    * already-committed version for an idempotent-skip). `partitionBy`
    * declares partition columns (empty = inherit the table's partitioning
    * on append, unpartitioned on create/overwrite). */
  def write(df: DataFrame, dir: String, mode: String = "append",
            txn: Option[(String, Long)] = None,
            partitionBy: Seq[String] = Seq.empty): Long = {
    require(mode == "append" || mode == "overwrite",
      s"DeltaWriter mode must be append|overwrite, got `$mode`")
    val spark = df.sparkSession
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = new HPath(root, "_delta_log")
    fs.mkdirs(logDir)


    // the data files are written ONCE (their add actions are valid against
    // any snapshot); everything snapshot-DEPENDENT — validation, the txn
    // ledger check, removes, metaData-on-first-commit — is recomputed from
    // a FRESH log read on every commit attempt, so losing a race to a
    // concurrent CREATE or schema-changing commit re-validates instead of
    // republishing stale metaData/removes (review finding).
    var adds: Seq[String] = null
    var writtenPartCols: Seq[String] = null
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 20,
        s"DeltaWriter gave up after $attempts contended commit attempts on $dir")

      val existing: Option[DeltaLoader.Snapshot] =
        if (fs.listStatus(logDir).exists(_.getPath.getName.matches("\\d{20}\\.json")) ||
            fs.exists(new HPath(logDir, "_last_checkpoint")))
          Some(DeltaLoader.snapshot(spark, dir))
        else None

      existing.foreach { s =>
        require(s.columnMappingMode == "none",
          "DeltaWriter cannot write into a column-mapped table " +
            "(data files would need physical column names)")
        if (mode == "append") {
          val want = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
          val have = s.schema.fields.map(f => (f.name, f.dataType)).toSeq
          require(want == have,
            s"append schema ${want.mkString(",")} does not match table schema " +
              s"${have.mkString(",")} (overwrite to replace the schema)")
        }
      }
      // effective partitioning: explicit, else inherit on append. Both the
      // inherit and the mismatch check recompute per attempt (a lost race
      // may have re-partitioned the table).
      val tableParts = existing.map(_.partitionColumns).getOrElse(Seq.empty)
      val partCols: Seq[String] =
        if (partitionBy.nonEmpty) partitionBy
        else if (mode == "append") tableParts
        else Seq.empty
      if (mode == "append" && existing.isDefined)
        require(partCols == tableParts,
          s"append partitioning ${partCols.mkString(",")} does not match the " +
            s"table's ${tableParts.mkString(",")} (overwrite to re-partition)")
      require(adds == null || partCols == writtenPartCols,
        "table partitioning changed between commit attempts; re-run the write")

      // idempotent replay: the txn ledger is consulted BEFORE any data
      // write, so a redelivered micro-batch costs two metadata reads, not
      // a parquet pass
      val alreadyCommitted = txn.exists { case (appId, v) =>
        lastTxnVersion(spark, fs, logDir, appId).exists(_ >= v)
      }
      if (alreadyCommitted) return existing.map(_.version).getOrElse(0L)

      val now = System.currentTimeMillis()
      if (adds == null) {
        // validate the EFFECTIVE partitioning (explicit or inherited —
        // validating only the argument would miss inherited columns)
        partCols.foreach { c =>
          val f = df.schema.fields.find(_.name == c).getOrElse(
            throw new IllegalArgumentException(
              s"partition column `$c` is not in the dataframe schema"))
          require(partitionKeyOk(f.dataType),
            s"DeltaWriter cannot partition on ${f.dataType} column `$c` " +
              "(string / int-family / boolean / date only)")
        }
        PartitionLayout.refuseEmptyStringKeys(df, partCols, "DeltaWriter")
        adds = writeDataFiles(df, fs, root, partCols, now)
        writtenPartCols = partCols
      }

      val removes =
        if (mode == "overwrite")
          existing.toSeq.flatMap(_.files).map(f =>
            s"""{"remove":{"path":${jstr(f.path)},"deletionTimestamp":$now,""" +
              """"dataChange":true}}""")
        else Seq.empty
      val metaLines =
        if (existing.isEmpty || mode == "overwrite") {
          val pcJson = partCols.map(jstr).mkString("[", ",", "]")
          Seq(
            """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
            s"""{"metaData":{"id":"${java.util.UUID.randomUUID()}",""" +
              """"format":{"provider":"parquet","options":{}},""" +
              s""""schemaString":${jstr(df.schema.json)},""" +
              s""""partitionColumns":$pcJson,"configuration":{},"createdTime":$now}}""")
        } else Seq.empty
      val txnLines = txn.toSeq.map { case (appId, v) =>
        s"""{"txn":{"appId":${jstr(appId)},"version":$v,"lastUpdated":$now}}"""
      }
      val commitInfo =
        s"""{"commitInfo":{"timestamp":$now,"operation":"${
          if (mode == "overwrite") "WRITE" else "APPEND"}","operationParameters":{},""" +
          """"engineInfo":"graft-delta-writer"}}"""
      val lines = (Seq(commitInfo) ++ metaLines ++ txnLines ++ removes ++ adds)
        .mkString("", "\n", "\n")

      val version = existing.map(_.version + 1).getOrElse(0L)
      val target = new HPath(logDir, f"$version%020d.json")
      if (commitJson(fs, target, lines)) {
        if ((version + 1) % checkpointInterval == 0) {
          // a checkpoint is a replay optimization, not part of the commit:
          // the version is already durable, so a checkpoint failure must
          // not fail (or worse, re-run) the committed write
          try writeCheckpoint(spark, fs, root, logDir, version)
          catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(
                s"[graft] delta checkpoint at version $version failed (table stays " +
                  s"readable via JSON replay): $e")
          }
        }
        // freshness hook: a registered column index over this dir re-derives
        // its zones from the new snapshot (zero footer reads)
        ColumnIndexRegistry.refreshFromCommit(spark, dir, "delta")
        return version
      } else {
        // lost the race — loop back to a FRESH snapshot read. Appends
        // recompute and retry; an overwrite's remove set went stale, so
        // it refuses rather than resurrect or double-tombstone files.
        require(mode == "append",
          s"DeltaWriter overwrite lost a commit race at version $version; retry the operation")
      }
    }
    -1L // unreachable
  }

  /** Distributed data-file write shared by [[write]] and the DML paths
    * ([[DeltaDml.updateWhere]]/[[DeltaDml.upsert]] land their new rows
    * through the same machinery): one Spark job into a scratch dir —
    * partitioned writes go through Spark's dynamic-partition writer, which
    * keeps partition columns OUT of the data files, exactly the protocol's
    * shape — then each part moves under the table root keeping partition
    * dirs (part names repeat ACROSS partition dirs; within one dir Spark's
    * task UUIDs keep them unique across concurrent writers). Returns the
    * add-action JSON lines, stats included (the protocol's per-file
    * statistics channel: data-skipping readers plan off these without
    * touching a single parquet footer). */
  private[sources] def writeDataFiles(df: DataFrame, fs: FileSystem,
                                      root: HPath, partCols: Seq[String],
                                      now: Long): Seq[String] = {
    val spark = df.sparkSession
    val scratch = new HPath(root, s".graft_tmp_${java.util.UUID.randomUUID()}")
    val writer0 = df.write.mode("overwrite")
    (if (partCols.isEmpty) writer0 else writer0.partitionBy(partCols: _*))
      .parquet(scratch.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    // partition columns live in the log, not the files — no stats for
    // them (the column index derives exact zones from partitionValues)
    val statCols = df.schema.fields.map(_.name)
      .filterNot(partCols.contains).toSeq
    val adds = PartitionLayout.collectParts(fs, scratch).map { case (p, segs) =>
      val name = p.getName
      val bySeg = segs.map(PartitionLayout.parseSegment).toMap
      // the protocol's partitionValues: string-serialized values, JSON
      // null for the hive default-partition marker
      val pvJson = partCols.map { c =>
        val raw = bySeg.getOrElse(c, throw new IllegalStateException(
          s"partition dir for `$c` missing under scratch"))
        PartitionLayout.unescape(raw) match {
          case Some(v) => s"${jstr(c)}:${jstr(v)}"
          case None => s"${jstr(c)}:null"
        }
      }.mkString("{", ",", "}")
      val relDir = segs.mkString("/")
      val targetDir = if (relDir.isEmpty) root else new HPath(root, relDir)
      fs.mkdirs(targetDir)
      val target = new HPath(targetDir, name)
      require(fs.rename(p, target),
        s"DeltaWriter could not move data file $name into $targetDir")
      val addPath = encodeAddPath(if (relDir.isEmpty) name else s"$relDir/$name")
      val size = fs.getFileStatus(target).getLen
      val stats = statsJson(conf, target, statCols)
        .map(s => s""","stats":${jstr(s)}""").getOrElse("")
      s"""{"add":{"path":${jstr(addPath)},"partitionValues":$pvJson,""" +
        s""""size":$size,"modificationTime":$now,"dataChange":true$stats}}"""
    }
    fs.delete(scratch, true)
    adds
  }

  /** Write `df` (data columns + `_change_type`) as CHANGE DATA files under
    * `_change_data/` and return the protocol's `cdc` action lines
    * (PROTOCOL.md §Add CDC File: path, partitionValues, size,
    * dataChange=false — change files never alter the table's data).
    * Zero-row parts are reclaimed, not recorded. Same distributed
    * scratch-write + move shape as [[writeDataFiles]]. */
  private[sources] def writeCdcFiles(df: DataFrame, fs: FileSystem,
                                     root: HPath, partCols: Seq[String])
      : Seq[String] = {
    val spark = df.sparkSession
    val scratch = new HPath(root, s".graft_tmp_${java.util.UUID.randomUUID()}")
    val writer0 = df.write.mode("overwrite")
    (if (partCols.isEmpty) writer0 else writer0.partitionBy(partCols: _*))
      .parquet(scratch.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val actions = PartitionLayout.collectParts(fs, scratch).flatMap { case (p, segs) =>
      val rows = ColumnIndex.readFileZones(conf, p.toString, Seq.empty).rows
      require(rows >= 0L, s"could not read back the cdc part footer of $p")
      if (rows == 0L) { fs.delete(p, false); None }
      else {
        val bySeg = segs.map(PartitionLayout.parseSegment).toMap
        val pvJson = partCols.map { c =>
          val raw = bySeg.getOrElse(c, throw new IllegalStateException(
            s"cdc partition dir for `$c` missing under scratch"))
          PartitionLayout.unescape(raw) match {
            case Some(v) => s"${jstr(c)}:${jstr(v)}"
            case None => s"${jstr(c)}:null"
          }
        }.mkString("{", ",", "}")
        val relDir = segs.mkString("/")
        val targetDir =
          if (relDir.isEmpty) new HPath(root, "_change_data")
          else new HPath(new HPath(root, "_change_data"), relDir)
        fs.mkdirs(targetDir)
        val target = new HPath(targetDir, p.getName)
        require(fs.rename(p, target),
          s"DeltaWriter could not move cdc file ${p.getName} into $targetDir")
        val rel = "_change_data/" + (if (relDir.isEmpty) "" else relDir + "/") +
          p.getName
        val size = fs.getFileStatus(target).getLen
        Some(s"""{"cdc":{"path":${jstr(encodeAddPath(rel))},""" +
          s""""partitionValues":$pvJson,"size":$size,"dataChange":false}}""")
      }
    }
    fs.delete(scratch, true)
    actions
  }

  /** Commits between checkpoints: after committing version v with
    * (v+1) % interval == 0, the replay state lands in
    * `<v>.checkpoint.parquet` + `_last_checkpoint`. */
  val checkpointInterval: Int = 10

  /** Actions per checkpoint PART: above this, the checkpoint shards into
    * the protocol's multipart layout `<v>.checkpoint.<i>.<n>.parquet`
    * with `parts` recorded in `_last_checkpoint`. A single-task
    * `coalesce(1)` over a 100 TB table's millions of adds is a straggler
    * by construction (advisor finding); sharding keeps every write task
    * bounded. ~500k actions ≈ a comfortably-sized parquet part. */
  val checkpointPartActions: Long = 500000L

  /** Write a checkpoint at the current head version ON DEMAND — the ops
    * hook (and the remedy [[vacuum]]'s refusal message prescribes for
    * tombstone-less foreign checkpoints). Runs in REBASE mode: while
    * commit zero still exists the full JSON history replays (recovering
    * every tombstone clock a foreign checkpoint may have dropped — the
    * whole point of the remedy); once pre-checkpoint JSON is gone, a
    * same-version base refolds (review finding: the old `< v` base
    * filter made the remedy throw 'no protocol/metaData' in exactly the
    * head-equals-checkpoint scenario it is prescribed for). Returns the
    * checkpointed version. `actionsPerPart` tunes the multipart
    * threshold. */
  def checkpoint(spark: org.apache.spark.sql.SparkSession, dir: String,
                 actionsPerPart: Long = checkpointPartActions): Long = {
    require(actionsPerPart > 0, s"actionsPerPart must be > 0, got $actionsPerPart")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = logDirOf(root)
    val commitRx = raw"(\d{20})\.json".r
    val jsonHead = fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case commitRx(v) => v.toLong }
    val head = (jsonHead.toSeq ++ readLastCheckpoint(fs, logDir).map(_._1))
      .maxOption.getOrElse(
        throw new IllegalArgumentException(
          s"checkpoint: no commits or checkpoint found under $logDir"))
    writeCheckpoint(spark, fs, root, logDir, head, actionsPerPart, rebase = true)
    head
  }

  /** Remove tombstones older than this drop out of checkpoints (upstream's
    * `delta.deletedFileRetentionDuration` default). [[vacuum]] retentions
    * beyond this window degrade to mtime-only for files whose tombstones
    * expired — the same trade upstream documents. */
  val checkpointTombstoneRetentionMs: Long = 7L * 24 * 3600 * 1000

  /** The checkpoint action schema this writer emits — the public layout's
    * reader-relevant columns (txn/add/remove/metaData/protocol).
    * add.stats, add.deletionVector and add.tags ARE carried forward (data
    * skipping keeps working, and appending to a DV-bearing table cannot
    * resurrect deleted rows through our checkpoint). Actions or add
    * subfields BEYOND this model (domainMetadata, rowTracking's
    * baseRowId, ...) do not silently drop: [[writeCheckpoint]] refuses to
    * checkpoint a table whose replay state it cannot represent in full
    * (advisor finding — a lossy checkpoint plus external pre-checkpoint
    * JSON cleanup is data corruption for external engines). */
  private lazy val cpSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val dv = StructType(Seq(
      StructField("storageType", StringType), StructField("pathOrInlineDv", StringType),
      StructField("offset", IntegerType), StructField("sizeInBytes", IntegerType),
      StructField("cardinality", LongType),
      StructField("maxRowIndex", LongType))) // optional in upstream DELETE flows
    StructType(Seq(
      StructField("txn", StructType(Seq(
        StructField("appId", StringType), StructField("version", LongType),
        StructField("lastUpdated", LongType)))),
      StructField("add", StructType(Seq(
        StructField("path", StringType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("modificationTime", LongType),
        StructField("dataChange", BooleanType),
        StructField("stats", StringType),
        StructField("tags", MapType(StringType, StringType)),
        StructField("deletionVector", dv)))),
      // remove models upstream's optional subfields too (extendedFileMetadata,
      // partitionValues, size, stats, tags, deletionVector): adopted tables
      // whose DELETE flows write them must stay checkpointable — the refusal
      // is for UNKNOWN state, not the spec's own optional fields
      StructField("remove", StructType(Seq(
        StructField("path", StringType),
        StructField("deletionTimestamp", LongType),
        StructField("dataChange", BooleanType),
        StructField("extendedFileMetadata", BooleanType),
        StructField("partitionValues", MapType(StringType, StringType)),
        StructField("size", LongType),
        StructField("stats", StringType),
        StructField("tags", MapType(StringType, StringType)),
        StructField("deletionVector", dv)))),
      StructField("metaData", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("description", StringType),
        StructField("format", StructType(Seq(
          StructField("provider", StringType),
          StructField("options", MapType(StringType, StringType))))),
        StructField("schemaString", StringType),
        StructField("partitionColumns", ArrayType(StringType)),
        StructField("configuration", MapType(StringType, StringType)),
        StructField("createdTime", LongType)))),
      // reader/writerFeatures are REQUIRED at protocol v3 — dropping them
      // through the checkpoint would brick table-features tables for
      // external readers once pre-checkpoint JSON is cleaned up (review
      // finding)
      StructField("protocol", StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType),
        StructField("readerFeatures", ArrayType(StringType)),
        StructField("writerFeatures", ArrayType(StringType)))))))
  }

  /** VACUUM (the protocol's orphan-reclaim story): delete data files under
    * the table root that the CURRENT snapshot does not reference and whose
    * modification time is older than `retentionMs`. That covers
    * overwritten/removed files and crashed writers' uncommitted orphans
    * alike. Consequence, exactly as upstream Delta documents: time travel
    * to versions that referenced the deleted files stops working — the
    * retention window is the time-travel horizon.
    *
    * Scale shape: the driver walks DIRECTORIES only (partition-dir count)
    * and holds the live set plus the JSON-commit tombstones (the same
    * lists [[DeltaLoader.snapshot]] already materializes to plan any
    * scan); per-FILE work — listing, the liveness anti-join, the
    * tombstone join, the deletes — runs on executors, and checkpoint
    * remove rows (all-time removed files, the unbounded set) never touch
    * the driver. Returns the deleted file count. */
  def vacuum(spark: org.apache.spark.sql.SparkSession, dir: String,
             retentionMs: Long = 7L * 24 * 3600 * 1000): Long = {
    require(retentionMs >= 0, s"vacuum retention must be >= 0, got $retentionMs")
    import org.apache.spark.sql.functions.{coalesce, col, greatest, lit, max}
    import spark.implicits._
    val root = new HPath(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = root.getFileSystem(hconf)
    val logDir = logDirOf(root)
    val snap = DeltaLoader.snapshot(spark, dir)
    def norm(p: String): String = new HPath(p).toString
    val liveData: Set[String] = snap.files.map { f =>
      val abs =
        if (f.path.contains("://") || f.path.startsWith("/")) f.path
        else new HPath(dir, java.net.URLDecoder.decode(f.path, "UTF-8")).toString
      norm(fs.makeQualified(new HPath(abs)).toString)
    }.toSet
    // deletion-vector sidecars referenced by live adds are live too:
    // upstream VACUUM protects them explicitly — deleting one would break
    // the CURRENT snapshot, not just time travel (review finding)
    val liveDv: Set[String] = snap.files.flatMap(_.dv).flatMap(d =>
      scala.util.Try(
        norm(fs.makeQualified(DeletionVectors.dvPath(dir, d)).toString)).toOption
    ).toSet
    val live = liveData ++ liveDv
    val cutoff = System.currentTimeMillis() - retentionMs

    // the retention clock for a REMOVED file is its tombstone's
    // deletionTimestamp, not the file's mtime — a file written long ago
    // but overwritten a minute ago must survive the full window (readers
    // may be mid-scan of the previous snapshot, and it is the time-travel
    // horizon; review finding — upstream VACUUM keys on the same field,
    // and like upstream a tombstone MISSING the optional timestamp counts
    // as 0 = deletable, not exempt-forever). JSON-commit tombstones are
    // driver-bounded by commit actions; checkpoint tombstones (the
    // all-time removed set) ride as a DataFrame, executor-side only.
    val jsonTomb: Map[String, Long] = {
      val out = scala.collection.mutable.Map[String, Long]()
      val commitRx = raw"\d{20}\.json".r
      fs.listStatus(logDir).map(_.getPath)
        .filter(p => commitRx.matches(p.getName)).foreach { p =>
          val in = fs.open(p)
          val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          text.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
            val r = mapper.readTree(line).get("remove")
            if (r != null && !r.isNull) {
              val raw = r.get("path").asText()
              val ts = Option(r.get("deletionTimestamp")).filterNot(_.isNull)
                .map(_.asLong()).getOrElse(0L)
              val abs =
                if (raw.contains("://") || raw.startsWith("/")) raw
                else new HPath(dir, java.net.URLDecoder.decode(raw, "UTF-8")).toString
              val key = norm(fs.makeQualified(new HPath(abs)).toString)
              out(key) = math.max(out.getOrElse(key, 0L), ts)
              // the remove's retention clock covers its DV BIN too: a bin
              // written long ago but superseded by a DML commit moments ago
              // is unreferenced-by-live + old-mtime, and without this clock
              // it would delete inside the retention window — breaking time
              // travel and readers mid-scan of the prior snapshot (review
              // finding; same deletionTimestamp logic as the data file)
              dvBinKey(fs, dir, r.get("deletionVector")).foreach { bin =>
                out(bin) = math.max(out.getOrElse(bin, 0L), ts)
              }
            }
          }
        }
      out.toMap
    }

    val confEntries = DistKit.confEntries(hconf)
    val dirStr = dir
    def taskFs(): FileSystem =
      new HPath(dirStr).getFileSystem(DistKit.rebuildConf(confEntries))

    // checkpoint tombstones, only when the pre-checkpoint JSON is gone
    // (external log cleanup / [[cleanupLog]]): with commit zero present
    // the JSON scan above already saw everything. The rows stay a
    // DataFrame end to end.
    val commit0Present = fs.exists(new HPath(logDir, f"${0L}%020d.json"))
    val cpTomb: Option[DataFrame] =
      if (commit0Present) None
      else readLastCheckpoint(fs, logDir).map { case (v, parts) =>
        // readActions, not a raw read: a V2 checkpoint's tombstones live
        // in sidecar files — a main-file-only read would silently see a
        // remove-free table and vacuum on mtime alone
        val cp = DeltaCheckpoints.readActions(spark, fs, logDir, v, parts)
        // external checkpoints may omit OPTIONAL remove subfields — probe
        // the struct, never assume (review finding). A checkpoint with NO
        // remove channel at all while its JSON history is gone means the
        // tombstone clocks are unrecoverable: deleting on mtime alone
        // could reclaim a file removed five minutes ago, so refuse.
        // Residual window, stated honestly: a tombstone-CAPABLE checkpoint
        // is trusted as complete (upstream's own semantics — empty removes
        // = nothing removed within retention). Checkpoints from writers
        // that had the column but never populated it (this writer before
        // tombstone carrying landed) cannot be told apart from genuinely
        // remove-free tables; re-checkpoint before any external JSON
        // cleanup of such tables.
        val rm =
          if (!cp.columns.contains("remove")) Set.empty[String]
          else cp.schema("remove").dataType
            .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
        require(rm.contains("path"),
          s"vacuum: table at $dir replays from a checkpoint carrying no " +
            "remove tombstones while its pre-checkpoint JSON commits are " +
            "gone — deletion timestamps are unrecoverable, refusing to " +
            "vacuum (re-checkpoint with a tombstone-carrying writer first)")
        val tsCol =
          if (rm.contains("deletionTimestamp"))
            col("remove.deletionTimestamp").cast("long")
          else lit(null).cast("long")
        // checkpoint tombstones clock their DV bins too (same reasoning as
        // the JSON path above)
        val dvCol =
          if (rm.contains("deletionVector"))
            org.apache.spark.sql.functions.to_json(col("remove.deletionVector"))
          else lit(null).cast("string")
        cp.where(col("remove.path").isNotNull)
          .select(col("remove.path").as("rawPath"),
            coalesce(tsCol, lit(0L)).as("cts"), dvCol.as("dvj"))
          .as[(String, Long, String)]
          .mapPartitions { it =>
            val fsx = taskFs()
            it.flatMap { case (raw, ts, dvj) =>
              val abs =
                if (raw.contains("://") || raw.startsWith("/")) raw
                else new HPath(dirStr, java.net.URLDecoder.decode(raw, "UTF-8")).toString
              val main = (new HPath(fsx.makeQualified(new HPath(abs)).toString).toString, ts)
              val bin = Option(dvj).filter(_.startsWith("{")).flatMap { j =>
                scala.util.Try(DeletionVectors.parseDescriptorJson(j)).toOption
              }.filter(d => d.storageType == "u" || d.storageType == "p")
                .flatMap(d => scala.util.Try(new HPath(fsx.makeQualified(
                  DeletionVectors.dvPath(dirStr, d)).toString).toString).toOption)
                .map(p => (p, ts))
              Iterator(main) ++ bin.iterator
            }
          }.toDF("path", "cts").groupBy("path").agg(max("cts").as("cts"))
      }

    // the two-phase scaffold (driver dir walk + scratch reclaim, executor
    // listing/joins/deletes, empty-dir sweep) lives in [[DistKit.reclaim]];
    // this table format contributes the live anti-join and the tombstone
    // clocks: delete when mtime is old AND the newest clock is old
    val liveDf = live.toSeq.toDF("path")
    val jsonTombDf = jsonTomb.toSeq.toDF("path", "jts")
    DistKit.reclaim(spark, dir, cutoff,
      isScratchDir =
        n => n.startsWith(".graft_tmp_") || n.startsWith(".graft_cp_"),
      skipName = n => n.startsWith("_") || n.startsWith("."),
      skipDirName = n => n.startsWith("_") || n.startsWith("."),
      doom = { candidates =>
        val joined0 = candidates.where(col("mtime") < cutoff)
          .join(liveDf, Seq("path"), "left_anti")
          .join(jsonTombDf, Seq("path"), "left")
        val joined = cpTomb.map(t => joined0.join(t, Seq("path"), "left"))
          .getOrElse(joined0.withColumn("cts", lit(null).cast("long")))
        joined.where(greatest(coalesce(col("jts"), lit(0L)),
          coalesce(col("cts"), lit(0L))) < cutoff).select("path").as[String]
      })
  }

  /** The vacuum-clock key of a remove action's deletion-vector BIN file
    * (None for inline/absent DVs) — qualified + normalized like every
    * other vacuum path key. */
  private def dvBinKey(fs: FileSystem, dir: String,
                       dvNode: com.fasterxml.jackson.databind.JsonNode): Option[String] =
    Option(dvNode).filterNot(_.isNull).flatMap { d =>
      val st = Option(d.get("storageType")).map(_.asText()).getOrElse("")
      if (st != "u" && st != "p") None
      else scala.util.Try {
        val desc = DeletionVectors.Descriptor(st,
          d.get("pathOrInlineDv").asText(),
          Option(d.get("offset")).filterNot(_.isNull).map(_.asInt()),
          Option(d.get("sizeInBytes")).filterNot(_.isNull).map(_.asInt()).getOrElse(0),
          Option(d.get("cardinality")).filterNot(_.isNull).map(_.asLong()).getOrElse(0L))
        new HPath(fs.makeQualified(DeletionVectors.dvPath(dir, desc)).toString).toString
      }.toOption
    }

  private[sources] def logDirOf(root: HPath): HPath = new HPath(root, "_delta_log")

  /** Log retention (upstream's `delta.logRetentionDuration` story): delete
    * JSON commits at or below the LAST checkpoint — plus checkpoints that
    * checkpoint superseded — once they are older than `retentionMs`. The
    * last checkpoint carries the FULL replay state this writer needs
    * (adds, metaData, protocol, the txn ledger, tombstone clocks within
    * [[checkpointTombstoneRetentionMs]]), so current reads, appends,
    * idempotent skips, and [[vacuum]] all keep working; time travel to
    * versions at or below the checkpoint fails loudly afterwards — the
    * horizon trade upstream documents. Commits ABOVE the checkpoint are
    * never touched (they are the only record of those versions), and the
    * age gate keeps a straggling reader's listed-but-unread commits alive
    * for the window. Two safety legs (advisor + review findings):
    * whenever there is JSON to retire, a fresh checkpoint is first
    * written at the head by THIS writer in rebase mode (full JSON replay
    * while commit zero exists), so retired JSON is always covered by a
    * tombstone-carrying checkpoint — a pre-existing checkpoint proves
    * nothing even AT the head, since a foreign writer may never have
    * carried tombstones; and nothing deletes unless every file the
    * covering checkpoint depends on actually exists. Driver-side
    * metadata work bounded by the log's file count. Returns the number
    * of deleted log files. */
  def cleanupLog(spark: org.apache.spark.sql.SparkSession, dir: String,
                 retentionMs: Long = 30L * 24 * 3600 * 1000,
                 actionsPerPart: Long = checkpointPartActions): Long = {
    require(retentionMs >= 0, s"log retention must be >= 0, got $retentionMs")
    require(actionsPerPart > 0, s"actionsPerPart must be > 0, got $actionsPerPart")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = logDirOf(root)
    val commitRx = raw"(\d{20})\.json".r
    val cpRx = raw"(\d{20})\.checkpoint(?:\.\d{10}\.\d{10})?\.parquet".r
    val (cpV0, parts0) = readLastCheckpoint(fs, logDir) match {
      case Some(x) => x
      case None => return 0L // no checkpoint = the JSON is the only state
    }
    // ANY pre-existing checkpoint may predate tombstone carrying (a
    // foreign/older writer's — indistinguishable from a remove-free
    // table, and being AT the head proves nothing; review finding), and
    // retiring JSON against it would let a later low-retention vacuum
    // reclaim recently-removed files on mtime alone. So whenever there
    // is JSON to retire, re-checkpoint at the head with THIS writer
    // first, in rebase mode — full JSON replay while commit zero exists,
    // so every tombstone clock in the JSON about to be destroyed is
    // recovered into the covering checkpoint. An un-checkpointable table
    // (unrepresentable actions) fails loudly here instead of losing
    // state.
    val jsonVersions = fs.listStatus(logDir).map(_.getPath.getName)
      .collect { case commitRx(v) => v.toLong }
    val headV = jsonVersions.foldLeft(cpV0)(math.max)
    val (cpV, parts) =
      if (jsonVersions.nonEmpty) {
        writeCheckpoint(spark, fs, root, logDir, headV, actionsPerPart,
          rebase = true)
        readLastCheckpoint(fs, logDir).getOrElse(return 0L)
      } else (cpV0, parts0)
    // never destroy the only replay state on a stale/corrupt hint: the
    // JSON commits about to be deleted are recoverable ONLY through the
    // checkpoint the hint references — verify every file it depends on
    // (main parts AND v2 sidecars) actually exists before deleting
    // anything (advisor finding)
    val missingParts = DeltaCheckpoints.missingFiles(spark, fs, logDir, cpV, parts)
    require(missingParts.isEmpty,
      s"cleanupLog: _last_checkpoint points at version $cpV but " +
        s"${missingParts.mkString(", ")} is missing — refusing to retire " +
        "JSON commits (the only remaining replay state)")
    val cutoff = System.currentTimeMillis() - retentionMs
    // uuid-named V2 checkpoints retire like classic ones once superseded
    val cpV2Rx = raw"(\d{20})\.checkpoint\.[^.]+\.parquet".r
    var deleted = 0L
    fs.listStatus(logDir).foreach { st =>
      val doomed = st.getPath.getName match {
        case commitRx(v) => v.toLong <= cpV
        case cpRx(v) => v.toLong < cpV // never the last checkpoint itself
        case cpV2Rx(v) => v.toLong < cpV
        case _ => false
      }
      if (doomed && st.getModificationTime < cutoff) {
        // a retired commit's CHANGE DATA files are unreachable forever
        // (DeltaCdf refuses retired ranges, and vacuum skips _-prefixed
        // dirs) — retire them WITH the commit or _change_data grows
        // without bound
        if (commitRx.matches(st.getPath.getName)) scala.util.Try {
          val in = fs.open(st.getPath)
          val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
          text.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
            val c = mapper.readTree(line).get("cdc")
            if (c != null && !c.isNull) {
              val raw = c.get("path").asText()
              val abs = if (raw.contains("://") || raw.startsWith("/")) raw
                else new HPath(dir, java.net.URLDecoder.decode(raw, "UTF-8")).toString
              if (fs.delete(new HPath(abs), false)) deleted += 1
            }
          }
        }
        if (fs.delete(st.getPath, false)) deleted += 1
      }
    }
    // superseded V2 sidecars: sweep _sidecars/ against the SURVIVING
    // checkpoint's references (sidecars may be shared across checkpoints
    // per spec, so only the last checkpoint's keep-set decides liveness;
    // the age gate covers a just-written not-yet-referenced sidecar)
    val sidecarsDir = new HPath(logDir, "_sidecars")
    if (fs.exists(sidecarsDir)) {
      val keep = DeltaCheckpoints.referencedSidecars(spark, fs, logDir, cpV, parts)
        .map(p => fs.makeQualified(p).toString).toSet
      fs.listStatus(sidecarsDir).foreach { st =>
        if (!st.isDirectory && !st.getPath.getName.startsWith(".") &&
            !keep.contains(fs.makeQualified(st.getPath).toString) &&
            st.getModificationTime < cutoff && fs.delete(st.getPath, false))
          deleted += 1
      }
    }
    deleted
  }

  /** `add.path` must be an RFC 2396 URI-encoded relative path per the Delta
    * protocol (strict external readers — delta-rs — URL-parse it): every
    * byte outside the unreserved set percent-encodes, '/' stays a segment
    * separator. Hive dir escaping leaves spaces and non-ASCII literal in
    * the ON-DISK names, so escaping only '%'/'+' (the old rule) published
    * paths strict parsers reject (advisor finding). The pchar extras
    * ':@&=$,' stay literal too — RFC 2396 permits them in path segments
    * and every upstream engine writes hive partition paths that way
    * (`date=2024-01-01/...`, advisor finding) — EXCEPT '+', which must
    * encode: URLDecoder-based readback (ours) maps a literal '+' to space. */
  private[sources] def encodeAddPath(rel: String): String = {
    val sb = new StringBuilder
    rel.getBytes("UTF-8").foreach { b =>
      val c = (b & 0xff).toChar
      if (c == '/' || c.isLetterOrDigit && c < 128 ||
          "-_.!~*'():@&=$,".indexOf(c) >= 0)
        sb.append(c)
      else sb.append(f"%%${b & 0xff}%02X")
    }
    sb.toString
  }

  /** Put-if-absent JSON commit. True on success; false when the target
    * existed BEFORE our create (a genuine lost race, the caller's
    * policy). A failure AFTER our create first reads the file back: if
    * the intended bytes landed in full, the commit IS durable (a close()
    * hiccup after the flush must not delete a version a concurrent
    * reader may already have observed — re-committing that number with
    * different content would break immutability; review finding).
    * Otherwise the truncated file is deleted — a half-written commit
    * line would brick every later log replay — and a delete failure is
    * reported LOUDLY, never swallowed. */
  private[sources] def commitJson(fs: FileSystem, target: HPath, lines: String): Boolean = {
    var created = false
    try {
      val out = fs.create(target, false)
      created = true
      try out.write(lines.getBytes("UTF-8")) finally out.close()
      true
    } catch {
      case e @ (_: org.apache.hadoop.fs.FileAlreadyExistsException |
                _: java.io.IOException) =>
        if (created) {
          // "read back and MISMATCHED" deletes; "could not read back" must
          // NOT (the commit may be durable and already observed — deleting
          // and re-committing that version would break immutability;
          // review finding)
          scala.util.Try {
            val in = fs.open(target)
            try new String(in.readAllBytes(), "UTF-8") == lines
            finally in.close()
          } match {
            case scala.util.Success(true) => true // durable despite the error
            case scala.util.Success(false) =>
              if (!scala.util.Try(fs.delete(target, false)).getOrElse(false))
                System.err.println(s"[graft] could not remove truncated commit " +
                  s"$target after a failed write — the log will not replay " +
                  s"until it is removed: $e")
              throw e
            case scala.util.Failure(_) =>
              System.err.println(s"[graft] commit $target failed with $e and " +
                "could not be read back — it may be durable or truncated; " +
                "inspect before retrying")
              throw e
          }
        }
        else if (fs.exists(target)) false
        else throw e
    }
  }

  /** OPTIMIZE-style compaction (the protocol's bin-packing story): within
    * each partition, files smaller than `targetFileBytes` are rewritten
    * into as few files as possible and swapped in ONE commit whose add
    * and remove actions carry `dataChange = false` — the protocol's
    * signal that table contents did not change (streams reading the log
    * skip such commits). The third maintenance leg next to [[vacuum]] and
    * checkpoints: micro-batch sinks accumulate one small file per batch,
    * and a 100 TB scan over millions of tiny files is planner- and
    * IO-bound long before it is data-bound. Old files stay on disk for
    * time travel until vacuum reclaims them.
    *
    * Files carrying deletion vectors are ALWAYS rewrite candidates,
    * whatever their size: the rewrite MATERIALIZES the DV (the deleted
    * row indexes are anti-joined away during the read, exactly the
    * reader's own DV application), emits DV-free replacements, and the
    * swap commit drops the DV reference — after which the sidecar is
    * unreferenced and vacuum-able. That is the protocol's purge story:
    * DV-heavy files are precisely the ones worth compacting, and row
    * counts/stats of the replacements come from their own footers, so
    * they are exact post-delete.
    *
    * Column-mapped tables (mode `name`/`id`) compact too: the rewrite
    * reads and writes the PHYSICALIZED schema verbatim (data files store
    * physical names, `add.partitionValues` keys and `stats` keys are
    * physical per protocol), so adopted upstream tables stay
    * maintainable even though [[write]] refuses to append to them. A
    * lost commit race refuses rather than retry — the remove set was
    * computed against the pre-race snapshot. Returns the committed
    * version, or -1 when no partition had at least `minFiles` small
    * files or a DV to materialize (no commit made). */
  def compact(spark: org.apache.spark.sql.SparkSession, dir: String,
              targetFileBytes: Long = 128L << 20, minFiles: Int = 2,
              /** Non-empty = CLUSTERING pass: every live file rewrites in
                * Morton order over these (non-partition) columns
                * ([[ZOrderKit]]), so later scans prune on their add.stats
                * bounds. Layout-only, like the rest of compact. */
              zorderBy: Seq[String] = Seq.empty): Long = {
    require(targetFileBytes > 0 && minFiles >= 2,
      s"compact needs targetFileBytes > 0 and minFiles >= 2")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = logDirOf(root)
    val snap = DeltaLoader.snapshot(spark, dir)

    def abs(p: String): String =
      if (p.contains("://") || p.startsWith("/")) p
      else new HPath(dir, java.net.URLDecoder.decode(p, "UTF-8")).toString
    // column-mapped tables compact THROUGH physical names: data files
    // store physical columns, so the rewrite reads AND writes the
    // physicalized schema verbatim — a contents-preserving swap needs no
    // logical projection at all, which is what lets adopted upstream
    // tables be maintained here while write() still (honestly) refuses
    // to append to them
    val logicalData = org.apache.spark.sql.types.StructType(
      snap.schema.filterNot(f => snap.partitionColumns.contains(f.name)))
    // READ schema: physical names only — stamping parquet.field.id here
    // would make Spark demand ids from source files that may predate id
    // stamping (review-fix fallout: FAILED_READ_FILE on id-less files).
    // The ids attach on the WRITE side below.
    val dataSchema =
      if (snap.columnMappingMode == "none") logicalData
      else DeltaLoader.physicalize(logicalData)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    // WRITE schema: physical names + parquet.field.id from the mapping,
    // so id-mode readers can resolve the rewritten files
    val writeSchema =
      if (snap.columnMappingMode == "none") logicalData
      else DeltaLoader.physicalizeForWrite(logicalData)
        .asInstanceOf[org.apache.spark.sql.types.StructType]
    def withFieldIds(df: DataFrame): DataFrame =
      if (snap.columnMappingMode == "none") df
      else df.select(writeSchema.fields.map(f =>
        // the cast is a no-op on values but re-types nested structs to
        // the id-stamped target, so NESTED field ids reach the writer too
        org.apache.spark.sql.functions.col(s"`${f.name}`")
          .cast(f.dataType).as(f.name, f.metadata)).toIndexedSeq: _*)
    // zorder columns arrive as LOGICAL names; the rewrite reads physical —
    // map through the schema (partition columns carry zero information
    // within a group, so they refuse)
    val zorderPhys: Seq[String] = zorderBy.map { c =>
      require(!snap.partitionColumns.contains(c),
        s"zorderBy column `$c` is a partition column — it is constant " +
          "within every rewrite group and would waste key bits")
      val i = logicalData.fieldNames.indexOf(c)
      require(i >= 0, s"zorderBy column `$c` is not a data column of the table")
      dataSchema.fields(i).name
    }
    val conf = spark.sparkContext.hadoopConfiguration
    // stats keys are PHYSICAL names under column mapping, per protocol —
    // dataSchema is already in the right domain either way
    val statCols = dataSchema.fields.map(_.name).toSeq
    val now = System.currentTimeMillis()

    // per partition: the small-file set, its replacement files, and the
    // JSON action lines. File sizes come from the log's own add.size when
    // present (metadata-only selection — no per-file RPC at scale; review
    // finding); groups run as independent Spark jobs through a small
    // concurrency window instead of serially (review finding).
    val basePath = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    def compactGroup(pv: Map[String, String],
                     files: Seq[DeltaLoader.AddFile]): Seq[String] = {
      val sized = files.map { f =>
        val p = new HPath(abs(f.path))
        (f, p, if (f.size >= 0L) f.size else fs.getFileStatus(p).getLen)
      }
      // rewrite set: under-target files, plus EVERY DV-bearing file (the
      // materialization pass — size is irrelevant, the deletes are why it
      // rewrites). A lone DV file still rewrites; lone small DV-free
      // files wait for company. A CLUSTERING pass (zorderBy) rewrites the
      // whole group — re-ordering is the point, size is not.
      val small =
        if (zorderBy.nonEmpty) sized
        else sized.filter(e => e._3 < targetFileBytes || e._1.dv.isDefined)
      if (small.isEmpty ||
          (zorderBy.isEmpty && small.size < minFiles &&
            small.forall(_._1.dv.isEmpty))) return Seq.empty
      // replacements land NEXT TO the files they replace; validate the
      // target dir BEFORE the rewrite job — an external-files table whose
      // adds escape the root must refuse without paying a full read+
      // shuffle per attempt (review finding)
      val targetDir = small.head._2.getParent
      val fullDir = fs.makeQualified(targetDir).toUri.getPath.stripSuffix("/")
      require(fullDir == basePath || fullDir.startsWith(basePath + "/"),
        s"compact: partition dir $fullDir escapes the table root $basePath")
      val relDir = fullDir.stripPrefix(basePath).stripPrefix("/")
      val actions = Seq.newBuilder[String]
      val total = small.map(_._3).sum
      val nOut = math.max(1L, (total + targetFileBytes - 1) / targetFileBytes).toInt
      val scratch = new HPath(root, s".graft_tmp_${java.util.UUID.randomUUID()}")
      // DV materialization: each DV-bearing file scans SEPARATELY with a
      // row-index anti-join — row indexes are file-scoped, so per-file
      // scans need no path matching at all (review finding: keying on
      // _metadata.file_path string-matched against the log path silently
      // missed on qualified/URL-encoded forms, resurrecting deleted
      // rows). The deleted sets ride the driver briefly — bounded by
      // total deleted rows, the loader's own documented DV bound.
      val (dvSmall, plainSmall) = small.partition(_._1.dv.isDefined)
      val plainDf =
        if (plainSmall.isEmpty) Seq.empty[DataFrame]
        else Seq(spark.read.schema(dataSchema)
          .parquet(plainSmall.map(_._2.toString): _*))
      val dvDfs = dvSmall.map { case (f, p, _) =>
        import org.apache.spark.sql.functions.{broadcast, col}
        import spark.implicits._
        val deleted = DeletionVectors.read(spark, dir, f.dv.get)
          .toSeq.toDF("__graft_ri")
        spark.read.schema(dataSchema).parquet(p.toString)
          .withColumn("__graft_ri", col("_metadata.row_index"))
          .join(broadcast(deleted), Seq("__graft_ri"), "left_anti")
          .select(dataSchema.fieldNames.map(n => col(s"`$n`")).toIndexedSeq: _*)
      }
      // BALANCED union tree: a left-deep reduce over hundreds of
      // DV-bearing files makes Catalyst analysis quadratic-ish in plan
      // depth (review finding); pairwise grouping keeps depth O(log n) —
      // hoisted to [[DistKit.unionTree]] so the incremental readers fold
      // through the same tree
      val source = DistKit.unionTree(plainDf ++ dvDfs)
      // repartition, NOT coalesce: coalesce just glues the small files'
      // existing imbalance back together one level up (the repo's own
      // Compaction operator documents the same trade; review finding).
      // Clustering passes range-partition + sort in Morton order instead.
      val shaped =
        if (zorderPhys.isEmpty) withFieldIds(source).repartition(nOut)
        else ZOrderKit.cluster(withFieldIds(source), zorderPhys, nOut)
      shaped.write.mode("overwrite").parquet(scratch.toString)
      // republish the group's partitionValues VERBATIM: under column
      // mapping the action's keys are PHYSICAL names — keying on the
      // logical partitionColumns would remap every entry to null
      val pvJson = pv.map { case (k, v) =>
        s"${jstr(k)}:${if (v == null) "null" else jstr(v)}"
      }.mkString("{", ",", "}")
      fs.listStatus(scratch).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .foreach { p =>
          val target = new HPath(targetDir, p.getName)
          require(fs.rename(p, target),
            s"compact could not move ${p.getName} into $targetDir")
          val addPath = encodeAddPath(
            if (relDir.isEmpty) p.getName else s"$relDir/${p.getName}")
          val size = fs.getFileStatus(target).getLen
          val stats = statsJson(conf, target, statCols)
            .map(s => s""","stats":${jstr(s)}""").getOrElse("")
          actions += s"""{"add":{"path":${jstr(addPath)},"partitionValues":$pvJson,""" +
            s""""size":$size,"modificationTime":$now,"dataChange":false$stats}}"""
        }
      fs.delete(scratch, true)
      small.foreach { case (f, _, _) =>
        actions += s"""{"remove":{"path":${jstr(f.path)},"deletionTimestamp":$now,""" +
          """"dataChange":false}}"""
      }
      actions.result()
    }
    val groups = snap.files.groupBy(_.partitionValues).toSeq
    // groups run as independent Spark jobs through a bounded window; one
    // failed group stops the queued ones (DistKit.runBounded)
    val actions: Seq[String] =
      DistKit.runBounded(groups) { case (pv, fsq) => compactGroup(pv, fsq) }.flatten
    if (actions.isEmpty) return -1L

    val zParam =
      if (zorderBy.isEmpty) "{}"
      else s"""{"zOrderBy":${jstr(zorderBy.mkString("[\"", "\",\"", "\"]"))}}"""
    val commitInfo =
      s"""{"commitInfo":{"timestamp":$now,"operation":"OPTIMIZE",""" +
        s""""operationParameters":$zParam,"engineInfo":"graft-delta-writer"}}"""
    val lines = (Seq(commitInfo) ++ actions).mkString("", "\n", "\n")
    val version = snap.version + 1
    val target = new HPath(logDir, f"$version%020d.json")
    if (!commitJson(fs, target, lines))
      throw new IllegalStateException(
        s"compact lost a commit race at version $version; re-run against " +
          "the refreshed table")
    if ((version + 1) % checkpointInterval == 0) {
      try writeCheckpoint(spark, fs, root, logDir, version)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] delta checkpoint at version $version failed (table stays " +
              s"readable via JSON replay): $e")
      }
    }
    ColumnIndexRegistry.refreshFromCommit(spark, dir, "delta")
    version
  }

  /** Partition-key types the hive dir layout round-trips unambiguously —
    * the same set [[IcebergWriter]] accepts, for the same reasons (floats
    * are unsound keys; time columns partition via transforms/derived
    * columns). */
  private def partitionKeyOk(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case StringType | ByteType | ShortType | IntegerType | LongType |
           BooleanType | DateType => true
      case _ => false
    }
  }

  /** One data file's `stats` JSON (the public protocol shape:
    * numRecords/minValues/maxValues/nullCount), built from the parquet
    * footer zones the column index already knows how to merge. Columns
    * with unusable footer stats are simply absent (partial stats are
    * protocol-legal). */
  private[sources] def statsJson(conf: org.apache.hadoop.conf.Configuration,
                                 path: HPath, cols: Seq[String]): Option[String] = {
    val fz = ColumnIndex.readFileZones(conf, path.toString, cols)
    // an unreadable footer (rows = -1 marker) earns no stats claim:
    // publishing numRecords:0 for a file that has rows would make
    // stats-only COUNT answers silently wrong forever (review finding);
    // omitting stats is protocol-legal
    if (fz.rows < 0L) return None
    val doc = mapper.createObjectNode()
    doc.put("numRecords", fz.rows)
    val mins = doc.putObject("minValues")
    val maxs = doc.putObject("maxValues")
    val nulls = doc.putObject("nullCount")
    fz.zones.foreach { case (c, z) =>
      nulls.put(c, z.nulls)
      if (!z.allNull) z.kind match {
        case "long" => mins.put(c, z.minL); maxs.put(c, z.maxL)
        case "double" => mins.put(c, z.minD); maxs.put(c, z.maxD)
        case "string" => mins.put(c, z.minS); maxs.put(c, z.maxS)
        case "date" =>
          mins.put(c, java.time.LocalDate.ofEpochDay(z.minL).toString)
          maxs.put(c, java.time.LocalDate.ofEpochDay(z.maxL).toString)
        case "tsus" | "tsms" =>
          val perSec = if (z.kind == "tsus") 1000000L else 1000L
          def iso(v: Long): String = java.time.Instant.ofEpochSecond(
            Math.floorDiv(v, perSec),
            Math.floorMod(v, perSec) * (1000000000L / perSec)).toString
          mins.put(c, iso(z.minL)); maxs.put(c, iso(z.maxL))
        case _ => ()
      }
    }
    Some(mapper.writeValueAsString(doc))
  }

  private[sources] def readLastCheckpoint(fs: FileSystem, logDir: HPath)
      : Option[(Long, Option[Int])] = {
    val lc = new HPath(logDir, "_last_checkpoint")
    if (!fs.exists(lc)) None
    else {
      val in = fs.open(lc)
      val node = try mapper.readTree(in.readAllBytes()) finally in.close()
      Some(node.get("version").asLong() -> Option(node.get("parts")).map(_.asInt()))
    }
  }

  /** `_last_checkpoint`'s recorded action count; -1 when absent (foreign
    * writers may omit it despite the protocol). */
  private def readLastCheckpointSize(fs: FileSystem, logDir: HPath): Long = {
    val lc = new HPath(logDir, "_last_checkpoint")
    if (!fs.exists(lc)) -1L
    else {
      val in = fs.open(lc)
      val node = try mapper.readTree(in.readAllBytes()) finally in.close()
      Option(node.get("size")).filterNot(_.isNull).map(_.asLong()).getOrElse(-1L)
    }
  }

  /** Action keys a commit line may carry and still be represented in full
    * by [[cpSchema]]. `commitInfo` is free-form provenance — checkpoints
    * drop it by protocol, so it needs no model. Everything else
    * (domainMetadata, checkpointMetadata, sidecar, ...) refuses. `cdc`
    * actions carry NO table state (change-capture metadata only; the
    * protocol excludes them from checkpoints), so they drop like
    * commitInfo. */
  private val modeledActions = Set("add", "remove", "metaData", "protocol", "txn")

  /** The refusal [[cpSchema]]'s contract promises: a replayed commit line
    * whose state the checkpoint model cannot carry in full — an unmodeled
    * action, or a modeled action with subfields beyond the model
    * (rowTracking's `add.baseRowId`, ...) — aborts the checkpoint instead
    * of silently dropping state. A lossy checkpoint plus external
    * pre-checkpoint JSON cleanup is data corruption for external engines
    * (advisor finding); a skipped checkpoint just leaves replay O(commits). */
  private def requireRepresentable(node: com.fasterxml.jackson.databind.JsonNode,
                                   commit: String): Unit =
    node.fieldNames().asScala.foreach { k =>
      if (k != "commitInfo" && k != "cdc") {
        if (!modeledActions.contains(k))
          throw new IllegalStateException(
            s"refusing to checkpoint: commit $commit carries a `$k` action " +
              "this writer's checkpoint model cannot represent in full")
        requireModeledFields(node.get(k), cpSchema(k).dataType, s"$commit $k")
      }
    }

  private def requireModeledFields(n: com.fasterxml.jackson.databind.JsonNode,
                                   dt: org.apache.spark.sql.types.DataType,
                                   where: String): Unit = dt match {
    case st: org.apache.spark.sql.types.StructType if n != null && n.isObject =>
      n.fieldNames().asScala.foreach { f =>
        st.fields.find(_.name == f) match {
          case Some(sub) => requireModeledFields(n.get(f), sub.dataType, s"$where.$f")
          case None => throw new IllegalStateException(
            s"refusing to checkpoint: $where.$f is beyond this writer's " +
              "checkpoint model (its state would silently drop)")
        }
      }
    case _ => () // map/array/atomic: the modeled type carries the value whole
  }

  /** Same contract for a BASE checkpoint this writer would fold into a new
    * one: every column (recursively through structs) must exist in
    * [[cpSchema]], or reading it through that schema would silently strip
    * replay state an external engine wrote (e.g. an `add.baseRowId` column
    * or a whole `domainMetadata` column). */
  private[sources] def requireModeledColumns(have: org.apache.spark.sql.types.StructType,
                                    where: String): Unit = {
    // upstream's writeStatsAsStruct layout adds DERIVED columns that are
    // redundant with the modeled ones — dropping them is lossless, and
    // refusing would permanently block re-checkpointing adopted tables
    // (review finding). But ONLY when the modeled sibling actually exists
    // in the same struct: a writeStatsAsJson=false checkpoint carries
    // stats_parsed as the ONLY stats copy, and skipping it then would
    // silently discard every file statistic (review finding).
    val derived = Set("add.stats_parsed", "add.partitionValues_parsed",
      "remove.stats_parsed", "remove.partitionValues_parsed")
    def walk(h: org.apache.spark.sql.types.StructType,
             w: org.apache.spark.sql.types.StructType, path: String): Unit =
      h.fields.foreach { f =>
        w.fields.find(_.name == f.name) match {
          case None if derived(s"$path${f.name}") &&
              h.fieldNames.contains(f.name.stripSuffix("_parsed")) => ()
          case None => throw new IllegalStateException(
            s"refusing to checkpoint: $where column `$path${f.name}` is beyond " +
              "this writer's checkpoint model (its state would silently drop)")
          case Some(m) => (f.dataType, m.dataType) match {
            case (a: org.apache.spark.sql.types.StructType,
                  b: org.apache.spark.sql.types.StructType) =>
              walk(a, b, s"$path${f.name}.")
            case _ => ()
          }
        }
      }
    walk(have, cpSchema, "")
  }

  /** Carry a base checkpoint's FILE actions forward, distributed: adds the
    * newer JSON superseded drop via an executor-side anti-join; tombstones
    * carry VERBATIM minus expired clocks and superseded paths (a re-add
    * clears the tombstone; a newer remove replaces it). The base's remove
    * struct is PROBED before selecting optional subfields, exactly as
    * [[vacuum]] does (advisor finding: assuming deletionTimestamp threw a
    * raw AnalysisException on adopted checkpoints that omit it — and
    * re-checkpointing is precisely the remedy vacuum's refusal message
    * prescribes; a missing deletionTimestamp reads as null, so the
    * isNotNull filter drops those tombstones — the missing-ts = 0 =
    * already-expired semantics everywhere else in this file). Shared by
    * the classic fold and the V2 dirty-sidecar rewrite. */
  private def carryFileActions(spark: org.apache.spark.sql.SparkSession,
                               cp: DataFrame, tombPaths: Seq[String],
                               tombKeys: Seq[String],
                               tombCutoff: Long)
      : org.apache.spark.sql.Dataset[String] = {
    import org.apache.spark.sql.functions.{coalesce, col, concat, lit, when}
    import spark.implicits._
    val cols = cp.columns.toSet
    val liveAdds =
      if (!cols("add")) spark.emptyDataset[String]
      else {
        // any newer action on a path supersedes its base ADD (the newest
        // add of a path is the only live one)
        val adds = cp.where(col("add.path").isNotNull).select(col("add"))
        val live =
          if (tombPaths.isEmpty) adds
          else adds.join(tombPaths.toDF("tpath"), col("add.path") === col("tpath"),
            "left_anti").select(col("add"))
        live.toJSON
      }
    val rmFields: Set[String] =
      if (!cols("remove")) Set.empty
      else cp.schema("remove").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    val baseRemoves =
      if (!rmFields.contains("path")) spark.emptyDataset[String]
      else {
        val tsCol =
          if (rmFields.contains("deletionTimestamp"))
            col("remove.deletionTimestamp").cast("long")
          else org.apache.spark.sql.functions.lit(null).cast("long")
        val rms = cp.where(col("remove.path").isNotNull)
          .where(tsCol.isNotNull && tsCol >= tombCutoff)
          .select(col("remove"))
        // base REMOVES supersede by exact (path, dvId) key only: a DML
        // re-add of a path with a NEW dv removes a different logical file
        // — the old tombstone (and its DV bin clock) must carry (review
        // finding). The column form mirrors [[fileKey]] byte-for-byte.
        val dvIdCol =
          if (!rmFields.contains("deletionVector")) lit("")
          else when(col("remove.deletionVector.storageType").isNotNull,
            concat(col("remove.deletionVector.storageType"), lit("\u0001"),
              col("remove.deletionVector.pathOrInlineDv"), lit("\u0001"),
              coalesce(col("remove.deletionVector.offset").cast("string"), lit("0"))))
            .otherwise(lit(""))
        val keyCol = concat(col("remove.path"), lit("\u0000"), dvIdCol)
        val kept =
          if (tombKeys.isEmpty) rms
          else rms.withColumn("__k", keyCol)
            .join(tombKeys.toDF("tkey"), col("__k") === col("tkey"), "left_anti")
            .select(col("remove"))
        kept.toJSON
      }
    liveAdds.union(baseRemoves)
  }

  /** The driver-bounded outcome of replaying JSON commits (floor, v] for a
    * checkpoint build — per-commit actions are small by protocol, so these
    * maps are bounded by interval x commit size, never table size.
    * Tombstone nodes ride VERBATIM (vacuum keys retention on their
    * deletionTimestamps, and external engines may need the spec's optional
    * remove subfields). Shared by the classic and V2 checkpoint writers.
    *
    * Keying follows the protocol's LOGICAL FILE identity: adds dedupe by
    * path (the newest add of a path is the live one), but TOMBSTONES key
    * by (path, dvUniqueId) — a DML commit's `remove(path, dv1)` +
    * `add(path, dv2)` removes a DIFFERENT logical file than it adds, so
    * the tombstone must survive the fold (review finding: path-keyed
    * folding dropped it, and with the JSON retired, vacuum lost the
    * superseded DV bin's retention clock). */
  private final class CpReplay {
    val newAdds = scala.collection.mutable.LinkedHashMap[
      String, com.fasterxml.jackson.databind.node.ObjectNode]()
    val removed = scala.collection.mutable.LinkedHashSet[String]()
    val removedNodes = scala.collection.mutable.LinkedHashMap[
      String, com.fasterxml.jackson.databind.node.ObjectNode]()
    val removedTs = scala.collection.mutable.LinkedHashMap[String, Long]()
    var metaLine: String = null
    var protoLine: String = null
    val txns = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    /** Paths any replayed action touched — supersedes base ADDS. */
    def tombPaths: Seq[String] =
      (removed.toSeq.map(fileKeyPath) ++ newAdds.keys).distinct
    /** Exact (path, dvId) keys — supersedes base REMOVES (a newer remove
      * replaces the clock; a re-add of the same logical file clears it). */
    def tombKeys: Seq[String] =
      (removed.toSeq ++ newAdds.values.map(fileKey)).distinct
  }

  /** The (path, dvUniqueId) key of an add/remove action node — `\u0000`
    * separates path from dv id, `\u0001` separates dv id fields; absent
    * dv = empty id; absent offset = 0 (must agree byte-for-byte with
    * [[carryFileActions]]'s column form). */
  private def fileKey(n: com.fasterxml.jackson.databind.JsonNode): String = {
    val dv = Option(n.get("deletionVector")).filterNot(_.isNull).map { d =>
      d.get("storageType").asText() + "\u0001" + d.get("pathOrInlineDv").asText() +
        "\u0001" + Option(d.get("offset")).filterNot(_.isNull)
          .map(_.asLong().toString).getOrElse("0")
    }.getOrElse("")
    n.get("path").asText() + "\u0000" + dv
  }
  private def fileKeyPath(key: String): String = key.takeWhile(_ != '\u0000')

  private def replayJson(fs: FileSystem, logDir: HPath, floor: Long,
                         v: Long): CpReplay = {
    val rep = new CpReplay
    val commitRx = raw"(\d{20})\.json".r
    val commits = fs.listStatus(logDir).map(_.getPath.getName).collect {
      case n @ commitRx(cv) if cv.toLong > floor && cv.toLong <= v => cv.toLong -> n
    }.sortBy(_._1)
    commits.foreach { case (_, name) =>
      val in = fs.open(new HPath(logDir, name))
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      text.split('\n').iterator.filter(_.nonEmpty).foreach { line =>
        val node = mapper.readTree(line)
        requireRepresentable(node, name)
        val add = node.get("add")
        if (add != null && !add.isNull) {
          val o = add.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          o.put("dataChange", false) // checkpoint actions are not data changes
          val p = add.get("path").asText()
          rep.newAdds(p) = o
          // only a re-add of the SAME logical file (path + dvId) clears a
          // tombstone — a DML re-add with a new DV leaves the old logical
          // file's remove in place (its bin needs the retention clock)
          val k = fileKey(add)
          rep.removed -= k; rep.removedTs -= k; rep.removedNodes -= k
        }
        val rem = node.get("remove")
        if (rem != null && !rem.isNull) {
          val p = rem.get("path").asText()
          val k = fileKey(rem)
          rep.removed += k; rep.newAdds -= p
          val ts = Option(rem.get("deletionTimestamp")).filterNot(_.isNull)
            .map(_.asLong()).getOrElse(0L)
          rep.removedTs(k) = math.max(rep.removedTs.getOrElse(k, 0L), ts)
          val o = rem.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
          o.put("dataChange", false) // checkpoint actions are not data changes
          o.put("deletionTimestamp", rep.removedTs(k)) // newest clock wins
          rep.removedNodes(k) = o
        }
        val meta = node.get("metaData")
        if (meta != null && !meta.isNull) rep.metaLine = s"""{"metaData":$meta}"""
        val proto = node.get("protocol")
        if (proto != null && !proto.isNull) rep.protoLine = s"""{"protocol":$proto}"""
        val t = node.get("txn")
        if (t != null && !t.isNull) {
          val appId = t.get("appId").asText(); val ver = t.get("version").asLong()
          val lu = Option(t.get("lastUpdated")).filterNot(_.isNull)
            .map(_.asLong()).getOrElse(0L)
          if (rep.txns.get(appId).forall(_._1 <= ver)) rep.txns(appId) = (ver, lu)
        }
      }
    }
    rep
  }

  /** Write the replay state at version `v` as a checkpoint — single-file
    * below [[checkpointPartActions]] actions, the protocol's multipart
    * `<v>.checkpoint.<i>.<n>.parquet` layout above it — plus
    * `_last_checkpoint` (with `parts` when sharded). Everything
    * driver-side here is protocol-small (meta, txns, the JSON commits
    * since the last checkpoint); the cumulative add set from a prior
    * checkpoint stays a distributed DataFrame end to end, and the final
    * write fans out over `parts` tasks instead of funneling through one.
    * Re-checkpointing the same version at a different part count leaves
    * the old differently-named parts behind as inert garbage (readers
    * follow `_last_checkpoint.parts`); [[cleanupLog]] retires them once
    * superseded. */
  private[sources] def writeCheckpoint(spark: org.apache.spark.sql.SparkSession,
                              fs: FileSystem, root: HPath, logDir: HPath,
                              v: Long,
                              actionsPerPart: Long = checkpointPartActions,
                              rebase: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // rebase mode (the maintenance entry points): while commit zero still
    // exists, IGNORE any base checkpoint and replay the complete JSON
    // history — the only way to recover tombstone clocks a foreign base
    // never carried; once pre-checkpoint JSON is gone, a same-version
    // base refolds (layout/`_last_checkpoint` refresh). The interval path
    // keeps the strict `< v` incremental fold.
    // a table already on V2 checkpoints STAYS on them — every maintenance
    // path (interval checkpoints, the ops hook, cleanupLog's rebase) keeps
    // writing the format the table migrated to, reusing clean sidecars
    if (readLastCheckpoint(fs, logDir)
        .exists { case (bv, parts) => isV2Checkpoint(fs, logDir, bv, parts) }) {
      writeCheckpointV2(spark, fs, root, logDir, v, actionsPerPart, rebase)
      return
    }
    val commit0Here = fs.exists(new HPath(logDir, f"${0L}%020d.json"))
    val base =
      if (rebase && commit0Here) None
      else readLastCheckpoint(fs, logDir)
        .filter(c => if (rebase) c._1 <= v else c._1 < v)

    val rep = replayJson(fs, logDir, base.map(_._1).getOrElse(-1L), v)
    import rep.{newAdds, removed, removedNodes, removedTs, txns}
    var metaLine: String = rep.metaLine
    var protoLine: String = rep.protoLine

    // base checkpoint: meta/protocol/txns only where the JSON replay did
    // not supersede them; the ADD SET stays distributed — tombstoned
    // (removed or re-added) paths are pruned with an executor-side
    // anti-join, exactly the reader's replay shape
    val baseCarryJson: Option[org.apache.spark.sql.Dataset[String]] =
      base.map { case (bv, parts) =>
        // RAW read of the main file(s) on purpose: a V2 base's
        // checkpointMetadata/sidecar columns must reach the
        // representability gate and refuse crisply (folding only the main
        // file of a sidecar-bearing checkpoint would silently drop the
        // whole add set)
        val cp = spark.read.parquet(
          DeltaCheckpoints.resolvePaths(fs, logDir, bv, parts).map(_.toString): _*)
        requireModeledColumns(cp.schema, s"base checkpoint $bv")
        val cols = cp.columns.toSet
        if (metaLine == null && cols("metaData"))
          cp.select("metaData").where(col("metaData.id").isNotNull)
            .toJSON.collect().foreach(l => metaLine = l)
        if (protoLine == null && cols("protocol"))
          cp.select("protocol").where(col("protocol.minReaderVersion").isNotNull)
            .toJSON.collect().foreach(l => protoLine = l)
        if (cols("txn"))
          cp.select(col("txn.appId"), col("txn.version"), col("txn.lastUpdated"))
            .where(col("txn.appId").isNotNull).collect().foreach { r =>
              val appId = r.getString(0); val ver = r.getLong(1)
              val lu = if (r.isNullAt(2)) 0L else r.getLong(2)
              if (txns.get(appId).forall(_._1 < ver)) txns(appId) = (ver, lu)
            }
        carryFileActions(spark, cp, rep.tombPaths, rep.tombKeys,
          System.currentTimeMillis() - checkpointTombstoneRetentionMs)
      }

    require(protoLine != null && metaLine != null,
      s"checkpoint at $v found no protocol/metaData in the log")
    val txnLines = txns.toSeq.map { case (appId, (ver, lu)) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$ver,"lastUpdated":$lu}}"""
    }
    val addLines = newAdds.values.map(o => s"""{"add":$o}""").toSeq
    // fresh tombstones from the replayed JSON (verbatim nodes), minus
    // expired clocks
    val tombCutoff0 = System.currentTimeMillis() - checkpointTombstoneRetentionMs
    val removeLines = removedNodes.collect {
      case (p, o) if removedTs.getOrElse(p, 0L) >= tombCutoff0 =>
        s"""{"remove":$o}"""
    }.toSeq
    val driverLines = Seq(protoLine, metaLine) ++ txnLines ++ addLines ++ removeLines
    val driverSide = driverLines.toDS()
    val all = baseCarryJson.map(driverSide.union).getOrElse(driverSide)

    // shard-count estimation WITHOUT executing the checkpoint plan
    // (review finding: a pre-write count() ran the base scan and both
    // anti-joins twice): the driver-side line count is exact, and the
    // base's contribution is bounded above by its recorded action count
    // (tombstone pruning only shrinks it — an over-estimate costs at
    // worst a near-empty extra shard). A foreign hint without `size`
    // falls back to one counting pass.
    val estTotal: Long =
      if (baseCarryJson.isEmpty) driverLines.size.toLong
      else {
        val recorded = readLastCheckpointSize(fs, logDir)
        if (recorded >= 0L) driverLines.size.toLong + recorded
        else all.count()
      }
    val nParts = math.max(1L,
      (estTotal + actionsPerPart - 1) / actionsPerPart).toInt
    val scratch = new HPath(root, s".graft_cp_${java.util.UUID.randomUUID()}")
    val parsed = spark.read.schema(cpSchema).json(all)
    // repartition round-robins rows across the shards; names are derived
    // from the ACTUAL part files after the write (an empty task writes no
    // file, and the multipart names must agree with the real count)
    (if (nParts == 1) parsed.coalesce(1) else parsed.repartition(nParts))
      .write.mode("overwrite").parquet(scratch.toString)
    val partFiles = fs.listStatus(scratch).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    require(partFiles.nonEmpty, s"checkpoint scratch $scratch has no part file")
    // the EXACT action count (the protocol's `size`) comes from the
    // written parts' own footers — a handful of local metadata reads, not
    // a second plan execution
    val conf = spark.sparkContext.hadoopConfiguration
    val total = partFiles.map { p =>
      val rows = ColumnIndex.readFileZones(conf, p.toString, Seq.empty).rows
      require(rows >= 0L, s"could not read back checkpoint part footer $p")
      rows
    }.sum
    val actualN = partFiles.length
    val targets: Seq[HPath] =
      if (actualN == 1) Seq(new HPath(logDir, f"$v%020d.checkpoint.parquet"))
      else (1 to actualN).map(i =>
        new HPath(logDir, f"$v%020d.checkpoint.$i%010d.$actualN%010d.parquet"))
    // moves carry the .crc sidecars along (ChecksumFileSystem.rename)
    partFiles.zip(targets).foreach { case (part, target) =>
      if (fs.exists(target)) fs.delete(target, false) // same-v re-checkpoint
      require(fs.rename(part, target), s"could not move checkpoint into $logDir")
    }
    fs.delete(scratch, true)

    // _last_checkpoint is overwritten per protocol — but never moved
    // BACKWARD (a concurrent writer may have checkpointed a later
    // version). Same-version re-checkpoints DO rewrite it: the part
    // count may have changed, and the vacuum-remedy re-checkpoint must
    // actually take effect.
    if (readLastCheckpoint(fs, logDir).forall(_._1 <= v)) {
      val partsField = if (actualN == 1) "" else s""","parts":$actualN"""
      val out = fs.create(new HPath(logDir, "_last_checkpoint"), true)
      try out.write(s"""{"version":$v,"size":$total$partsField}""".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** True when the checkpoint at `v` is the V2 (uuid-named) layout. */
  private def isV2Checkpoint(fs: FileSystem, logDir: HPath, v: Long,
                             parts: Option[Int]): Boolean =
    parts.isEmpty &&
      !fs.exists(new HPath(logDir, f"$v%020d.checkpoint.parquet")) &&
      scala.util.Try(DeltaCheckpoints.resolvePaths(fs, logDir, v, None)).isSuccess

  /** Migrate the table to V2 checkpoints and write one at the current
    * head: upgrades the protocol with the `v2Checkpoint` feature first
    * (one surgical commit — only when missing), then writes the uuid-named
    * main file + `_delta_log/_sidecars/` layout. Subsequent interval
    * checkpoints stay V2 automatically and reuse clean sidecars — see
    * [[writeCheckpointV2]] for why that is the 100 TB shape. Returns the
    * checkpointed version. */
  def checkpointV2(spark: org.apache.spark.sql.SparkSession, dir: String,
                   actionsPerSidecar: Long = checkpointPartActions): Long = {
    require(actionsPerSidecar > 0,
      s"actionsPerSidecar must be > 0, got $actionsPerSidecar")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val logDir = logDirOf(root)
    val snap = DeltaLoader.snapshot(spark, dir)
    val head = DeltaDml.protocolUpgradeLine(snap.protocolJson, "v2Checkpoint") match {
      case Some(line) =>
        val now = System.currentTimeMillis()
        val commitInfo =
          s"""{"commitInfo":{"timestamp":$now,"operation":"UPGRADE PROTOCOL",""" +
            """"operationParameters":{},"engineInfo":"graft-delta-writer"}}"""
        val version = snap.version + 1
        require(commitJson(fs, new HPath(logDir, f"$version%020d.json"),
            Seq(commitInfo, line).mkString("", "\n", "\n")),
          s"checkpointV2 lost a commit race at version $version; re-run " +
            "against the refreshed table")
        version
      case None => snap.version
    }
    writeCheckpointV2(spark, fs, root, logDir, head, actionsPerSidecar,
      rebase = true)
    head
  }

  /** Write the replay state at `v` as a V2 checkpoint: a uuid-named
    * `<v>.checkpoint.<uuid>.parquet` main file holding ONLY the non-file
    * actions (protocol/metaData/txn/checkpointMetadata) plus `sidecar`
    * pointers, with the add/remove set in parquet sidecars under
    * `_delta_log/_sidecars/`.
    *
    * Why this is the 100 TB checkpoint shape — INCREMENTAL cost: when the
    * previous checkpoint is already V2, each of its sidecars is reused
    * VERBATIM unless a path changed since (tombstoned or re-added) falls
    * inside that sidecar's `add.path`/`remove.path` range — read from one
    * column-pruned stats pass over the sidecars, never their row sets. A
    * steady-state table that appends and compacts touches a handful of
    * paths per interval, so a re-checkpoint writes O(changed paths) new
    * sidecar bytes instead of re-serializing millions of adds; the classic
    * layout rewrites the whole add set every interval. Clean carried
    * sidecars may retain already-expired tombstones until a change lands
    * in their range (bounded drift; the rewrite prunes them).
    * [[cleanupLog]] keeps referenced sidecars and retires orphaned ones.
    *
    * First V2 checkpoint over a classic base folds the base like the
    * classic writer does and lands everything in fresh sidecars. */
  private[sources] def writeCheckpointV2(
      spark: org.apache.spark.sql.SparkSession,
      fs: FileSystem, root: HPath, logDir: HPath, v: Long,
      actionsPerSidecar: Long = checkpointPartActions,
      rebase: Boolean = false): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min}
    import spark.implicits._
    val commit0Here = fs.exists(new HPath(logDir, f"${0L}%020d.json"))
    val base =
      if (rebase && commit0Here) None
      else readLastCheckpoint(fs, logDir)
        .filter(c => if (rebase) c._1 <= v else c._1 < v)
    val rep = replayJson(fs, logDir, base.map(_._1).getOrElse(-1L), v)
    var metaLine: String = rep.metaLine
    var protoLine: String = rep.protoLine
    val txns = rep.txns
    val now = System.currentTimeMillis()
    val tombCutoff = now - checkpointTombstoneRetentionMs
    val tombPaths: Seq[String] = rep.tombPaths
    val tombKeys: Seq[String] = rep.tombKeys

    val sidecarDir = new HPath(logDir, "_sidecars")
    fs.mkdirs(sidecarDir)
    // (name, sizeInBytes, modificationTime, actionRows) per sidecar the new
    // checkpoint references
    var reused: Seq[(String, Long, Long, Long)] = Seq.empty
    var dirtyRowEstimate = 0L
    var classicBase = false

    val carryJson: Option[org.apache.spark.sql.Dataset[String]] =
      base.map { case (bv, parts) =>
        val mains = DeltaCheckpoints.resolvePaths(fs, logDir, bv, parts)
        val mainDf = spark.read.parquet(mains.map(_.toString): _*)
        // the V2 columns are modeled HERE (this writer consumes them);
        // everything else must pass the classic representability gate
        requireModeledColumns(
          org.apache.spark.sql.types.StructType(mainDf.schema.fields
            .filterNot(f => f.name == "checkpointMetadata" || f.name == "sidecar")),
          s"base checkpoint $bv")
        val cols = mainDf.columns.toSet
        if (metaLine == null && cols("metaData"))
          mainDf.select("metaData").where(col("metaData.id").isNotNull)
            .toJSON.collect().foreach(l => metaLine = l)
        if (protoLine == null && cols("protocol"))
          mainDf.select("protocol").where(col("protocol.minReaderVersion").isNotNull)
            .toJSON.collect().foreach(l => protoLine = l)
        if (cols("txn"))
          mainDf.select(col("txn.appId"), col("txn.version"), col("txn.lastUpdated"))
            .where(col("txn.appId").isNotNull).collect().foreach { r =>
              val appId = r.getString(0); val ver = r.getLong(1)
              val lu = if (r.isNullAt(2)) 0L else r.getLong(2)
              if (txns.get(appId).forall(_._1 < ver)) txns(appId) = (ver, lu)
            }
        // inline file actions (classic base, or a V2 main carrying them)
        val inlineCarry = carryFileActions(spark, mainDf, tombPaths, tombKeys, tombCutoff)
        classicBase = !cols("sidecar")
        val sidecars: Seq[HPath] =
          if (!cols("sidecar")) Seq.empty
          else DeltaCheckpoints.referencedSidecars(spark, fs, logDir, bv, parts)
        if (sidecars.isEmpty) inlineCarry
        else {
          // EXACT dirtiness in ONE column-pruned pass: read only the path
          // columns of every sidecar, left-join the (driver-bounded,
          // broadcast) changed-path set, count rows and hits per file.
          // A sidecar is dirty iff it CONTAINS a changed path — min/max
          // ranges are useless here because every delta add path starts
          // with "part-", so ranges always interleave. Nothing is
          // rewritten for the hit test; the scan reads strings only.
          // Keys live in the scan's percent-encoded path domain
          // ([[PartitionLayout.scanPathKey]]).
          val sideDf = spark.read.parquet(sidecars.map(_.toString): _*)
          requireModeledColumns(sideDf.schema, s"base v2 sidecars of checkpoint $bv")
          val sCols = sideDf.columns.toSet
          def pathOf(c: String) =
            if (sCols(c)) col(s"$c.path") else lit(null).cast("string")
          val changedDf = tombPaths.toDF("cpath")
          val stats = sideDf
            .select(org.apache.spark.sql.functions.regexp_replace(
                col("_metadata.file_path"), "^file:/+", "/").as("fp"),
              org.apache.spark.sql.functions.coalesce(
                pathOf("add"), pathOf("remove")).as("p"))
            .join(org.apache.spark.sql.functions.broadcast(changedDf),
              col("p") === col("cpath"), "left")
            .groupBy(col("fp"))
            .agg(count(lit(1)).as("rows"), count(col("cpath")).as("hits"))
            .collect()
            .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
          // every stats key must resolve to a known sidecar: a silent
          // domain mismatch here would DROP a sidecar from the new
          // checkpoint — data loss, not an optimization miss
          val known = sidecars.map(p =>
            PartitionLayout.scanPathKey(p.toString)).toSet
          require(stats.keySet.subsetOf(known),
            s"sidecar stats keyed outside the resolved path domain: " +
              s"${(stats.keySet -- known).take(3).mkString(", ")}")
          val (dirty, clean) = sidecars.partition { p =>
            stats.get(PartitionLayout.scanPathKey(p.toString))
              .exists(_._2 > 0L)
          }
          // the recorded path keeps its ORIGINAL spelling class: bare
          // names for sidecars under _delta_log/_sidecars/, the absolute
          // URI otherwise (the spec allows absolute sidecar paths on
          // adopted tables — recording only getName would point the new
          // main at _sidecars/<name>, which does not exist; review
          // finding)
          val sidecarsHome =
            fs.makeQualified(new HPath(logDir, "_sidecars")).toString
          def recordedPath(p: HPath): String = {
            val q = fs.makeQualified(p)
            if (q.getParent != null && q.getParent.toString == sidecarsHome)
              p.getName
            else q.toString
          }
          reused = clean.flatMap { p =>
            stats.get(PartitionLayout.scanPathKey(p.toString)).map { s =>
              val st = fs.getFileStatus(p)
              (recordedPath(p), st.getLen, st.getModificationTime, s._1)
            } // zero-row sidecars DROP from the new checkpoint entirely
          }
          dirtyRowEstimate = dirty.flatMap(p =>
            stats.get(PartitionLayout.scanPathKey(p.toString)).map(_._1)).sum
          val dirtyCarry =
            if (dirty.isEmpty) spark.emptyDataset[String]
            else carryFileActions(spark,
              spark.read.parquet(dirty.map(_.toString): _*), tombPaths,
              tombKeys, tombCutoff)
          inlineCarry.union(dirtyCarry)
        }
      }

    require(protoLine != null && metaLine != null,
      s"v2 checkpoint at $v found no protocol/metaData in the log")

    // fresh sidecars: JSON-replay adds + live tombstones + dirty rewrites
    val addLines = rep.newAdds.values.map(o => s"""{"add":$o}""").toSeq
    val removeLines = rep.removedNodes.collect {
      case (p, o) if rep.removedTs.getOrElse(p, 0L) >= tombCutoff =>
        s"""{"remove":$o}"""
    }.toSeq
    val freshDriver = (addLines ++ removeLines).toDS()
    val freshAll = carryJson.map(freshDriver.union).getOrElse(freshDriver)
    val fileSchema = org.apache.spark.sql.types.StructType(
      cpSchema.fields.filter(f => f.name == "add" || f.name == "remove"))
    // shard estimate without executing the plan (same discipline as the
    // classic writer): fresh lines exact, dirty bounded by their stats
    // rows, a folded classic base bounded by its recorded size
    val estFresh: Long = {
      val classicRows =
        if (!classicBase) 0L
        else math.max(readLastCheckpointSize(fs, logDir), 0L)
      addLines.size.toLong + removeLines.size.toLong +
        dirtyRowEstimate + classicRows
    }
    val nFresh = math.max(1L,
      (estFresh + actionsPerSidecar - 1) / actionsPerSidecar).toInt
    val conf = spark.sparkContext.hadoopConfiguration
    val scratch = new HPath(root, s".graft_cp_${java.util.UUID.randomUUID()}")
    spark.read.schema(fileSchema).json(freshAll)
      .repartition(nFresh).write.mode("overwrite").parquet(scratch.toString)
    val freshParts = fs.listStatus(scratch).map(_.getPath)
      .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val freshSidecars: Seq[(String, Long, Long, Long)] = freshParts.toSeq.flatMap { p =>
      val rows = ColumnIndex.readFileZones(conf, p.toString, Seq.empty).rows
      require(rows >= 0L, s"could not read back sidecar footer $p")
      if (rows == 0L) None // an all-empty shard never leaves the scratch
      else {
        val target = new HPath(sidecarDir, p.getName) // task-uuid names are unique
        require(fs.rename(p, target), s"could not move sidecar into $sidecarDir")
        val st = fs.getFileStatus(target)
        Some((target.getName, st.getLen, st.getModificationTime, rows))
      }
    }
    fs.delete(scratch, true)

    // main file: non-file actions + checkpointMetadata + sidecar pointers
    val txnLines = txns.toSeq.map { case (appId, (ver, lu)) =>
      s"""{"txn":{"appId":${jstr(appId)},"version":$ver,"lastUpdated":$lu}}"""
    }
    val sidecarEntries = reused ++ freshSidecars
    val mainLines = Seq(protoLine, metaLine) ++ txnLines ++
      Seq(s"""{"checkpointMetadata":{"version":$v}}""") ++
      sidecarEntries.map { case (n, size, mtime, _) =>
        s"""{"sidecar":{"path":${jstr(n)},"sizeInBytes":$size,""" +
          s""""modificationTime":$mtime}}"""
      }
    val mainSchema = org.apache.spark.sql.types.StructType(
      cpSchema.fields.filter(f =>
        Set("protocol", "metaData", "txn")(f.name)) ++ Seq(
        org.apache.spark.sql.types.StructField("checkpointMetadata",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("version",
              org.apache.spark.sql.types.LongType)))),
        org.apache.spark.sql.types.StructField("sidecar",
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("path",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("sizeInBytes",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("modificationTime",
              org.apache.spark.sql.types.LongType))))))
    val mainScratch = new HPath(root, s".graft_cp_${java.util.UUID.randomUUID()}")
    spark.read.schema(mainSchema).json(mainLines.toDS())
      .coalesce(1).write.mode("overwrite").parquet(mainScratch.toString)
    val mainPart = fs.listStatus(mainScratch).map(_.getPath)
      .find(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException(
        s"v2 checkpoint main scratch $mainScratch has no part file"))
    val mainTarget = new HPath(logDir,
      f"$v%020d.checkpoint.${java.util.UUID.randomUUID()}.parquet")
    require(fs.rename(mainPart, mainTarget),
      s"could not move v2 checkpoint main into $logDir")
    fs.delete(mainScratch, true)

    if (readLastCheckpoint(fs, logDir).forall(_._1 <= v)) {
      val total = mainLines.size.toLong + sidecarEntries.map(_._4).sum
      val out = fs.create(new HPath(logDir, "_last_checkpoint"), true)
      try out.write(s"""{"version":$v,"size":$total}""".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** Highest txn version committed for `appId`: JSON commits plus — so the
    * ledger survives external cleanup of pre-checkpoint JSON — the last
    * checkpoint's txn rows. */
  private[sources] def lastTxnVersion(spark: org.apache.spark.sql.SparkSession,
                                      fs: FileSystem, logDir: HPath,
                                      appId: String): Option[Long] = {
    import org.apache.spark.sql.functions.col
    val commitRx = raw"\d{20}\.json".r
    val fromJson = fs.listStatus(logDir).map(_.getPath)
      .filter(p => commitRx.matches(p.getName)).sortBy(_.getName)
      .flatMap { p =>
        val in = fs.open(p)
        val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
        text.split('\n').filter(_.nonEmpty).flatMap { line =>
          val t = mapper.readTree(line).get("txn")
          if (t == null || t.isNull || t.get("appId").asText() != appId) None
          else Some(t.get("version").asLong())
        }
      }
    // the checkpoint is consulted only when the JSON scan finds NOTHING
    // for this appId (pre-checkpoint cleanup): our writer refuses
    // lower-after-higher txn versions, so any surviving JSON row already
    // dominates whatever the checkpoint aggregated — and the common
    // steady-state micro-batch commit skips a Spark job per attempt
    // (review finding)
    if (fromJson.nonEmpty) return Some(fromJson.max)
    val fromCheckpoint = readLastCheckpoint(fs, logDir).toSeq.flatMap {
      case (v, parts) =>
        // txn actions live in the MAIN file of every layout (V2 sidecars
        // carry file actions only), so the raw resolve-and-read suffices
        val cp = spark.read.parquet(
          DeltaCheckpoints.resolvePaths(fs, logDir, v, parts).map(_.toString): _*)
        if (!cp.columns.contains("txn")) Seq.empty
        else {
          // aggregate executor-side: one long reaches the driver, however
          // many txn rows the checkpoint carries
          val r = cp.where(col("txn.appId") === appId)
            .agg(org.apache.spark.sql.functions.max(col("txn.version"))).head()
          if (r.isNullAt(0)) Seq.empty else Seq(r.getLong(0))
        }
    }
    if (fromCheckpoint.isEmpty) None else Some(fromCheckpoint.max)
  }

  private[sources] def jstr(s: String): String = mapper.writeValueAsString(s)
}
