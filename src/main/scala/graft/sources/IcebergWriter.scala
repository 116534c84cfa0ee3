package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Minimal Apache Iceberg WRITER for filesystem-catalog tables — the sink
  * side of [[IcebergLoader]], mirroring [[DeltaWriter]] for the other
  * mainstream open table format. Built directly on the public spec
  * (iceberg.apache.org/spec): each commit writes parquet data files, one
  * Avro manifest, a new manifest-list, and a new `vN.metadata.json`
  * committed via `create(overwrite = false)` — the filesystem catalog's
  * put-if-absent point — then advances `version-hint.text`.
  *
  * Append carries the previous snapshot's manifest-list entries forward
  * (their sequence numbers intact) and adds one new manifest at the new
  * sequence number; overwrite starts a snapshot from only the new
  * manifest (old snapshots stay time-travelable, exactly Iceberg's
  * semantics — data files are never deleted by a commit). Schema is
  * declared on the first commit with spec field-ids assigned depth-first;
  * append enforces name/type compatibility, overwrite may replace the
  * schema (a new entry in `schemas` + `current-schema-id`, and the
  * snapshot records its own `schema-id` for time travel).
  *
  * Idempotent appends: an optional (appId, version) ledger lives in the
  * snapshot SUMMARY (`graft-app-id`/`graft-app-version`) — the same
  * exactly-once contract as [[DeltaWriter]]'s txn action, so a caller
  * that passes a batch id turns at-least-once redelivery into an
  * exactly-once table.
  *
  * Supported: v2 tables, append + overwrite (appending onto a legacy-v1
  * metadata layout normalizes its top-level `schema` into the v2 `schemas`
  * array), and PARTITIONED tables with the spec's transforms: identity,
  * `years|months|days|hours(col)` over date/timestamp columns,
  * `bucket(n,col)` (the spec's 32-bit Murmur3, validated against its
  * published vectors), and `truncate(w,col)`. Each `partitionBy` element
  * is either a bare column name (identity) or a transform call. The
  * transformed values are materialized under `__p_` names for Spark's
  * dynamic-partition layout — one data file per partition tuple from a
  * single distributed job, with the SOURCE columns staying inside the
  * data files exactly as the Iceberg spec requires — and each manifest
  * entry records its tuple in a spec-typed `partition` record. Appends
  * inherit the table's spec when `partitionBy` is not given and refuse a
  * semantically mismatched one; overwrite may re-partition (a new entry
  * in `partition-specs` + `default-spec-id`, old snapshots keep their own
  * spec ids). Identity key types: string / int-family / boolean / date —
  * float, double, timestamp and decimal identity partitions are refused
  * loudly (floats are unsound partition keys; time columns partition via
  * the time transforms). Transforms outside this set in an existing
  * table's spec refuse the write.
  *
  * Interop scope — stated honestly: manifests carry the fields this
  * repo's planner and column index consume (status/content/file_path/
  * file_format/record_count — TRUE counts read from the parquet
  * footers — sizes, a spec-typed partition record, null_value_counts,
  * and lower/upper bounds in the spec's single-value binary
  * serialization), NOT the complete spec-required manifest schema (no
  * min/max sequence summaries, no Avro field-id properties), so tables
  * written here are for graft-read pipelines; full-fidelity interop with
  * java-iceberg/pyiceberg would need the complete Avro schemas. The
  * put-if-absent metadata commit is atomic on filesystems with atomic
  * create (file://, HDFS); S3-class stores need an external commit
  * coordinator, exactly as upstream Iceberg/Delta document for their own
  * filesystem catalogs. `version-hint.text` is advisory and
  * last-writer-wins under contention, the known filesystem-catalog
  * limitation (newest-metadata resolution still works without it). */
object IcebergWriter {

  private val mapper = new ObjectMapper()

  private[sources] val manifestListSchema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_snapshot_id","type":"long"}]}""".stripMargin)

  /** Write `df` as one Iceberg commit; returns the new metadata version.
    * `partitionBy` declares identity partition columns (empty = inherit the
    * table's spec on append, unpartitioned on create/overwrite). */
  def write(df: DataFrame, dir: String, mode: String = "append",
            txn: Option[(String, Long)] = None,
            partitionBy: Seq[String] = Seq.empty): Long = {
    require(mode == "append" || mode == "overwrite",
      s"IcebergWriter mode must be append|overwrite, got `$mode`")
    val spark = df.sparkSession
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new HPath(root, "metadata")
    fs.mkdirs(metaDir)

    // resolve the metadata and ITS version together: the commit below
    // lands at resolvedVersion+1, so a concurrent commit (or a lagging
    // version hint) collides loudly at the put-if-absent create instead
    // of silently dropping a snapshot (review finding)
    val existingVersioned: Option[(JsonNode, Long)] =
      if (fs.listStatus(metaDir).exists(_.getPath.getName.endsWith(".metadata.json")))
        Some(IcebergLoader.currentMetadataVersioned(fs, dir))
      else None
    val existing: Option[JsonNode] = existingVersioned.map(_._1)

    // the table's default spec parsed into [[PartField]]s (refuses
    // transforms this writer does not speak); v2 spec list AND the legacy
    // v1 top-level `partition-spec` array — missing the latter would
    // silently DROP a v1 table's partitioning (review finding)
    val tableParts: Option[Seq[PartField]] = existing.map(specPartFields)
    val partFields0: Seq[PartField] =
      if (partitionBy.nonEmpty) partitionBy.map(parsePartField)
      else if (mode == "append") tableParts.getOrElse(Seq.empty)
      else Seq.empty
    partFields0.foreach { pf =>
      val f = df.schema.fields.find(_.name == pf.source).getOrElse(
        throw new IllegalArgumentException(
          s"partitionBy column `${pf.source}` is not in the dataframe schema"))
      transformResultType(pf, f.dataType) // validates the (type, transform) pair
    }

    existing.foreach { meta =>
      if (mode == "append") {
        require(partFields0.map(_.key) == tableParts.getOrElse(Seq.empty).map(_.key),
          s"append partitioning ${partFields0.map(_.transformStr).mkString(",")} " +
            s"does not match the table spec ${tableParts.getOrElse(Seq.empty)
              .map(_.transformStr).mkString(",")} (overwrite to re-partition)")
        val have = IcebergLoader.tableSchema(meta)
          .fields.map(f => (f.name, f.dataType)).toSeq
        val want = df.schema.fields.map(f => (f.name, f.dataType)).toSeq
        require(want == have,
          s"append schema ${want.mkString(",")} does not match table schema " +
            s"${have.mkString(",")} (overwrite to replace the schema)")
      }
    }
    // canonicalize to the TABLE's field names on append: an explicit
    // partitionBy that matches the spec semantically must not mint a new
    // spec entry over a field-name difference
    val partFields: Seq[PartField] =
      if (mode == "append" && existing.isDefined) tableParts.getOrElse(Seq.empty)
      else partFields0
    // NTZ transforms route through a session-TZ cast; only a UTC-fixed
    // zone makes the local-datetime micros the spec's `timestamp` micros.
    // Compare resolved offsets, not the string — Etc/UTC, GMT, +00:00 are
    // all micros-identical (review finding).
    if (partFields.exists(pf => pf.kind != "identity" &&
        df.schema(pf.source).dataType == TimestampNTZType)) {
      val tz = spark.conf.get("spark.sql.session.timeZone")
      val utc = scala.util.Try {
        val rules = java.time.ZoneId.of(tz).getRules
        rules.isFixedOffset &&
          rules.getOffset(java.time.Instant.EPOCH) == java.time.ZoneOffset.UTC
      }.getOrElse(false)
      require(utc,
        s"IcebergWriter: partition transforms over timestamp_ntz columns " +
          s"require a UTC session time zone, got `$tz`")
    }

    // idempotent replay via the snapshot-summary ledger, BEFORE data
    // writes. The version comes from the SAME resolution as `existing`
    // (falling back to the listing only for foreign naming schemes that
    // carry no number).
    val currentVersion = existingVersioned.map(_._2).getOrElse(0L) match {
      case -1L => metadataVersion(fs, metaDir)
      case v => v
    }
    val alreadyCommitted = txn.exists { case (appId, v) =>
      existing.exists(m => lastAppVersion(m, appId).exists(_ >= v))
    }
    if (alreadyCommitted) return currentVersion

    val partTypes: Map[String, DataType] = partFields.map(pf =>
      pf.name -> transformResultType(pf, df.schema(pf.source).dataType)).toMap

    // schema bookkeeping FIRST — the data write stamps parquet field ids
    // from the schema this commit records. `priorSchemas` normalizes the
    // two metadata generations: the v2 `schemas` array, or the legacy v1
    // top-level `schema` wrapped with schema-id 0 — without the fallback
    // an append/overwrite on a v1-style table wrote `"schemas":null` /
    // invalid `[,{...}]` JSON and bricked the table (review finding).
    val priorSchemas: Seq[String] = existing.toSeq.flatMap { meta =>
      Option(meta.get("schemas")).filterNot(_.isNull)
        .map(_.elements().asScala.toSeq.map(mapper.writeValueAsString))
        .getOrElse {
          Option(meta.get("schema")).filterNot(_.isNull).toSeq.map { legacy =>
            val node = legacy.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
            if (!node.has("schema-id")) node.put("schema-id", 0)
            mapper.writeValueAsString(node)
          }
        }
    }
    val (schemasJson, schemaId, lastColumnId) = existing match {
      case Some(meta) if mode == "append" =>
        require(priorSchemas.nonEmpty,
          s"Iceberg table at `$dir` has no schema to append against")
        val cur = Option(meta.get("current-schema-id")).map(_.asInt()).getOrElse(0)
        val lci = Option(meta.get("last-column-id")).map(_.asInt()).getOrElse(0)
        (priorSchemas.mkString("[", ",", "]"), cur, lci)
      case Some(meta) => // overwrite: append a NEW schema entry
        val priorIds = existing.toSeq.flatMap(m =>
          Option(m.get("schemas")).filterNot(_.isNull)
            .map(_.elements().asScala.toSeq.map(_.get("schema-id").asInt()))
            .getOrElse(if (priorSchemas.isEmpty) Seq.empty else Seq(0)))
        val nextId = priorIds.foldLeft(-1)(math.max) + 1
        val startId = Option(meta.get("last-column-id")).map(_.asInt()).getOrElse(0)
        val (json, lci) = icebergSchemaJson(df.schema, nextId, startId)
        ((priorSchemas :+ json).mkString("[", ",", "]"), nextId, lci)
      case None =>
        val (json, lci) = icebergSchemaJson(df.schema, 0, 0)
        (s"[$json]", 0, lci)
    }
    // the commit's own schema entry -> (name -> field id) for the stamp
    val dataFieldIds: Map[String, Int] = mapper.readTree(schemasJson)
      .elements().asScala.find(_.get("schema-id").asInt() == schemaId)
      .map(n => IcebergLoader.fieldIdToName(n).map(_.swap))
      .getOrElse(Map.empty)
    val moved: Seq[(String, Long, ColumnIndex.FileZones, Seq[(String, Any)])] =
      writeDataParts(df, fs, root, partFields, partTypes, dataFieldIds)

    val now = System.currentTimeMillis()
    val lastSeq = existing.flatMap(m =>
      Option(m.get("last-sequence-number")).filterNot(_.isNull).map(_.asLong()))
      .getOrElse(0L)
    val seq = lastSeq + 1
    val snapshots = existing.map(m => Option(m.get("snapshots")).filterNot(_.isNull)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)).getOrElse(Seq.empty)
    val snapId = snapshots.map(_.get("snapshot-id").asLong()).foldLeft(0L)(math.max) + 1

    // partition-spec bookkeeping: prior specs carry forward verbatim (old
    // snapshots' manifests reference them); the wanted identity spec
    // reuses a matching prior entry or appends a new one with fresh
    // partition field-ids above last-partition-id
    val priorSpecs: Seq[JsonNode] = existing.toSeq.flatMap { meta =>
      Option(meta.get("partition-specs")).filterNot(_.isNull)
        .map(_.elements().asScala.toSeq)
        .getOrElse {
          Option(meta.get("partition-spec")).filterNot(_.isNull).map { legacy =>
            val o = mapper.createObjectNode()
            o.put("spec-id", 0)
            o.set[JsonNode]("fields", legacy.deepCopy[JsonNode]())
            Seq[JsonNode](o)
          }.getOrElse(Seq.empty)
        }
    }
    val curSchemaFieldIds: Map[String, Int] = mapper.readTree(schemasJson)
      .elements().asScala.find(_.get("schema-id").asInt() == schemaId)
      .map(_.get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap)
      .getOrElse(Map.empty)
    val wantedKey = partFields.map(pf =>
      (pf.name, pf.transformStr, curSchemaFieldIds(pf.source)))
    def specKey(s: JsonNode): Seq[(String, String, Int)] =
      s.get("fields").elements().asScala.toSeq.map(f =>
        (f.get("name").asText(), f.get("transform").asText(),
          f.get("source-id").asInt()))
    // floor at the max field-id any prior spec already uses: a legacy
    // table missing last-partition-id must not hand out ids its own specs
    // hold for DIFFERENT source columns (spec: partition field-ids are
    // never reused; review finding)
    val priorSpecMaxFid = priorSpecs
      .flatMap(_.get("fields").elements().asScala.toSeq)
      .flatMap(f => Option(f.get("field-id")).filterNot(_.isNull).map(_.asInt()))
      .foldLeft(999)(math.max)
    val priorLastPid = existing.flatMap(m =>
      Option(m.get("last-partition-id")).filterNot(_.isNull).map(_.asInt()))
      .getOrElse(999).max(priorSpecMaxFid)
    val (specsJson, specId, lastPartitionId) =
      priorSpecs.find(s => specKey(s) == wantedKey) match {
        case Some(s) =>
          (priorSpecs.map(mapper.writeValueAsString).mkString("[", ",", "]"),
            Option(s.get("spec-id")).map(_.asInt()).getOrElse(0), priorLastPid)
        case None =>
          val nextSpecId = priorSpecs
            .map(s => Option(s.get("spec-id")).map(_.asInt()).getOrElse(0))
            .foldLeft(-1)(math.max) + 1
          val fieldsJson = partFields.zipWithIndex.map { case (pf, i) =>
            s"""{"name":${jstr(pf.name)},"transform":"${pf.transformStr}",""" +
              s""""source-id":${curSchemaFieldIds(pf.source)},"field-id":${priorLastPid + 1 + i}}"""
          }.mkString("[", ",", "]")
          val newSpec = s"""{"spec-id":$nextSpecId,"fields":$fieldsJson}"""
          ((priorSpecs.map(mapper.writeValueAsString) :+ newSpec)
            .mkString("[", ",", "]"),
            nextSpecId, priorLastPid + partFields.size)
      }

    // one manifest for this commit's data files: partitioned tables get a
    // spec-typed `partition` record, and every entry carries per-column
    // null_value_counts + lower/upper bounds (the spec's single-value
    // binary serialization, keyed by schema field-id) read from the
    // parquet footers — the data-skipping channel
    // [[ColumnIndex.buildFromIceberg]] and real iceberg planners consume
    val mSchema = manifestSchemaFor(partFields.map(pf => pf.name -> partTypes(pf.name)))
    val manifestPath = new HPath(metaDir, s"graft-m$snapId-${java.util.UUID.randomUUID()}.avro")
    writeAvro(fs, mSchema, moved.map { case (path, size, fz, tuple) =>
      manifestEntry(mSchema, seq, path, size, fz, tuple, curSchemaFieldIds,
        c => df.schema.fields.find(_.name == c).map(_.dataType))
    }, manifestPath)

    // manifest list: previous entries carried forward on append, keeping
    // the spec id each manifest was written under
    val carried: Seq[GenericRecord] =
      if (mode == "overwrite") Seq.empty
      else existing.toSeq.flatMap { meta =>
        currentManifestList(fs, meta, dir).map { prev =>
          val m = new GenericData.Record(manifestListSchema)
          m.put("manifest_path", prev._1)
          m.put("manifest_length", prev._2)
          m.put("partition_spec_id", prev._6)
          m.put("content", prev._3)
          prev._4.foreach(s => m.put("sequence_number", Long.box(s)))
          m.put("added_snapshot_id", prev._5)
          m
        }
      }
    val newEntry = {
      val m = new GenericData.Record(manifestListSchema)
      m.put("manifest_path", manifestPath.toString)
      m.put("manifest_length", fs.getFileStatus(manifestPath).getLen)
      m.put("partition_spec_id", specId)
      m.put("content", 0)
      m.put("sequence_number", Long.box(seq))
      m.put("added_snapshot_id", snapId)
      m
    }
    val listPath = new HPath(metaDir, s"snap-$snapId-${java.util.UUID.randomUUID()}.avro")
    writeAvro(fs, manifestListSchema, carried :+ newEntry, listPath)

    val summaryExtra = txn.map { case (appId, v) =>
      s""","graft-app-id":${jstr(appId)},"graft-app-version":"$v"""" }.getOrElse("")
    val snapJson =
      s"""{"snapshot-id":$snapId,"sequence-number":$seq,"timestamp-ms":$now,
         |"schema-id":$schemaId,
         |"manifest-list":${jstr(listPath.toString)},
         |"summary":{"operation":"${if (mode == "overwrite") "overwrite" else "append"}"$summaryExtra}}""".stripMargin
    val allSnaps = (snapshots.map(mapper.writeValueAsString) :+ snapJson)
      .mkString("[", ",", "]")
    val tableUuid = existing.flatMap(m => Option(m.get("table-uuid")).map(_.asText()))
      .getOrElse(java.util.UUID.randomUUID().toString)
    // table properties carry FORWARD verbatim (review finding: the
    // rebuilt-from-template metadata silently dropped them — including
    // the graft-ledger-* entries expireSnapshots folds in, which would
    // re-open the exactly-once door the fold closed, and any adopted
    // table's own configuration)
    val propsJson = existing.flatMap(m =>
        Option(m.get("properties")).filterNot(_.isNull))
      .map(mapper.writeValueAsString).getOrElse("{}")

    val metaJson =
      s"""{"format-version":2,"table-uuid":"$tableUuid",
         |"location":${jstr(dir)},"last-sequence-number":$seq,
         |"last-updated-ms":$now,"last-column-id":$lastColumnId,
         |"current-schema-id":$schemaId,
         |"schemas":$schemasJson,
         |"default-spec-id":$specId,"partition-specs":$specsJson,
         |"last-partition-id":$lastPartitionId,"default-sort-order-id":0,
         |"sort-orders":[{"order-id":0,"fields":[]}],
         |"properties":$propsJson,
         |"current-snapshot-id":$snapId,
         |"snapshots":$allSnaps}""".stripMargin

    val version = commitMetadata(fs, metaDir, currentVersion, metaJson, mode)
    // advisory hint — last writer wins; newest-metadata resolution is the
    // fallback (IcebergLoader handles both)
    val hint = fs.create(new HPath(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    // freshness hook: a registered column index over this dir re-derives
    // its zones from the new snapshot (zero footer reads)
    ColumnIndexRegistry.refreshFromCommit(spark, dir, "iceberg")
    version
  }

  /** The distributed data-file write shared by [[write]] and
    * [[IcebergDml]]: ONE Spark job for both layouts. Partitioned writes
    * duplicate each partition column under a `__p_` name and let Spark's
    * dynamic-partition writer split files by tuple — each data file then
    * holds exactly one partition tuple AND still contains the identity
    * source columns, as the spec requires. Tuples are decoded back from
    * the hive-escaped scratch dir names, typed by the column's schema.
    * Returns (path, size, footer zones, partition tuple) per moved file —
    * ONE footer read per file supplies both the TRUE record count (a
    * stats hint real planners read; never a lie) and the bounds zones the
    * manifest publishes. */
  /** Re-alias top-level columns with `parquet.field.id` metadata so the
    * parquet writer records field ids in the files (iceberg spec
    * §Parquet: data files carry field ids; real engines resolve columns
    * by ID, and files without ids need a name-mapping table property to
    * be readable at all). Spark emits the ids when schema metadata
    * carries the key (`spark.sql.parquet.fieldId.write.enabled`, default
    * true). Top-level fields, the engine's supported shape. */
  private[sources] def stampFieldIds(df: DataFrame,
                                     fieldIds: Map[String, Int]): DataFrame =
    if (fieldIds.isEmpty) df
    else df.select(df.schema.fields.map { f =>
      fieldIds.get(f.name) match {
        case Some(fid) => col(s"`${f.name}`").as(f.name,
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putLong("parquet.field.id", fid.toLong).build())
        case None => col(s"`${f.name}`")
      }
    }.toIndexedSeq: _*)

  private[sources] def writeDataParts(df0: DataFrame, fs: FileSystem,
      root: HPath, partFields: Seq[PartField],
      partTypes: Map[String, DataType],
      fieldIds: Map[String, Int] = Map.empty)
      : Seq[(String, Long, ColumnIndex.FileZones, Seq[(String, Any)])] = {
    val df = stampFieldIds(df0, fieldIds)
    val spark = df.sparkSession
    val dataDir = new HPath(root, "data")
    fs.mkdirs(dataDir)
    val scratch = new HPath(root, s".graft_tmp_${java.util.UUID.randomUUID()}")
    val dup = partFields.map(pf => s"__p_${pf.name}")
    val toWrite = partFields.foldLeft(df) { (acc, pf) =>
      acc.withColumn(s"__p_${pf.name}",
        transformColumn(pf, df.schema(pf.source).dataType))
    }
    // the refusal runs on the TRANSFORMED values: truncate("") is "" too
    PartitionLayout.refuseEmptyStringKeys(toWrite, dup, "IcebergWriter")
    val writer = toWrite.write.mode("overwrite")
    (if (dup.isEmpty) writer else writer.partitionBy(dup: _*))
      .parquet(scratch.toString)
    val conf = spark.sparkContext.hadoopConfiguration
    val statCols = df.schema.fields
      .filter(f => boundsKind(f.dataType).isDefined).map(_.name).toSeq
    val moved = PartitionLayout.collectParts(fs, scratch).map { case (p, segs) =>
      val bySeg = segs.map(PartitionLayout.parseSegment).toMap
      val tuple = partFields.map { pf =>
        val raw = bySeg.getOrElse(s"__p_${pf.name}",
          throw new IllegalStateException(
            s"partition dir for `${pf.name}` missing under scratch"))
        pf.name -> decodePartitionValue(raw, partTypes(pf.name))
      }
      // keep the tuple dirs (minus the __p_ mangle) under data/ — file
      // names repeat ACROSS partition dirs (one task writes the same
      // part-name into every tuple it holds), so a flat move would clash
      val relDir = segs.map(_.stripPrefix("__p_")).mkString("/")
      val targetDir = if (relDir.isEmpty) dataDir else new HPath(dataDir, relDir)
      fs.mkdirs(targetDir)
      val target = new HPath(targetDir, p.getName)
      require(fs.rename(p, target),
        s"IcebergWriter could not move data file ${p.getName} into $targetDir")
      val st = fs.getFileStatus(target)
      val fz = ColumnIndex.readFileZones(conf, target.toString, statCols)
      require(fz.rows >= 0L,
        s"IcebergWriter could not read back the footer of $target")
      (target.toString, st.getLen, fz, tuple)
    }
    fs.delete(scratch, true)
    moved
  }

  /** Data-file compaction — [[DeltaWriter.compact]]'s story for the other
    * format. WITHIN each partition tuple (trivially: the whole table when
    * unpartitioned), live data files smaller than `targetFileBytes` are
    * rewritten into as few files as possible; ONE new manifest holds the
    * whole live set and commits as a `replace` snapshot — logical
    * contents unchanged, old snapshots keep their files until
    * [[expireSnapshots]] reclaims them. Untouched files are republished
    * as status=0 EXISTING entries with their ORIGINAL sequence numbers
    * (spec semantics — re-ADDing them at the new sequence would make an
    * external incremental reader see the whole live set as new data, and
    * inflate the sequence floor this writer's own evolution guard reads).
    *
    * DELETE-AWARE (upstream `rewrite_data_files` semantics, the symmetric
    * leg of [[DeltaWriter.compact]]'s DV materialization): a snapshot
    * carrying position deletes, equality deletes, or v3 deletion vectors
    * compacts by APPLYING the deletes during the rewrite — every
    * delete-affected data file is a rewrite candidate whatever its size
    * (a file is affected when a position tombstone/DV references it, or
    * any equality delete outranks its sequence number), the rewrite reads
    * through [[IcebergLoader.scanLive]] (the READER's own delete
    * application, so the two can never drift), and the `replace` snapshot
    * publishes NO delete manifests — the materialized deletes are spent,
    * re-publishing them against the new higher-sequence files would be a
    * no-op for rewritten files and double jeopardy for carried ones.
    * Carrying a file past a delete is safe precisely because unaffected
    * means no tombstone references it and no equality delete outranks it;
    * inapplicable (stale) delete files also drop — an equality delete
    * only ever applies to OLDER sequence numbers, so one that outranks no
    * live file today can never apply again. The dropped delete files stay
    * on disk for time travel until [[expireSnapshots]] +
    * [[removeOrphanFiles]] reclaim them.
    *
    * Refuses tables whose live data manifests span partition specs
    * (re-partitioned history) and rename/readd schema history (the
    * name-based read would materialize wrong values). Returns the
    * committed metadata version, or -1 when no commit was needed. */
  def compactDataFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                       targetFileBytes: Long = 128L << 20,
                       minFiles: Int = 2,
                       /** Non-empty = CLUSTERING pass: every live file
                         * rewrites in Morton order over these columns
                         * ([[ZOrderKit]]), so manifest bounds prune
                         * conjunctive predicates over all of them. */
                       zorderBy: Seq[String] = Seq.empty): Long = {
    require(targetFileBytes > 0 && minFiles >= 2,
      "compactDataFiles needs targetFileBytes > 0 and minFiles >= 2")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new HPath(root, "metadata")
    val (meta, metaVersion) = IcebergLoader.currentMetadataVersioned(fs, dir)
    // the table's default spec — partitioned tables compact per tuple
    // (specPartFields refuses transforms this writer does not speak)
    val partFields = specPartFields(meta)
    val defaultSpecId = Option(meta.get("default-spec-id")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(0)
    // the name-based reader returns NULL for renamed columns in pre-rename
    // files (documented trade) — compacting would MATERIALIZE those nulls
    // into the live table, so any rename in the schema history refuses
    // (review finding; the Delta side refuses column mapping for the same
    // hazard class)
    def fieldPairs(node: JsonNode, prefix: String): Seq[(Int, String)] =
      Option(node.get("fields")).filterNot(_.isNull).toSeq
        .flatMap(_.elements().asScala.toSeq).flatMap { f =>
          val name = prefix + f.get("name").asText()
          Seq(f.get("id").asInt() -> name) ++ typePairs(f.get("type"), name)
        }
    // recurse through struct fields AND list/map element/key/value types —
    // a rename inside list<struct<...>> must not slip past (review
    // finding). Segments join on NUL, which no column name can contain —
    // a literal dot in a name must not collide with a nested path
    // (review finding).
    def typePairs(t: JsonNode, prefix: String): Seq[(Int, String)] =
      if (t == null || t.isTextual) Seq.empty
      else fieldPairs(t, prefix + "\u0000") ++
        Seq("element", "key", "value").flatMap(part =>
          Option(t.get(part)).filterNot(_.isNull).toSeq
            .flatMap(typePairs(_, prefix + "\u0000" + part)))
    val schemaPairSets: Seq[Seq[(Int, String)]] =
      Option(meta.get("schemas")).filterNot(_.isNull).toSeq
        .flatMap(_.elements().asScala.toSeq)
        .map(sch => fieldPairs(sch, "").distinct)
    // one id under two names = a rename (the name-based read would serve
    // nulls for the renamed column). The drop-and-readd check (one name
    // under two ids) applies only WITHIN an id-LINEAGE: this writer's own
    // overwrite assigns fresh ids to the whole new schema generation, and
    // two generations sharing no ids cannot have live cross-generation
    // files (the overwrite replaced them) — refusing those was a
    // deterministic false positive (review finding)
    val allPairs = schemaPairSets.flatten.distinct
    val renamed = allPairs.groupBy(_._1).values.exists(_.map(_._2).toSet.size > 1)
    val lineages: Seq[Seq[(Int, String)]] = {
      val comps = scala.collection.mutable.ArrayBuffer[
        (scala.collection.mutable.Set[Int],
         scala.collection.mutable.Set[(Int, String)])]()
      schemaPairSets.foreach { pairs =>
        val ids = pairs.map(_._1).toSet
        val (hit, miss) = comps.partition(_._1.exists(ids))
        val mergedIds = scala.collection.mutable.Set[Int]() ++ ids
        val mergedPairs = scala.collection.mutable.Set[(Int, String)]() ++ pairs
        hit.foreach { case (i2, p2) => mergedIds ++= i2; mergedPairs ++= p2 }
        comps.clear(); comps ++= miss; comps += ((mergedIds, mergedPairs))
      }
      comps.map(_._2.toSeq).toSeq
    }
    val readded = lineages.exists(pairs =>
      pairs.groupBy(_._2).values.exists(_.map(_._1).toSet.size > 1))
    require(!(renamed || readded),
      "compactDataFiles cannot run on a table with column rename/readd " +
        "history (the name-based read would materialize wrong values for " +
        "evolved columns)")
    // cross-generation name repetition (disjoint-id schemas reusing the
    // same names) is safe ONLY if every live file postdates the current
    // schema generation — true for this writer's overwrite, but an
    // external engine can re-declare a schema without rewriting files
    // (review finding). Verified below against live entries' sequence
    // numbers once they are in hand.
    val crossGenNames = lineages.size > 1 && {
      val names = lineages.map(_.map(_._2).toSet)
      names.combinations(2).exists(c => (c(0) & c(1)).nonEmpty)
    }
    val snapshots = Option(meta.get("snapshots")).filterNot(_.isNull)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val currentId = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).filter(_ != -1L)
    val snap = currentId.flatMap(id =>
      snapshots.find(_.get("snapshot-id").asLong() == id))
      .getOrElse(return -1L)

    // live DATA manifests of the current snapshot; delete manifests are
    // planned separately below and materialized into the rewrite
    val remap = IcebergLoader.pathRemapper(meta, dir)
    val manifests: Seq[(String, Long)] =
      Option(snap.get("manifest-list")).filterNot(_.isNull).map(_.asText()) match {
        case Some(ml) =>
          IcebergLoader.readAvro(fs, new HPath(remap(ml)))
            .filter(m => IcebergLoader.longOr(m, "content", 0L) == 0L)
            .map { m =>
              // carried entries republish under the DEFAULT spec's manifest
              // schema — an older spec's partition records cannot be
              // represented there, so a re-partitioned live set refuses
              require(IcebergLoader.longOr(m, "partition_spec_id",
                  defaultSpecId.toLong) == defaultSpecId.toLong,
                "compactDataFiles cannot run when live manifests span " +
                  "partition specs (overwrite to re-partition first)")
              (remap(String.valueOf(m.get("manifest_path"))),
                IcebergLoader.longOr(m, "sequence_number", 0L))
            }
        case None =>
          require(partFields.isEmpty,
            "compactDataFiles cannot run on a partitioned table with " +
              "inline-manifest (early v1) snapshots — their spec ids are " +
              "unknowable")
          Option(snap.get("manifests")).filterNot(_.isNull)
            .map(_.elements().asScala.map(p => (remap(p.asText()), 0L)).toSeq)
            .getOrElse(Seq.empty)
      }
    // the snapshot's delete inventory, planned EXACTLY as the reader plans
    // it (shared code path); puffin blobs decode once, whatever the group
    // count
    val plan = IcebergLoader.planSnapshot(fs, dir, meta, Some(snap))
    val posTombs = IcebergLoader.positionTombstones(spark, fs, dir, meta, plan)
    // files referenced by a position tombstone / DV: the distinct-path
    // collect is bounded by live file count, and the distinct itself runs
    // executor-side
    val posAffected: Set[String] = posTombs.map(
      _.select("__graft_fp").distinct()
        .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)
    // an equality delete applies only to STRICTLY OLDER sequence numbers;
    // a file at or above every delete's sequence is out of reach
    val maxEqSeq: Long = plan.equalityDeleteFiles.map(_.seq)
      .foldLeft(Long.MinValue)(math.max)
    // partition-field result types under the CURRENT schema — the types
    // the manifest partition records and the hive decode speak
    val schema = IcebergLoader.tableSchema(meta)
    val partResultTypes: Map[String, DataType] = partFields.map { pf =>
      val f = schema.fields.find(_.name == pf.source).getOrElse(
        throw new IllegalArgumentException(
          s"compactDataFiles: partition source `${pf.source}` is not in " +
            "the current table schema"))
      pf.name -> transformResultType(pf, f.dataType)
    }.toMap
    // one live entry's partition tuple, values coerced to the avro class
    // the default spec's manifest schema writes (external manifests may
    // carry e.g. Integer where this writer writes long)
    def partTuple(d: GenericRecord, path: String): Seq[(String, Any)] =
      if (partFields.isEmpty) Seq.empty
      else d.get("partition") match {
        case pr: GenericRecord =>
          partFields.map { pf =>
            require(pr.getSchema.getField(pf.name) != null,
              s"compactDataFiles: manifest partition record for $path " +
                s"misses spec field `${pf.name}`")
            pf.name -> (pr.get(pf.name) match {
              case null => null
              case u: org.apache.avro.util.Utf8 => u.toString
              case s: String => s
              case b: java.lang.Boolean => b
              case nv: java.lang.Number => partResultTypes(pf.name) match {
                case LongType => Long.box(nv.longValue())
                case _ => Int.box(nv.intValue()) // int-family + date epoch-day
              }
              case other => throw new IllegalArgumentException(
                s"compactDataFiles: unsupported partition value `$other` " +
                  s"for `${pf.name}` in $path")
            })
          }
        case _ => throw new IllegalArgumentException(
          s"compactDataFiles: live entry for $path carries no partition record")
      }
    // live data files WITH their manifest-carried stats: sizes for the
    // small/big split and counts/bounds for carried-forward entries come
    // from metadata alone — no per-file RPC, no footer re-reads for
    // untouched files (review findings)
    val live: Seq[(IcebergLoader.DataFileStats, Long, Seq[(String, Any)])] =
      manifests.flatMap { case (mp, mSeq) =>
        IcebergLoader.readAvro(fs, new HPath(mp)).flatMap { entry =>
          if (IcebergLoader.longOr(entry, "status", 1L) == 2L) None
          // a delete file inside a data manifest (legal pre-manifest-list
          // shapes): it is in `plan`'s delete inventory, not the live set
          else if (IcebergLoader.longOr(
              entry.get("data_file").asInstanceOf[GenericRecord],
              "content", 0L) != 0L) None
          else {
            val d = entry.get("data_file").asInstanceOf[GenericRecord]
            val fmt = String.valueOf(d.get("file_format")).toUpperCase
            require(fmt == "PARQUET",
              s"compactDataFiles: data file format `$fmt` not supported " +
                "(parquet only — relabeling it would defeat the reader's guard)")
            val st = IcebergLoader.dataFileStatsOf(d, remap)
            Some((st, IcebergLoader.longOr(entry, "sequence_number", mSeq),
              partTuple(d, st.path)))
          }
        }
      }
    if (crossGenNames) {
      // the current schema generation's FIRST snapshot sets the floor:
      // any live file sequenced before it was written under an earlier
      // disjoint generation whose same-named columns the name-based read
      // would misresolve
      val curSchemaId = Option(meta.get("current-schema-id")).filterNot(_.isNull)
        .map(_.asInt()).getOrElse(0)
      val floor = snapshots.filter(sn =>
          Option(sn.get("schema-id")).filterNot(_.isNull)
            .exists(_.asInt() == curSchemaId))
        .map(sn => Option(sn.get("sequence-number")).filterNot(_.isNull)
          .map(_.asLong()).getOrElse(0L))
        .minOption.getOrElse(0L)
      require(live.forall(_._2 >= floor),
        "compactDataFiles cannot run: live files predate the current " +
          "schema generation while a disjoint generation reuses its " +
          "column names (the name-based read would misresolve them)")
    }
    type Entry = (IcebergLoader.DataFileStats, Long, Seq[(String, Any)], Long)
    val sized: Seq[Entry] = live.map { case (st, sq, tuple) => (st, sq, tuple,
      if (st.fileSize >= 0L) st.fileSize
      else fs.getFileStatus(new HPath(st.path)).getLen) }
    // delete-affected files are ALWAYS rewrite candidates, whatever their
    // size — the deletes are why they rewrite (the DeltaWriter.compact DV
    // shape); carrying one forward would resurrect its deleted rows the
    // moment the delete manifests drop
    def affected(e: Entry): Boolean =
      // posTombs fps are in the scan's percent-encoded path domain —
      // manifest paths must be keyed the same way or a space-bearing
      // partition dir reads as unaffected and the rewrite-skip would
      // resurrect its doomed rows when the spent deletes retire
      posAffected.contains(PartitionLayout.scanPathKey(e._1.path)) ||
        e._2 < maxEqSeq
    // per-tuple plan: groups with >= minFiles small files pack, and any
    // group holding an affected file packs its whole rewrite set; the
    // rest (big unaffected files, whole under-threshold groups) carries
    zorderBy.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"zorderBy column `$c` is not in the table schema")
      require(!partFields.exists(pf => pf.kind == "identity" && pf.source == c),
        s"zorderBy column `$c` is an identity partition source — constant " +
          "within every rewrite group, it would waste key bits")
    }
    val plans: Seq[(Seq[(String, Any)], Seq[Entry], Seq[Entry])] =
      sized.groupBy(_._3).toSeq.map { case (tuple, entries) =>
        // a clustering pass rewrites the whole group — re-ordering is the
        // point, size is not
        val (sm, bg) =
          if (zorderBy.nonEmpty) (entries, Seq.empty[Entry])
          else entries.partition(e => e._4 < targetFileBytes || affected(e))
        if (zorderBy.isEmpty && sm.size < minFiles && !sm.exists(affected))
          (tuple, Seq.empty[Entry], entries)
        else (tuple, sm, bg)
      }
    // nothing to pack AND no delete files to retire -> no commit; with
    // deletes present but nothing affected (all stale), the commit still
    // happens — it drops the spent delete manifests, making the delete
    // files expirable
    if (plans.forall(_._2.isEmpty) && !plan.hasDeletes) return -1L
    val carriedLive: Seq[Entry] = plans.flatMap(_._3)
    // carried entries republish manifest counts verbatim — refuse a
    // missing/invalid record_count BEFORE any rewrite job runs and
    // renames files (review finding: failing after the pack left
    // unreferenced orphans per attempt)
    carriedLive.foreach { case (st, _, _, _) =>
      require(st.recordCount >= 0L,
        s"compactDataFiles: manifest entry for ${st.path} carries no " +
          "valid record_count")
    }

    // pack each compacting tuple's small set: replacements land NEXT TO
    // the files they replace (scratch part names carry task UUIDs, so
    // same-dir moves cannot clash); groups run as independent Spark jobs
    // through a small concurrency window (the DeltaWriter.compact shape)
    val dataDir = new HPath(root, "data")
    fs.mkdirs(dataDir)
    val scanSchemaNode = IcebergLoader.schemaNodeFor(meta, None)
    val fieldIds: Map[String, Int] =
      scanSchemaNode.get("fields").elements().asScala
        .map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    def packGroup(small: Seq[Entry]): Seq[(String, Long)] = {
      val total = small.map(_._4).sum
      val nOut = math.max(1L, (total + targetFileBytes - 1) / targetFileBytes).toInt
      val targetDir = new HPath(small.head._1.path).getParent
      val scratch = new HPath(root, s".graft_tmp_${java.util.UUID.randomUUID()}")
      // delete-affected groups read through the READER's own delete
      // application (anti-joins on broadcast tombstones + sequence-gated
      // equality deletes); unaffected groups skip the join machinery —
      // their rows survive it by definition
      val source =
        if (small.exists(affected))
          IcebergLoader.scanLive(spark, scanSchemaNode, plan,
            small.map(_._1.path), posTombs)
        else spark.read.schema(schema).parquet(small.map(_._1.path): _*)
      // repartition, NOT coalesce: coalesce just glues the small files'
      // imbalance back together one level up (Compaction.scala documents
      // the same trade; review finding). Clustering passes range-partition
      // + sort in Morton order instead.
      val shaped =
        if (zorderBy.isEmpty) source.repartition(nOut)
        else ZOrderKit.cluster(source, zorderBy, nOut)
      // rewritten files keep their parquet field ids (spec conformance —
      // id-resolving engines read compacted tables too)
      stampFieldIds(shaped, fieldIds).write.mode("overwrite")
        .parquet(scratch.toString)
      val out = fs.listStatus(scratch).map(_.getPath)
        .filter(p => p.getName.startsWith("part-") && p.getName.endsWith(".parquet"))
        .map { p =>
          val target = new HPath(targetDir, p.getName)
          require(fs.rename(p, target),
            s"compactDataFiles could not move ${p.getName} into $targetDir")
          target.toString -> fs.getFileStatus(target).getLen
        }.toSeq
      fs.delete(scratch, true)
      out
    }
    val toPack = plans.filter(_._2.nonEmpty)
    // groups run as independent Spark jobs through a bounded window; one
    // failed group stops the queued ones (DistKit.runBounded)
    val packed: Seq[(Seq[(String, Any)], Seq[(String, Long)])] =
      DistKit.runBounded(toPack) { case (tuple, sm, _) => tuple -> packGroup(sm) }

    // one manifest over the whole live set, one-entry manifest list,
    // `replace` snapshot, metadata committed at resolvedVersion+1
    val now = System.currentTimeMillis()
    val lastSeq = Option(meta.get("last-sequence-number")).filterNot(_.isNull)
      .map(_.asLong()).getOrElse(0L)
    val seq = lastSeq + 1
    val snapId = snapshots.map(_.get("snapshot-id").asLong()).foldLeft(0L)(math.max) + 1
    val statCols = schema.fields
      .filter(f => boundsKind(f.dataType).isDefined).map(_.name).toSeq
    val conf = spark.sparkContext.hadoopConfiguration
    val mSchema = manifestSchemaFor(
      partFields.map(pf => pf.name -> partResultTypes(pf.name)))
    val manifestPath = new HPath(metaDir,
      s"graft-m$snapId-${java.util.UUID.randomUUID()}.avro")
    // untouched files: status=0 EXISTING at their ORIGINAL sequence
    // numbers — incremental readers must not see them as new data
    val carried = carriedLive.map { case (st, origSeq, tuple, size) =>
      manifestEntryCarried(mSchema, origSeq, st, size, tuple)
    }
    val fresh = packed.flatMap { case (tuple, files) =>
      files.map { case (path, size) =>
        val fz = ColumnIndex.readFileZones(conf, path, statCols)
        require(fz.rows >= 0L, // the UNREADABLE marker must not publish
          s"compactDataFiles could not read back the footer of $path")
        manifestEntry(mSchema, seq, path, size, fz, tuple, fieldIds,
          c => schema.fields.find(_.name == c).map(_.dataType))
      }
    }
    writeAvro(fs, mSchema, carried ++ fresh, manifestPath)
    val listEntry = {
      val m = new GenericData.Record(manifestListSchema)
      m.put("manifest_path", manifestPath.toString)
      m.put("manifest_length", fs.getFileStatus(manifestPath).getLen)
      m.put("partition_spec_id",
        Option(meta.get("default-spec-id")).map(_.asInt()).getOrElse(0))
      m.put("content", 0)
      m.put("sequence_number", Long.box(seq))
      m.put("added_snapshot_id", snapId)
      m
    }
    val listPath = new HPath(metaDir,
      s"snap-$snapId-${java.util.UUID.randomUUID()}.avro")
    writeAvro(fs, manifestListSchema, Seq(listEntry), listPath)

    val schemaId = Option(meta.get("current-schema-id")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(0)
    val snapJson =
      s"""{"snapshot-id":$snapId,"sequence-number":$seq,"timestamp-ms":$now,
         |"schema-id":$schemaId,
         |"manifest-list":${jstr(listPath.toString)},
         |"summary":{"operation":"replace"}}""".stripMargin
    val node = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    node.put("last-sequence-number", seq)
    node.put("last-updated-ms", now)
    node.put("current-snapshot-id", snapId)
    val arr = mapper.createArrayNode()
    snapshots.foreach(arr.add)
    arr.add(mapper.readTree(snapJson))
    node.set[JsonNode]("snapshots", arr)
    val base = if (metaVersion >= 0) metaVersion else metadataVersion(fs, metaDir)
    val version = commitMetadata(fs, metaDir, base,
      mapper.writeValueAsString(node), "compactDataFiles")
    val hint = fs.create(new HPath(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    ColumnIndexRegistry.refreshFromCommit(spark, dir, "iceberg")
    version
  }

  /** Rename a top-level column — METADATA-ONLY (iceberg spec §Schemas:
    * field ids are the identity, names are labels): commits a new
    * `schemas` entry carrying the same field ids under the new name and
    * points `current-schema-id` at it. No data file moves or rewrites;
    * readers that resolve by field id (the incremental readers'
    * schema-id projection, real iceberg engines) read files written
    * under either name correctly. Returns the committed metadata
    * version. */
  def renameColumn(spark: org.apache.spark.sql.SparkSession, dir: String,
                   from: String, to: String): Long = {
    import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new HPath(root, "metadata")
    val (meta, ver0) = IcebergLoader.currentMetadataVersioned(fs, dir)
    val base = if (ver0 >= 0) ver0 else metadataVersion(fs, metaDir)
    val node = meta.deepCopy[ObjectNode]()
    val curId = Option(node.get("current-schema-id")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(0)
    val schemas = Option(node.get("schemas")).filterNot(_.isNull)
      .map(_.asInstanceOf[ArrayNode]).getOrElse(
        throw new IllegalArgumentException(
          s"renameColumn: `$dir` metadata has no schemas array (v1-shaped " +
            "metadata — rewrite through write() first)"))
    val cur = schemas.elements().asScala
      .find(_.get("schema-id").asInt() == curId)
      .getOrElse(throw new IllegalArgumentException(
        s"renameColumn: current-schema-id $curId not in schemas"))
    val next = cur.deepCopy[ObjectNode]()
    val nextId = schemas.elements().asScala
      .map(_.get("schema-id").asInt()).max + 1
    next.put("schema-id", nextId)
    val fields = next.get("fields").asInstanceOf[ArrayNode]
    val names = fields.elements().asScala.map(_.get("name").asText()).toSeq
    require(names.contains(from),
      s"renameColumn: `$from` is not a top-level column of `$dir`")
    require(!names.contains(to),
      s"renameColumn: `$to` already exists in `$dir`")
    fields.elements().asScala
      .filter(_.get("name").asText() == from)
      .foreach(_.asInstanceOf[ObjectNode].put("name", to))
    schemas.add(next)
    node.put("current-schema-id", nextId)
    node.put("last-updated-ms", System.currentTimeMillis())
    val version = commitMetadata(fs, metaDir, base,
      mapper.writeValueAsString(node), "renameColumn")
    val hint = fs.create(new HPath(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()
    version
  }

  /** Expire snapshots older than `olderThanMs` (never the current one):
    * commit a metadata version without them, then delete every file only
    * THEY referenced — manifest lists, manifests, and data/delete files
    * unreachable from all surviving snapshots. Time travel to an expired
    * snapshot-id fails loudly afterwards, exactly Iceberg's
    * `expire_snapshots` contract; this is the maintenance half a 100 TB
    * sink needs to keep metadata and storage bounded. File-set reachability
    * is driver-side metadata work (manifest reads), the same order as
    * Iceberg's own implementation. Returns (expired snapshots, deleted
    * files). */
  def expireSnapshots(spark: org.apache.spark.sql.SparkSession, dir: String,
                      olderThanMs: Long = 7L * 24 * 3600 * 1000): (Int, Long) = {
    require(olderThanMs >= 0, s"expire retention must be >= 0, got $olderThanMs")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new HPath(root, "metadata")
    val (meta, metaVersion) = IcebergLoader.currentMetadataVersioned(fs, dir)
    val snapshots = Option(meta.get("snapshots")).filterNot(_.isNull)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val currentId = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).getOrElse(-1L)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val (expired, keep) = snapshots.partition { s =>
      s.get("snapshot-id").asLong() != currentId &&
        Option(s.get("timestamp-ms")).map(_.asLong()).getOrElse(0L) < cutoff
    }
    if (expired.isEmpty) return (0, 0L)

    val remap = IcebergLoader.pathRemapper(meta, dir)
    val closure = new ClosureReader(fs, remap)
    val doomed = closure.filesOf(expired) -- closure.filesOf(keep)

    // commit the pruned snapshot list as the next metadata version (the
    // same put-if-absent point as write())
    val node = meta.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]()
    val arr = mapper.createArrayNode()
    keep.foreach(arr.add)
    node.set[JsonNode]("snapshots", arr)
    node.put("last-updated-ms", System.currentTimeMillis())
    // fold the EXPIRED snapshots' idempotency-ledger summaries into table
    // properties before they vanish — expiring the snapshot that carried
    // an app's newest batch id (routine once compaction's `replace` is
    // current) must not break exactly-once on a stream restart
    // ([[lastAppVersion]] reads both channels)
    val expiredLedger: Map[String, Long] = expired.flatMap { s =>
      val sum = Option(s.get("summary")).filterNot(_.isNull)
      for {
        app <- sum.flatMap(x => Option(x.get("graft-app-id"))).map(_.asText())
        v <- sum.flatMap(x => Option(x.get("graft-app-version")))
          .map(_.asText().toLong)
      } yield app -> v
    }.groupBy(_._1).map { case (app, xs) => app -> xs.map(_._2).max }
    if (expiredLedger.nonEmpty) {
      val props = Option(node.get("properties")).filterNot(_.isNull) match {
        case Some(o: com.fasterxml.jackson.databind.node.ObjectNode) => o
        case _ =>
          val o = mapper.createObjectNode(); node.set[JsonNode]("properties", o); o
      }
      expiredLedger.foreach { case (app, v) =>
        val key = s"graft-ledger-$app"
        val prev = Option(props.get(key)).map(_.asText().toLong).getOrElse(Long.MinValue)
        if (v > prev) props.put(key, v.toString)
      }
    }
    // commit at resolvedVersion+1 — NOT listing-max+1, which could be
    // fresher than `meta` and silently discard a concurrent commit's
    // snapshot (review finding); foreign numberless naming falls back
    val base = if (metaVersion >= 0) metaVersion else metadataVersion(fs, metaDir)
    val version = commitMetadata(fs, metaDir, base,
      mapper.writeValueAsString(node), "expireSnapshots")
    val hint = fs.create(new HPath(metaDir, "version-hint.text"), true)
    try hint.write(version.toString.getBytes("UTF-8")) finally hint.close()

    // physical deletes AFTER the metadata commit: a crash in between
    // leaves only harmless still-present orphans
    var deleted = 0L
    doomed.foreach { p =>
      if (scala.util.Try(fs.delete(new HPath(p), false)).getOrElse(false))
        deleted += 1
    }
    (expired.size, deleted)
  }

  /** Upstream's `remove_orphan_files` action — the reclaim leg
    * [[expireSnapshots]] cannot cover: files under the table root that NO
    * snapshot reaches (a crashed writer's moved-but-never-committed data
    * files, the manifest list of a lost commit race, stale scratch dirs)
    * are deleted once older than `olderThanMs`. The age gate is the
    * safety margin against IN-FLIGHT writers, exactly as upstream
    * documents — a writer moves data files into place BEFORE its metadata
    * commit, so fresh unreferenced files must survive. Metadata catalog
    * files (`*.metadata.json`, `version-hint.text`) always keep. The
    * driver holds the reachable set (metadata-bounded — the same closure
    * expireSnapshots walks) and the DIRECTORY walk; per-file listing,
    * the keep-set anti-join, and deletes run on executors (the
    * [[DeltaWriter.vacuum]] shape). Returns the deleted file count. */
  def removeOrphanFiles(spark: org.apache.spark.sql.SparkSession, dir: String,
                        olderThanMs: Long = 3L * 24 * 3600 * 1000): Long = {
    require(olderThanMs >= 0, s"orphan retention must be >= 0, got $olderThanMs")
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (meta, _) = IcebergLoader.currentMetadataVersioned(fs, dir)
    val snapshots = Option(meta.get("snapshots")).filterNot(_.isNull)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
    val remap = IcebergLoader.pathRemapper(meta, dir)
    // reachable = every snapshot's manifest closure PLUS the metadata's
    // statistics and partition-statistics files (external ANALYZE writes
    // Puffin stats the current metadata references; review finding: they
    // age immediately and would read as orphans) — all in the SAME
    // qualified form the executor listing emits
    val statsFiles: Seq[String] =
      Seq("statistics", "partition-statistics").flatMap(k =>
        Option(meta.get(k)).filterNot(_.isNull).toSeq
          .flatMap(_.elements().asScala)
          .flatMap(n => Option(n.get("statistics-path"))
            .orElse(Option(n.get("path"))).filterNot(_.isNull)
            .map(p => remap(p.asText()))))
    val keep: Set[String] =
      (new ClosureReader(fs, remap).filesOf(snapshots) ++ statsFiles)
        .map(p => fs.makeQualified(new HPath(p)).toString)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val keepDf = keep.toSeq.toDF("path")
    DistKit.reclaim(spark, dir, cutoff,
      isScratchDir = _.startsWith(".graft_tmp_"),
      skipName = n => n.startsWith(".") || n.startsWith("_") ||
        n.endsWith(".metadata.json") || n == "version-hint.text",
      // dirs: upstream remove_orphan_files' hidden-path filter — both
      // '_' and '.' prefixed dirs stay untouched (a co-located
      // _temporary committer staging dir or parked _backup must not be
      // entered), partition dirs excepted via the shared "=" rule
      skipDirName = n => n.startsWith(".") || n.startsWith("_"),
      doom = candidates => candidates.where(col("mtime") < cutoff)
        .join(keepDf, Seq("path"), "left_anti").select("path").as[String])
  }

  /** Metadata-file retention (upstream's
    * `write.metadata.previous-versions-max` story): keep the newest
    * `keepLast` `vN.metadata.json` files and delete older ones. Snapshots
    * live in the CURRENT metadata file, so reads and snapshot-id time
    * travel are unaffected — only rollback to a retired METADATA file is
    * lost, the upstream trade. Foreign-named metadata files are left
    * alone (their ordering is not ours to judge). Returns deleted count. */
  def cleanupMetadata(spark: org.apache.spark.sql.SparkSession, dir: String,
                      keepLast: Int = 5): Long = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val root = new HPath(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaDir = new HPath(root, "metadata")
    val (meta, curV) = IcebergLoader.currentMetadataVersioned(fs, dir)
    if (curV < 0) return 0L // foreign naming carries no version order
    // files the CURRENT metadata's `metadata-log` still references must
    // stay — an external engine's timestamp time travel walks that log,
    // and upstream only deletes in lock-step with truncating it (review
    // finding; this writer's own tables carry no metadata-log)
    val logged: Set[String] = Option(meta.get("metadata-log"))
      .filterNot(_.isNull).toSeq.flatMap(_.elements().asScala)
      .flatMap(n => Option(n.get("metadata-file")).filterNot(_.isNull)
        .map(p => new HPath(p.asText()).getName)).toSet
    val rx = raw"v(\d+)\.metadata\.json".r
    var deleted = 0L
    fs.listStatus(metaDir).foreach { st =>
      st.getPath.getName match {
        case n @ rx(v) if v.toLong <= curV - keepLast && !logged(n) =>
          if (fs.delete(st.getPath, false)) deleted += 1
        case _ => ()
      }
    }
    deleted
  }

  /** One manifest entry for a data file: content/path/format/counts/size,
    * the spec-typed partition tuple when present, and per-field null
    * counts + single-value-serialized bounds from the footer zones.
    * Shared by [[write]] and [[compactDataFiles]]. `colType` resolves a
    * column name to the Spark type whose iceberg serialization the zone
    * must speak (the zone's domain must match, or the bytes would lie —
    * e.g. nanos-as-long stats under a timestamp field). */
  private[sources] def manifestEntry(mSchema: Schema, seq: Long, path: String,
      size: Long, fz: ColumnIndex.FileZones, tuple: Seq[(String, Any)],
      fieldIds: Map[String, Int],
      colType: String => Option[DataType]): GenericRecord = {
    val nulls = fz.zones.flatMap { case (c, z) =>
      fieldIds.get(c).map(_ -> z.nulls) }.toMap
    def bounds(isMin: Boolean): Map[Int, java.nio.ByteBuffer] =
      fz.zones.flatMap { case (c, z) =>
        for {
          fid <- fieldIds.get(c)
          dt <- colType(c)
          // the zone's domain must be the one this column's iceberg type
          // serializes, or the bytes would lie (e.g. nanos-as-long stats
          // under a timestamp field)
          if !z.allNull && boundsKind(dt).contains(z.kind)
          b <- boundsBytes(dt, z, isMin)
        } yield fid -> b
      }.toMap
    manifestEntryRaw(mSchema, 1, seq, path, size, fz.rows, tuple, nulls,
      bounds(isMin = true), bounds(isMin = false))
  }

  /** THE manifest-entry scaffolding, shared by the footer-derived
    * ([[manifestEntry]]) and carried-forward ([[manifestEntryCarried]])
    * paths (review finding: two copies of the kv/envelope code).
    * `status` is the spec's enum: 1 = ADDED for fresh files, 0 = EXISTING
    * for carried-forward ones. */
  private[sources] def manifestEntryRaw(mSchema: Schema, status: Int, seq: Long,
      path: String,
      size: Long, recordCount: Long, tuple: Seq[(String, Any)],
      nulls: Map[Int, Long], lower: Map[Int, java.nio.ByteBuffer],
      upper: Map[Int, java.nio.ByteBuffer],
      /** data_file.content: 0 data, 1 position deletes ([[IcebergDml]]'s
        * delete manifests), 2 equality deletes. */
      content: Int = 0): GenericRecord = {
    val e = new GenericData.Record(mSchema)
    val dfSchema = mSchema.getField("data_file").schema()
    val d = new GenericData.Record(dfSchema)
    d.put("content", content)
    d.put("file_path", path)
    d.put("file_format", "PARQUET")
    d.put("record_count", recordCount)
    d.put("file_size_in_bytes", size)
    if (tuple.nonEmpty) {
      val pSchema = dfSchema.getField("partition").schema()
      val pr = new GenericData.Record(pSchema)
      tuple.foreach { case (c, v) => pr.put(c, v) }
      d.put("partition", pr)
    }
    def kvSchema(field: String): Schema =
      dfSchema.getField(field).schema().getTypes.get(1).getElementType
    def kv(schema: Schema, key: Int, value: AnyRef): GenericRecord = {
      val r = new GenericData.Record(schema); r.put("key", key)
      r.put("value", value); r
    }
    def kvList[A <: AnyRef](field: String, m: Map[Int, A]) = {
      val out = new java.util.ArrayList[GenericRecord]()
      m.foreach { case (k, v) => out.add(kv(kvSchema(field), k, v)) }
      out
    }
    d.put("null_value_counts",
      kvList("null_value_counts", nulls.map { case (k, v) => k -> Long.box(v) }))
    d.put("lower_bounds", kvList("lower_bounds", lower))
    d.put("upper_bounds", kvList("upper_bounds", upper))
    e.put("status", status)
    e.put("sequence_number", Long.box(seq))
    e.put("data_file", d)
    e
  }

  /** A manifest entry for a CARRIED-FORWARD file from its old entry's own
    * stats — no footer reads, the original counts/bounds/partition tuple
    * travel verbatim. Status 0 (EXISTING) at the file's ORIGINAL sequence
    * number: republishing it as ADDED at the new sequence would make an
    * external incremental reader re-ingest the whole live set and inflate
    * the sequence floor the evolution guard reads (advisor finding). */
  private def manifestEntryCarried(mSchema: Schema, origSeq: Long,
      st: IcebergLoader.DataFileStats, size: Long,
      tuple: Seq[(String, Any)]): GenericRecord =
    manifestEntryRaw(mSchema, 0, origSeq, st.path, size, st.recordCount, tuple,
      st.nullCounts,
      st.lowerBounds.map { case (k, b) => k -> java.nio.ByteBuffer.wrap(b) },
      st.upperBounds.map { case (k, b) => k -> java.nio.ByteBuffer.wrap(b) })

  /** Every file a snapshot set reaches: its manifest-list files (or the
    * early-v1 inline `manifests` array — missing it could delete files a
    * kept inline snapshot still needs; review finding), their manifests,
    * and the manifests' data/delete file paths (ALL entries — status and
    * content are irrelevant to reachability). Paths go through the
    * loader's location remap, so a relocated table resolves at ITS root,
    * never the old recorded location (review finding). Manifests are
    * immutable and carried into MANY snapshots on append-heavy tables, so
    * both avro levels memoize by path — one read per distinct file, not
    * one per referencing snapshot. Shared by [[expireSnapshots]] and
    * [[removeOrphanFiles]]. */
  private final class ClosureReader(fs: FileSystem, remap: String => String) {
    private def norm(p: String): String = new HPath(p).toString
    private val listCache = scala.collection.mutable.Map[String, Seq[String]]()
    private val manifestCache = scala.collection.mutable.Map[String, Seq[String]]()
    private def manifestClosure(mp: String): Seq[String] =
      Seq(norm(mp)) ++ manifestCache.getOrElseUpdate(norm(mp),
        manifestFilePaths(fs, mp).map(p => norm(remap(p))))
    def filesOf(snaps: Seq[JsonNode]): Set[String] = snaps.flatMap { s =>
      val fromLists = Option(s.get("manifest-list")).filterNot(_.isNull)
        .map(_.asText()).toSeq.flatMap { ml0 =>
          val ml = remap(ml0)
          val manifests = listCache.getOrElseUpdate(norm(ml),
            manifestListPaths(fs, ml).map(remap))
          Seq(norm(ml)) ++ manifests.flatMap(manifestClosure)
        }
      val fromInline = Option(s.get("manifests")).filterNot(_.isNull)
        .map(_.elements().asScala.map(p => remap(p.asText())).toSeq)
        .getOrElse(Seq.empty).flatMap(manifestClosure)
      fromLists ++ fromInline
    }.toSet
  }

  /** Manifest paths of one manifest-list avro file (shared reader:
    * [[IcebergLoader.readAvro]]). */
  private def manifestListPaths(fs: FileSystem, listPath: String): Seq[String] =
    IcebergLoader.readAvro(fs, new HPath(listPath))
      .map(r => String.valueOf(r.get("manifest_path")))

  /** Every data_file.file_path in one manifest avro file. */
  private def manifestFilePaths(fs: FileSystem, manifestPath: String): Seq[String] =
    IcebergLoader.readAvro(fs, new HPath(manifestPath))
      .map(e => String.valueOf(
        e.get("data_file").asInstanceOf[GenericRecord].get("file_path")))

  /** Put-if-absent metadata commit at `baseVersion + 1`. UNLIKE
    * DeltaWriter's append retry, a lost race to a REAL concurrent commit
    * cannot be retried in place: the metadata JSON embeds the full
    * snapshot lineage computed against the pre-race state, so publishing
    * it at the next version would silently orphan the winner's snapshot —
    * fail loudly and let the caller re-run (the moved data files are
    * unreferenced orphans, the protocol's standard uncommitted-write
    * story). An occupant that does NOT parse as table metadata (a parked
    * junk file — no `format-version`) carries no lineage and is skipped
    * over instead. */
  private[sources] def commitMetadata(fs: FileSystem, metaDir: HPath, baseVersion: Long,
                             metaJson: String, what: String): Long = {
    var version = baseVersion + 1
    while (true) {
      require(version <= baseVersion + 1000,
        s"IcebergWriter found no free metadata version above v$baseVersion")
      val target = new HPath(metaDir, s"v$version.metadata.json")
      try {
        val out = fs.create(target, false)
        try out.write(metaJson.getBytes("UTF-8")) finally out.close()
        return version
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException |
             _: java.io.IOException if fs.exists(target) =>
          val realMetadata = scala.util.Try {
            val in = fs.open(target)
            val node = try mapper.readTree(in.readAllBytes()) finally in.close()
            node.hasNonNull("format-version")
          }.getOrElse(false)
          // a FRESH unparseable occupant may be a concurrent writer's
          // in-flight file (created, bytes not yet written) — skipping it
          // would silently orphan that commit (review finding: TOCTOU);
          // only occupants both unparseable AND old count as parked junk.
          // The bound sits WELL above any plausible write stall (GC pause,
          // slow object store): a writer that created vN and stalls a few
          // minutes before writing bytes must still collide loudly, or its
          // eventually-completed commit would be silently shadowed by a
          // newer version (advisor finding — the original 60 s bound was
          // inside real-world stall territory)
          val fresh = scala.util.Try(fs.getFileStatus(target)).toOption
            .exists(st =>
              System.currentTimeMillis() - st.getModificationTime < 6L * 3600 * 1000)
          if (realMetadata || fresh) throw new IllegalStateException(
            s"IcebergWriter lost a commit race at v$version to a concurrent " +
              s"writer; re-run the $what against the refreshed table")
          version += 1
      }
    }
    -1L // unreachable
  }

  // ---- helpers --------------------------------------------------------------

  private[sources] def metadataVersion(fs: FileSystem, metaDir: HPath): Long = {
    val rx = """v(\d+)\.metadata\.json""".r
    fs.listStatus(metaDir).map(_.getPath.getName).collect {
      case rx(v) => v.toLong
    }.foldLeft(0L)(math.max)
  }

  /** The ledger: newest `graft-app-version` for `appId` across snapshot
    * summaries, PLUS the `graft-ledger-<appId>` table property where
    * [[expireSnapshots]] folds the summaries of snapshots it drops —
    * without that fold, expiring the snapshot that carried an app's
    * newest batch id (routine when compaction's `replace` is the current
    * snapshot) would silently break exactly-once on a stream restart. */
  private[sources] def lastAppVersion(meta: JsonNode, appId: String): Option[Long] = {
    val vs = Option(meta.get("snapshots")).filterNot(_.isNull)
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .flatMap { s =>
        val sum = Option(s.get("summary")).filterNot(_.isNull)
        val app = sum.flatMap(x => Option(x.get("graft-app-id"))).map(_.asText())
        if (app.contains(appId))
          sum.flatMap(x => Option(x.get("graft-app-version"))).map(_.asText().toLong)
        else None
      }
    val folded = Option(meta.get("properties")).filterNot(_.isNull)
      .flatMap(p => Option(p.get(s"graft-ledger-$appId")))
      .map(_.asText().toLong)
    val all = vs ++ folded
    if (all.isEmpty) None else Some(all.max)
  }

  /** One partition-spec field: identity plus the spec's time/bucket/
    * truncate transforms (iceberg spec, Partition Transforms). `name` is
    * the spec's partition field name — defaults to upstream's
    * `<source>_<kind>` convention when parsed from a `partitionBy` string,
    * but preserved verbatim when read back from a table's spec. */
  private[sources] final case class PartField(name: String, source: String,
                                              kind: String, param: Int) {
    /** The spec serialization of the transform. */
    def transformStr: String = kind match {
      case "bucket" => s"bucket[$param]"
      case "truncate" => s"truncate[$param]"
      case k => k
    }
    /** Semantic identity for append-compatibility checks — engines may
      * name the same transform field differently. */
    def key: (String, String, Int) = (source, kind, param)
  }

  private val twoArgTransformRx = raw"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*([^,()]+?)\s*\)".r
  private val oneArgTransformRx = raw"([A-Za-z]+)\s*\(\s*([^,()]+?)\s*\)".r

  /** Parse one `partitionBy` element: a bare column name (identity),
    * `years|months|days|hours(col)`, `bucket(n,col)`, `truncate(w,col)`. */
  private[sources] def parsePartField(s: String): PartField = s.trim match {
    case twoArgTransformRx(kind, n, c) =>
      require(n.toInt > 0, s"IcebergWriter: $kind needs a positive argument in `$s`")
      PartField(s"${c}_${if (kind == "truncate") "trunc" else kind}", c, kind, n.toInt)
    case oneArgTransformRx(kind0, c) =>
      val kind = kind0.stripSuffix("s")
      require(Set("year", "month", "day", "hour").contains(kind),
        s"IcebergWriter: unknown partition transform `$kind0` in `$s` " +
          "(column | years|months|days|hours(col) | bucket(n,col) | truncate(w,col))")
      PartField(s"${c}_$kind", c, kind, 0)
    case c => PartField(c, c, "identity", 0)
  }

  /** The table's default partition spec as [[PartField]]s; a transform
    * this writer does not speak refuses the write. Resolves `source-id`
    * against the current schema (falling back to the partition field's own
    * name for specs that omit ids). */
  private[sources] def specPartFields(meta: JsonNode): Seq[PartField] = {
    val specId = Option(meta.get("default-spec-id")).filterNot(_.isNull)
      .map(_.asInt()).getOrElse(0)
    val fields: Seq[JsonNode] =
      Option(meta.get("partition-specs")).filterNot(_.isNull)
        .flatMap(_.elements().asScala.find(s =>
          Option(s.get("spec-id")).map(_.asInt()).getOrElse(0) == specId))
        .map(_.get("fields").elements().asScala.toSeq)
        .orElse(Option(meta.get("partition-spec")).filterNot(_.isNull)
          .map(_.elements().asScala.toSeq)) // legacy v1 top-level array
        .getOrElse(Seq.empty)
    if (fields.isEmpty) Seq.empty
    else {
      val idToName: Map[Int, String] =
        IcebergLoader.schemaNodeFor(meta, None).get("fields").elements().asScala
          .map(f => f.get("id").asInt() -> f.get("name").asText()).toMap
      val bucketRx = raw"bucket\[(\d+)\]".r
      val truncRx = raw"truncate\[(\d+)\]".r
      fields.map { f =>
        val name = Option(f.get("name")).map(_.asText()).getOrElse("")
        val source = Option(f.get("source-id")).filterNot(_.isNull)
          .flatMap(id => idToName.get(id.asInt())).getOrElse(name)
        f.get("transform").asText() match {
          case "identity" => PartField(name, source, "identity", 0)
          case t @ ("year" | "month" | "day" | "hour") => PartField(name, source, t, 0)
          case bucketRx(n) => PartField(name, source, "bucket", n.toInt)
          case truncRx(w) => PartField(name, source, "truncate", w.toInt)
          case other => throw new IllegalArgumentException(
            s"IcebergWriter does not support partition transform `$other`")
        }
      }
    }
  }

  /** The transform's result Spark type over this source type — the type
    * the `__p_` layout column, the hive-dir decode, and the manifest
    * partition record all share. Refuses unsupported (type, transform)
    * pairs loudly. Result types per spec: day -> date, year/month/hour/
    * bucket -> int, truncate/identity -> the source type. */
  private[sources] def transformResultType(pf: PartField, dt: DataType): DataType = {
    def refuse(): Nothing = throw new IllegalArgumentException(pf.kind match {
      case "identity" =>
        s"IcebergWriter cannot identity-partition on $dt column `${pf.source}` " +
          "(string / int-family / boolean / date only; time columns " +
          "partition via years|months|days|hours(col))"
      case _ =>
        s"IcebergWriter cannot apply ${pf.transformStr} to $dt column `${pf.source}`"
    })
    pf.kind match {
      case "identity" =>
        if (partitionAvroType(dt).isDefined) dt else refuse()
      case "day" => dt match {
        case DateType | TimestampType | TimestampNTZType => DateType
        case _ => refuse()
      }
      case "year" | "month" => dt match {
        case DateType | TimestampType | TimestampNTZType => IntegerType
        case _ => refuse()
      }
      case "hour" => dt match {
        case TimestampType | TimestampNTZType => IntegerType
        case _ => refuse()
      }
      case "bucket" => dt match {
        case ByteType | ShortType | IntegerType | LongType | DateType |
             TimestampType | TimestampNTZType | StringType => IntegerType
        case _ => refuse()
      }
      case "truncate" => dt match {
        // byte/short widen to int: iceberg's int is 32-bit, and the floor
        // arithmetic can leave the source range (truncate(5, -128:byte)
        // is -130 — a back-cast would silently wrap)
        case ByteType | ShortType | IntegerType => IntegerType
        case LongType => LongType
        case StringType => StringType
        case _ => refuse()
      }
      case other => throw new IllegalArgumentException(
        s"IcebergWriter: unknown transform kind `$other`")
    }
  }

  /** The transformed partition value as a Column over the source column.
    * Time transforms operate on micros-from-epoch with INTEGRAL floor
    * arithmetic (`x - pmod(x, unit) div unit` — double division would
    * misplace boundary values past 2^53 micros); bucket is the spec's
    * 32-bit Murmur3 over the single-value serialization; truncate is
    * floor-to-width (ints) / code-point prefix (strings). */
  private[sources] def transformColumn(pf: PartField, dt: DataType)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    require(!pf.source.contains("`"),
      s"IcebergWriter: partition source column name `${pf.source}` " +
        "may not contain a backquote")
    val src = col(s"`${pf.source}`")
    // micros from epoch for LTZ directly; NTZ casts via the (UTC-pinned)
    // session zone, making local-datetime micros = spec `timestamp` micros
    def usExpr = s"unix_micros(cast(`${pf.source}` as timestamp))"
    def floorDiv(e: String, d: Long) = s"((($e) - pmod(($e), ${d}L)) div ${d}L)"
    def dayExpr = dt match {
      case DateType => s"`${pf.source}`"
      case _ => s"date_from_unix_date(cast(${floorDiv(usExpr, 86400000000L)} as int))"
    }
    pf.kind match {
      case "identity" => src
      case "day" => expr(dayExpr)
      case "year" => expr(s"cast(year($dayExpr) - 1970 as int)")
      case "month" =>
        expr(s"cast((year($dayExpr) - 1970) * 12 + month($dayExpr) - 1 as int)")
      case "hour" => expr(s"cast(${floorDiv(usExpr, 3600000000L)} as int)")
      case "bucket" =>
        val n = pf.param
        dt match {
          case StringType =>
            val u = udf((s: String) => if (s == null) null
              else Int.box(bucketN(murmur3(s.getBytes("UTF-8")), n)))
            u(src)
          case _ =>
            val asLong: org.apache.spark.sql.Column = dt match {
              case DateType => expr(s"cast(unix_date(`${pf.source}`) as bigint)")
              case TimestampType | TimestampNTZType => expr(usExpr)
              case _ => src.cast("long")
            }
            val u = udf((v: java.lang.Long) => if (v == null) null
              else Int.box(bucketN(bucketHashLong(v), n)))
            u(asLong)
        }
      case "truncate" => dt match {
        case StringType => substring(src, 1, pf.param)
        case _ => (src.cast("long") - pmod(src.cast("long"), lit(pf.param.toLong)))
          .cast(transformResultType(pf, dt)) // int-family widens to int
      }
      case other => throw new IllegalArgumentException(
        s"IcebergWriter: unknown transform kind `$other`")
    }
  }

  /** Standard 32-bit Murmur3 (x86 variant, seed 0) — the hash the iceberg
    * spec's bucket transform mandates (Appendix B). Spark's own
    * Murmur3Hash expression hashes string TAILS differently, so this is a
    * faithful from-scratch implementation validated against the spec's
    * published test vectors (bucket(34)=2017239379 etc). */
  private[sources] def murmur3(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0
    val n = data.length
    var i = 0
    while (i + 4 <= n) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    val rem = n - i
    if (rem == 3) k ^= (data(i + 2) & 0xff) << 16
    if (rem >= 2) k ^= (data(i + 1) & 0xff) << 8
    if (rem >= 1) {
      k ^= data(i) & 0xff
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= n
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    h
  }

  /** Bucket hash of an int/long/date/timestamp value: murmur3 of the
    * 8-byte little-endian representation (spec: all integral types widen
    * to long before hashing, so bucket(34:int) == bucket(34L)). */
  private[sources] def bucketHashLong(v: Long): Int = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    murmur3(b)
  }

  /** The spec's bucket partition value: `(hash & Int.MaxValue) % n`. */
  private[sources] def bucketN(hash: Int, n: Int): Int = (hash & Int.MaxValue) % n

  /** Avro schema fragment for an identity partition value of this Spark
    * type; None = unsupported as a partition key. Dates ride as epoch-day
    * ints (the graft manifest subset does not annotate logical types). */
  private def partitionAvroType(dt: DataType): Option[String] = dt match {
    case StringType => Some("\"string\"")
    case ByteType | ShortType | IntegerType => Some("\"int\"")
    case LongType => Some("\"long\"")
    case BooleanType => Some("\"boolean\"")
    case DateType => Some("\"int\"")
    case _ => None
  }

  /** Decode one hive-escaped partition-dir value back to the typed value
    * the manifest records (null for the hive default-partition marker). */
  private[sources] def decodePartitionValue(raw: String, dt: DataType): Any = {
    val s = PartitionLayout.unescape(raw).getOrElse(return null)
    dt match {
      case StringType => s
      case ByteType | ShortType | IntegerType => Int.box(s.toInt)
      case LongType => Long.box(s.toLong)
      case BooleanType => Boolean.box(s.toBoolean)
      case DateType => Int.box(java.time.LocalDate.parse(s).toEpochDay.toInt)
      case other => throw new IllegalArgumentException(
        s"IcebergWriter: unsupported partition value type $other")
    }
  }

  /** The manifest-entry schema: a spec-typed nullable `partition` record
    * when the table is partitioned, plus the spec's per-column stats
    * fields (null_value_counts and the k-v bytes lower/upper bounds). */
  private[sources] def manifestSchemaFor(partFields: Seq[(String, DataType)]): Schema = {
    val partition =
      if (partFields.isEmpty) ""
      else {
        val fields = partFields.map { case (c, dt) =>
          s"""{"name":${mapper.writeValueAsString(c)},"type":["null",${
            partitionAvroType(dt).get}],"default":null}"""
        }.mkString(",")
        s"""{"name":"partition","type":{"type":"record","name":"r102","fields":[$fields]}},"""
      }
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  $partition
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"},
        |  {"name":"null_value_counts","type":["null",{"type":"array","items":
        |    {"type":"record","name":"k_v_long","fields":[
        |      {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
        |   "default":null},
        |  {"name":"lower_bounds","type":["null",{"type":"array","items":
        |    {"type":"record","name":"k_v_bytes","fields":[
        |      {"name":"key","type":"int"},{"name":"value","type":"bytes"}]}}],
        |   "default":null},
        |  {"name":"upper_bounds","type":["null",{"type":"array","items":"k_v_bytes"}],
        |   "default":null}]}}]}""".stripMargin)
  }

  /** The [[ColumnIndex.Zone]] kind this Spark type's iceberg single-value
    * serialization speaks; None = bounds not emitted for the type. */
  private[sources] def boundsKind(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case FloatType | DoubleType => Some("double")
    case StringType => Some("string")
    case DateType => Some("date")
    case TimestampType | TimestampNTZType => Some("tsus")
    case _ => None
  }

  /** One bound in the spec's single-value binary serialization
    * (little-endian numerics, raw UTF-8 strings). */
  private[sources] def boundsBytes(dt: DataType, z: ColumnIndex.Zone,
                                   isMin: Boolean): Option[java.nio.ByteBuffer] = {
    def le(n: Int) = java.nio.ByteBuffer.allocate(n)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = dt match {
      case ByteType | ShortType | IntegerType =>
        Some(le(4).putInt((if (isMin) z.minL else z.maxL).toInt))
      case LongType => Some(le(8).putLong(if (isMin) z.minL else z.maxL))
      case DateType => Some(le(4).putInt((if (isMin) z.minL else z.maxL).toInt))
      case TimestampType | TimestampNTZType =>
        Some(le(8).putLong(if (isMin) z.minL else z.maxL))
      case FloatType => Some(le(4).putFloat((if (isMin) z.minD else z.maxD).toFloat))
      case DoubleType => Some(le(8).putDouble(if (isMin) z.minD else z.maxD))
      case StringType =>
        val s = if (isMin) z.minS else z.maxS
        Some(java.nio.ByteBuffer.wrap(s.getBytes("UTF-8")))
      case _ => None
    }
    out.map { b => b.rewind(); b }
  }

  /** The current snapshot's manifest-list entries as
    * (path, length, content, seq, addedSnapshotId, specId). */
  private[sources] def currentManifestList(fs: FileSystem, meta: JsonNode, dir: String)
      : Seq[(String, Long, Int, Option[Long], Long, Int)] = {
    val curId = Option(meta.get("current-snapshot-id")).filterNot(_.isNull)
      .map(_.asLong()).filter(_ != -1L)
    val snap = curId.flatMap { id =>
      Option(meta.get("snapshots")).filterNot(_.isNull)
        .flatMap(_.elements().asScala.find(_.get("snapshot-id").asLong() == id))
    }
    // the manifest-list path is RECORDED-location spelling — remap to the
    // directory in use before reading (relocated tables; review finding);
    // entries return VERBATIM (recorded) and callers remap when reading
    val remap = IcebergLoader.pathRemapper(meta, dir)
    snap.toSeq.flatMap { s =>
      val ml = Option(s.get("manifest-list")).filterNot(_.isNull).map(_.asText())
      ml.toSeq.flatMap { path =>
        IcebergLoader.readAvro(fs, new HPath(remap(path))).map { r =>
          (String.valueOf(r.get("manifest_path")),
            Option(r.get("manifest_length")).map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
            Option(r.get("content")).map(_.asInstanceOf[Number].intValue()).getOrElse(0),
            Option(r.get("sequence_number")).map(_.asInstanceOf[Number].longValue()),
            Option(r.get("added_snapshot_id")).map(_.asInstanceOf[Number].longValue()).getOrElse(0L),
            Option(r.get("partition_spec_id")).map(_.asInstanceOf[Number].intValue()).getOrElse(0))
        }
      }
    }
  }

  private def readBytes(fs: FileSystem, p: HPath): Array[Byte] = {
    val in = fs.open(p)
    try in.readAllBytes() finally in.close()
  }

  private[sources] def writeAvro(fs: FileSystem, schema: Schema, recs: Seq[GenericRecord],
                        target: HPath): Unit = {
    val out = new java.io.ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out)
    recs.foreach(w.append)
    w.close()
    val os = fs.create(target, false)
    try os.write(out.toByteArray) finally os.close()
  }

  /** Spark schema -> Iceberg struct JSON with field-ids assigned
    * depth-first from `startId + 1`; returns (json, lastAssignedId). */
  private[sources] def icebergSchemaJson(schema: StructType, schemaId: Int,
                                         startId: Int): (String, Int) = {
    var next = startId
    def id(): Int = { next += 1; next }
    def typeJson(dt: DataType): String = dt match {
      case BooleanType => "\"boolean\""
      case IntegerType | ShortType | ByteType => "\"int\""
      case LongType => "\"long\""
      case FloatType => "\"float\""
      case DoubleType => "\"double\""
      case DateType => "\"date\""
      case TimestampType => "\"timestamptz\""
      case TimestampNTZType => "\"timestamp\""
      case StringType => "\"string\""
      case BinaryType => "\"binary\""
      case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
      case s: StructType =>
        val fields = s.fields.map { f =>
          val fid = id()
          val t = typeJson(f.dataType) // evaluate AFTER the field's own id
          s"""{"id":$fid,"name":${jstr(f.name)},"required":${!f.nullable},"type":$t}"""
        }
        fields.mkString("""{"type":"struct","fields":[""", ",", "]}")
      case a: ArrayType =>
        val eid = id()
        val t = typeJson(a.elementType)
        s"""{"type":"list","element-id":$eid,"element":$t,"element-required":${!a.containsNull}}"""
      case m: MapType =>
        val kid = id(); val kt = typeJson(m.keyType)
        val vid = id(); val vt = typeJson(m.valueType)
        s"""{"type":"map","key-id":$kid,"key":$kt,"value-id":$vid,"value":$vt,"value-required":${!m.valueContainsNull}}"""
      case other => throw new IllegalArgumentException(
        s"IcebergWriter: no iceberg type for $other")
    }
    val fields = schema.fields.map { f =>
      val fid = id()
      val t = typeJson(f.dataType)
      s"""{"id":$fid,"name":${jstr(f.name)},"required":${!f.nullable},"type":$t}"""
    }
    (fields.mkString(
      s"""{"type":"struct","schema-id":$schemaId,"fields":[""", ",", "]}"),
      next)
  }

  private def jstr(s: String): String = mapper.writeValueAsString(s)
}
