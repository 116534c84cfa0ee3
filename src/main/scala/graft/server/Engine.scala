package graft.server

import java.util.concurrent.{ConcurrentHashMap, Executors, ScheduledExecutorService, ScheduledFuture, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.frontend.{GraphQl, RestQuery}
import graft.sources.{Loaders, TableSource}

/** The engine handle: named tables + KV stores over one SparkSession.
  *
  * Spark-native analogue of ColumnQ (reference: columnq/src/columnq.rs:36-44):
  * `SessionContext` -> SparkSession, `schema_map` -> the catalog's temp views,
  * per-table refresh tasks -> a scheduler re-running `createOrReplaceTempView`
  * (snapshot swap, exactly the reference's reload semantics — no streaming).
  */
final class Engine(val spark: SparkSession, val readOnly: Boolean = true,
                   /** Dataset root the `/api/pipeline` catalog queries read
                     * when the request names no `dir` (e.g. a testdata sf
                     * directory); None = the route requires an explicit dir. */
                   val pipelineDir: Option[String] = None,
                   /** Default response encoding when a request carries no
                     * (or an unknown) ACCEPT header — the reference's
                     * `response_format` config key (roapi/src/config.rs,
                     * default Json). */
                   val responseFormat: graft.encoding.Encoders.ContentType =
                     graft.encoding.Encoders.Json,
                   /** Server-wide default refresh cadence for tables that
                     * declare none of their own — the reference's top-level
                     * `reload_interval` (columnq.rs:191:
                     * `t.reload_interval.or(self.reload_interval)`). */
                   val defaultReloadSec: Option[Long] = None,
                   /** HTTP authentication layer (the reference's unshipped
                     * roadmap item, README.md:334) — Basic users and/or
                     * Bearer tokens; both empty = open (the reference's
                     * shipped behavior). Enforced on every HTTP route
                     * except `/health` and CORS preflight; FlightSQL keeps
                     * its own handshake auth, pg stays trust-mode like the
                     * reference. */
                   val httpAuthBasic: Map[String, String] = Map.empty,
                   val httpAuthBearer: Set[String] = Set.empty) {

  // ---- HTTP auth -----------------------------------------------------------

  def authEnabled: Boolean = httpAuthBasic.nonEmpty || httpAuthBearer.nonEmpty

  /** Does this Authorization header value authenticate? (`Basic b64(u:p)`
    * against the user map, `Bearer t` against the token set; scheme names
    * case-insensitive per RFC 7235.) */
  /** Constant-time secret comparison (MessageDigest.isEqual) — plain
    * String.equals short-circuits at the first differing byte, leaking
    * credential prefixes through response timing (review finding). */
  private def secretEq(a: String, b: String): Boolean =
    java.security.MessageDigest.isEqual(a.getBytes("UTF-8"), b.getBytes("UTF-8"))

  private[server] def authorize(header: Option[String]): Boolean =
    !authEnabled || header.exists { h =>
      val t = h.trim
      if (t.regionMatches(true, 0, "Basic ", 0, 6)) {
        try {
          val dec = new String(
            java.util.Base64.getDecoder.decode(t.substring(6).trim), "UTF-8")
          val i = dec.indexOf(':')
          i > 0 && httpAuthBasic.get(dec.substring(0, i))
            .exists(secretEq(_, dec.substring(i + 1)))
        } catch { case _: IllegalArgumentException => false }
      } else if (t.regionMatches(true, 0, "Bearer ", 0, 7)) {
        val tok = t.substring(7).trim
        httpAuthBearer.exists(secretEq(_, tok))
      } else false
    }

  private val tables = new ConcurrentHashMap[String, TableSource]()
  private val kvDefs = new ConcurrentHashMap[String, KvStore]()
  // One refresh task per table/KV name; cancelled on drop or re-register so a
  // dropped table is never resurrected by a stale tick and re-registering the
  // same name cannot leak a duplicate task.
  private val refreshTasks = new ConcurrentHashMap[String, ScheduledFuture[_]]()

  private def cancelRefresh(name: String): Unit =
    Option(refreshTasks.remove(name)).foreach(_.cancel(false))
  private val scheduler: ScheduledExecutorService =
    Executors.newScheduledThreadPool(1, r => {
      val t = new Thread(r, "graft-refresh"); t.setDaemon(true); t
    })

  // ---- table lifecycle -----------------------------------------------------

  def registerTable(src: TableSource): Unit = {
    cancelRefresh(src.name)
    overCapTables.remove(src.name) // explicit re-register re-probes size
    sidecarSynced.remove(src.name) // re-reconcile the sidecar once

    // a re-register under a NEW uri must release the OLD dir's index claim
    // (the resolved branches below only touch the new uri; review finding)
    Option(tables.get(src.name)).filter(_.uri != src.uri).foreach { old =>
      colIndexes.remove(src.name)
      graft.sources.ColumnIndexRegistry.release(qualifiedDir(old.uri), src.name)
    }
    registerResolvedTracked(src)
    tables.put(src.name, src)
    invalidatePlansAndPools()
    // per-table interval wins; the engine-wide default covers the rest
    // (reference: t.reload_interval.or(self.reload_interval))
    src.reloadIntervalSec.orElse(defaultReloadSec).foreach { sec =>
      val task = scheduler.scheduleAtFixedRate(
        () =>
          try refreshTick(src)
          catch { case e: Throwable =>
            System.err.println(s"[refresh] ${src.name}: ${e.getMessage}") },
        sec, sec, TimeUnit.SECONDS)
      refreshTasks.put(src.name, task)
    }
  }

  // ---- O(delta) refresh ------------------------------------------------------
  // The reference's reload loop swaps the WHOLE snapshot every tick
  // (roapi/src/startup.rs:75-82). For versioned table formats this engine
  // owns the change channels, so a tick is upgraded to (round-19 verdict
  // #3): a cheap metadata probe (unchanged upstream = zero re-plan, warm
  // caches), a row-level delta APPLY onto the pinned-local relation for
  // small tables (Delta CDF / Iceberg appends — O(changed rows), never a
  // snapshot re-read), and the reference's snapshot swap as the universal
  // fallback (distributed serving, refused ranges, non-versioned formats).

  /** Per-table refresh telemetry: unchanged-probe ticks, row-level delta
    * applies, and full snapshot swaps. */
  final case class RefreshStats(noopTicks: Long, deltaApplied: Long,
                                snapshotSwaps: Long)
  private final class RefreshState {
    /** Last upstream position the served view reflects: Delta version or
      * Iceberg snapshot id; MinValue = unknown (never probed). */
    @volatile var cursor: Long = Long.MinValue
    /** A writer raced the register between probes — the view holds some
      * in-between state, so the next tick must swap, never delta-apply. */
    @volatile var mustSwap: Boolean = false
    val noop = new java.util.concurrent.atomic.AtomicLong(0)
    val applied = new java.util.concurrent.atomic.AtomicLong(0)
    val swaps = new java.util.concurrent.atomic.AtomicLong(0)
  }
  private val refreshStates = new ConcurrentHashMap[String, RefreshState]()
  // the pinned-local rows, retained so a delta tick can update them
  // without re-reading the snapshot (bounded by localServeRowCap)
  private val pinnedRows =
    new ConcurrentHashMap[String, (StructType, Array[org.apache.spark.sql.Row])]()

  def refreshStats(name: String): RefreshStats = {
    val st = refreshStates.get(name)
    if (st == null) RefreshStats(0, 0, 0)
    else RefreshStats(st.noop.get, st.applied.get, st.swaps.get)
  }

  /** The upstream change cursor of a versioned format (None = format has
    * no cheap probe; every tick swaps, the pre-round-20 behavior). */
  private def probeCursor(src: TableSource): Option[Long] =
    src.resolvedFormat match {
      case "delta" =>
        Some(graft.sources.DeltaLoader.latestVersion(spark, src.uri))
      case "iceberg" =>
        Some(graft.sources.IcebergIncremental.currentSnapshotId(spark, src.uri))
      case _ => None
    }

  /** [[registerResolved]] plus exact cursor accounting: the cursor is
    * trusted only when the probe reads the SAME position before and
    * after the register — a writer landing in between leaves the view in
    * a state the probes cannot name, so the next tick swaps instead of
    * risking a double-applied delta. */
  private def registerResolvedTracked(src: TableSource): Unit = {
    val st = refreshStates.computeIfAbsent(src.name, _ => new RefreshState)
    probeCursor(src) match {
      case None => registerResolved(src)
      case Some(before) =>
        registerResolved(src)
        val after = probeCursor(src).getOrElse(before)
        st.cursor = after
        st.mustSwap = after != before
    }
  }

  /** One refresh tick. Public to the package for specs and manual
    * refresh; the scheduler calls it per `reload_interval`. */
  private[graft] def refreshTick(src: TableSource): Unit = {
    val st = refreshStates.computeIfAbsent(src.name, _ => new RefreshState)
    val current =
      try probeCursor(src)
      catch { case scala.util.control.NonFatal(_) => None }
    current match {
      case Some(cur) if !st.mustSwap && st.cursor != Long.MinValue &&
          cur == st.cursor =>
        // nothing changed upstream: zero re-plan, plan/result caches stay
        // warm — the tick costs one metadata read
        st.noop.incrementAndGet(); ()
      case Some(cur) if !st.mustSwap && st.cursor != Long.MinValue &&
          pinnedRows.containsKey(src.name) =>
        try {
          applyDeltaToPinned(src, st, cur)
          st.applied.incrementAndGet()
          invalidatePlans()
        } catch {
          case scala.util.control.NonFatal(_) =>
            // refused range (eq-deletes without opt-in, retired log,
            // schema change, non-append snapshot, grew past the pin cap,
            // cache drift) -> the reference's snapshot swap
            registerResolvedTracked(src)
            st.swaps.incrementAndGet()
            invalidatePlans()
        }
      case _ =>
        registerResolvedTracked(src)
        st.swaps.incrementAndGet()
        invalidatePlans()
    }
  }

  /** Apply the row-level delta (cursor, to] to the pinned-local rows —
    * multiset semantics in commit order: delete/update_preimage rows
    * remove ONE matching occurrence, insert/update_postimage rows add
    * one. Reads ONLY the changed files (the incremental readers' own
    * guarantee); throws to the swap fallback on anything it cannot
    * prove — a delete for a row the cache lacks, a delta too large for
    * a pinned table, an Iceberg range that is not append-only. */
  private def applyDeltaToPinned(src: TableSource, st: RefreshState,
                                 to: Long): Unit = {
    val (schema, oldRows) = pinnedRows.get(src.name)
    val bound = localServeRowCap * 3 + 3
    val dataCols = schema.fieldNames.toSeq.map(n =>
      org.apache.spark.sql.functions.col(s"`$n`"))
    // upstream SCHEMA evolution — even additive — must surface through a
    // snapshot swap, never a pinned relation silently serving the stale
    // shape (the incremental reads return the range-END schema, so a
    // column-set mismatch with the cached schema is the drift signal)
    def requireSameShape(got: Seq[String]): Unit =
      require(got == schema.fieldNames.toSeq,
        s"${src.name}: upstream schema changed " +
          s"(${got.mkString(",")} vs cached); swapping")
    val changes: Array[org.apache.spark.sql.Row] = src.resolvedFormat match {
      case "delta" =>
        val raw = graft.sources.DeltaCdf.loadChanges(
          spark, src.uri, st.cursor, Some(to))
        requireSameShape(raw.columns.toSeq.dropRight(3))
        raw.select(dataCols :+
            org.apache.spark.sql.functions.col("_change_type") :+
            org.apache.spark.sql.functions.col("_commit_version"): _*)
          .limit(bound + 1).collect()
      case "iceberg" =>
        // appendsBetween REFUSES non-append snapshots -> swap fallback
        val raw = graft.sources.IcebergIncremental.appendsBetween(
          spark, src.uri, st.cursor, Some(to))
        requireSameShape(raw.columns.toSeq)
        raw.select(dataCols: _*)
          .limit(bound + 1).collect()
          .map(r => org.apache.spark.sql.Row.fromSeq(
            r.toSeq :+ "insert" :+ 0L))
      case other => throw new IllegalStateException(
        s"no delta-apply path for format `$other`")
    }
    require(changes.length <= bound,
      s"delta of ${src.name} exceeds the pinned-apply bound; swapping")
    val n = schema.fields.length
    val counts = scala.collection.mutable.HashMap.empty[Seq[Any], Int]
    oldRows.foreach { r =>
      val k = r.toSeq; counts.update(k, counts.getOrElse(k, 0) + 1)
    }
    changes.groupBy(_.getLong(n + 1)).toSeq.sortBy(_._1).foreach {
      case (_, ofVersion) =>
        val (dels, ins) = ofVersion.partition(r =>
          r.getString(n) == "delete" || r.getString(n) == "update_preimage")
        dels.foreach { d =>
          val k = d.toSeq.take(n)
          val c = counts.getOrElse(k, 0)
          require(c > 0, s"delta apply: ${src.name} delete pre-image not in " +
            "the cached relation (cache drift); swapping")
          if (c == 1) counts.remove(k) else counts.update(k, c - 1)
        }
        ins.foreach { i =>
          val k = i.toSeq.take(n)
          counts.update(k, counts.getOrElse(k, 0) + 1)
        }
    }
    val total = counts.valuesIterator.sum
    require(total <= localServeRowCap,
      s"${src.name} grew past the pin cap under delta refresh; swapping")
    val rows = counts.iterator.flatMap { case (k, c) =>
      Iterator.fill(c)(org.apache.spark.sql.Row.fromSeq(k))
    }.toArray
    val local = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    local.createOrReplaceTempView(src.name)
    pinnedRows.put(src.name, (schema, rows))
    st.cursor = to
  }

  /** Rows below which a registered table is re-pinned as a driver-LOCAL
    * relation — the reference's MemTable model (tables load into memory at
    * registration) applied where it pays: Catalyst constant-folds
    * filter/project over a LocalRelation, so an AD-HOC (cache-missing)
    * query against a small table skips the scan job entirely — measured
    * ~49 ms of per-cold-query executeCollect collapsing to ~1 ms. Big
    * tables keep their distributed scans (this is a serving-side lookup-
    * table optimization, not a data-engine mode); `use_memory_table=false`
    * opts a table out — the reference option with the reference meaning
    * (columnq's `use_memory_table: false` serves straight from the backing
    * store). `take(cap + 1)` bounds the probe so deciding costs one small
    * read, never a full scan. */
  private val localServeRowCap = 10000

  // Tables that already exceeded the cap once: a refresh tick skips the
  // (cap+1)-row probe for them — paying a 10001-row scan job per tick per
  // big table just to re-decide "don't pin" was pure waste (round-12
  // advice). The pin is an optimization, never a correctness gate, so the
  // one-way latch is safe: a table that SHRINKS below the cap serves
  // distributed until an explicit re-register (which clears the latch).
  private val overCapTables = ConcurrentHashMap.newKeySet[String]()

  // Zone-map column indexes (the reference's "column index" roadmap box,
  // README.md:296): parquet tables registered with `index_columns=a,b`
  // harvest per-file min/max footer stats once per (re)load; filtered REST
  // queries then plan over only the files that can match. Rebuilt on every
  // refresh tick alongside the table itself, dropped with the table.
  private val colIndexes =
    new ConcurrentHashMap[String, graft.sources.ColumnIndex.Index]()
  // tables whose sidecar has been reconciled since the last EXPLICIT
  // register — refresh ticks for members diff in memory, no disk read
  private val sidecarSynced = ConcurrentHashMap.newKeySet[String]()

  /** The registered index for a table, if any. Prefers the REGISTRY's
    * entry for the table's dir: table-format writers refresh that entry
    * on commit ([[graft.sources.ColumnIndexRegistry.refreshFromCommit]]),
    * so engine-side pruning sees the new files' zones without waiting for
    * a refresh tick. Falls back to the registration-time index (same
    * object unless a writer committed since). */
  private[graft] def columnIndex(name: String): Option[graft.sources.ColumnIndex.Index] =
    Option(colIndexes.get(name)).map { own =>
      Option(tables.get(name))
        .flatMap(t => graft.sources.ColumnIndexRegistry.lookup(qualifiedDir(t.uri)))
        .getOrElse(own)
    }

  /** The `use_memory_table=false` opt-out, tri-state: typed field first,
    * then the raw option parsed case-insensitively (round-12 advice). One
    * shared definition — the pin decision and the index-pruning gate must
    * never desynchronize (review finding). */
  private def memOptOut(src: TableSource): Boolean =
    src.memTable.orElse(
      src.options.get("use_memory_table")
        .flatMap(v => scala.util.Try(v.trim.toBoolean).toOption))
      .contains(false)

  private def registerResolved(src: TableSource): Unit = {
    val df = Loaders.register(spark, src)
    pinnedRows.remove(src.name)
    if (!memOptOut(src) && !overCapTables.contains(src.name)) {
      val head = df.take(localServeRowCap + 1)
      if (head.length <= localServeRowCap) {
        val local = spark.createDataFrame(
          java.util.Arrays.asList(head: _*), df.schema)
        local.createOrReplaceTempView(src.name)
        // retained so a versioned-format refresh tick can APPLY the
        // row-level delta instead of re-reading the snapshot
        pinnedRows.put(src.name, (df.schema, head))
      } else overCapTables.add(src.name)
    }
    // Column index AFTER the pin decision: only distributed-served tables
    // can ever consult it — a pinned-local table would pay the footer job
    // on every refresh tick for nothing (review finding). Re-registration
    // without the option (or with a format that can't index) must also
    // DROP any previous index, or stale pruning would serve the old files.
    val wantIndex = src.options.get("index_columns")
      .filter(_ => Set("parquet", "delta", "iceberg")(src.resolvedFormat) &&
        (memOptOut(src) || overCapTables.contains(src.name)))
    wantIndex match {
      case Some(cs) =>
        // ';' or ',' separated — the CLI table-URI grammar reserves ',' for
        // option boundaries, so its users write `index_columns=a;b`.
        // Passing the previous index makes refresh ticks incremental:
        // only files new since the last tick are harvested.
        val idxCols =
          cs.split(Array(',', ';')).toIndexedSeq.map(_.trim).filter(_.nonEmpty)
        // Delta/Iceberg tables index from their OWN metadata (add.stats /
        // manifest bounds) — zero footer reads, and no sidecar machinery
        // either: the zones already persist in the table's transaction
        // log, so the prev/fromDisk/persist plumbing below is
        // parquet-only (review finding: running it per tick for metadata
        // indexes probed a never-written sidecar forever)
        val idx = src.resolvedFormat match {
          case "delta" =>
            graft.sources.ColumnIndex.buildFromDelta(spark, src.uri, idxCols)
          case "iceberg" =>
            graft.sources.ColumnIndex.buildFromIceberg(spark, src.uri, idxCols)
          case _ =>
            // opt-in sidecar persistence: restarts reload zones and
            // harvest only changed files (the sidecar lives in the table
            // dir like a _delta_log — writing into users' data uninvited
            // stays off)
            val persist = src.options.get("index_persist")
              .flatMap(v => scala.util.Try(v.trim.toBoolean).toOption)
              .contains(true)
            val prevMem = Option(colIndexes.get(src.name))
            // consult the disk sidecar on the FIRST resolve after an
            // explicit register (covers enabling persist on a known
            // table: the memory index is fresh, but the sidecar may not
            // exist yet); steady refresh ticks skip the disk read and
            // diff against memory
            val firstSync = persist && !sidecarSynced.contains(src.name)
            val fromDisk =
              if (firstSync) graft.sources.ColumnIndex.load(spark, src.uri, idxCols)
              else None
            val built = graft.sources.ColumnIndex.build(
              spark, src.uri, idxCols, prevMem.orElse(fromDisk))
            if (persist) {
              def fileSet(i: graft.sources.ColumnIndex.Index) =
                i.files.map(f => (f.path, f.sig)).toSet
              val changed =
                if (firstSync) !fromDisk.exists(d => fileSet(d) == fileSet(built))
                else built.reusedFiles < built.fileCount || // new/changed files
                  prevMem.exists(p => fileSet(p) != fileSet(built)) // deletions
              if (changed) graft.sources.ColumnIndex.save(spark, built)
              sidecarSynced.add(src.name)
            }
            built
        }
        colIndexes.put(src.name, idx)
        // the SQL frontend prunes through IndexPruneRule, which sees only
        // the scan's qualified root path — keep the registry in lock-step
        graft.sources.ColumnIndexRegistry.register(
          qualifiedDir(src.uri), idx, src.name)
      case None =>
        colIndexes.remove(src.name)
        graft.sources.ColumnIndexRegistry.release(qualifiedDir(src.uri), src.name)
    }
  }

  /** `src.uri` as the optimizer sees a scan's root path (fs-qualified) —
    * ONE definition shared with the writers' commit hook, or the refresh
    * would key on a different string than the registration. */
  private def qualifiedDir(uri: String): String =
    graft.sources.ColumnIndexRegistry.qualify(spark, uri)

  def dropTable(name: String): Unit = {
    cancelRefresh(name)
    overCapTables.remove(name)
    colIndexes.remove(name)
    sidecarSynced.remove(name)
    pinnedRows.remove(name)
    refreshStates.remove(name)
    Option(tables.remove(name)).foreach(src =>
      graft.sources.ColumnIndexRegistry.release(qualifiedDir(src.uri), name))
    spark.catalog.dropTempView(name)
    invalidatePlansAndPools()
  }

  def tableNames: Seq[String] = tables.keys.asScala.toSeq.sorted

  def knownSource(name: String): Option[TableSource] = Option(tables.get(name))

  // ---- queries -------------------------------------------------------------

  // ---- analyzed-plan cache -------------------------------------------------
  // The reference caches prepared logical plans per statement handle
  // (roapi/src/server/flight_sql.rs:109-110,820-857); here repeated SQL text
  // skips re-parse/re-analysis via a bounded LRU. Entries pin the plan's view
  // resolution, so ANY registry change (register/drop/refresh tick) clears the
  // cache — staleness is impossible, the worst case is a re-analysis.
  private val planCacheSize = 128
  private val planCache =
    new java.util.LinkedHashMap[String, CachedPlan](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, CachedPlan]): Boolean =
        size > planCacheSize
    }

  /** A plan-cache entry. A folded or pinned statement (every leaf, subquery
    * plans included, a driver-local relation) is served as the same
    * DataFrame on every hit. A distributed one keeps only its analyzed plan
    * and each hit gets a fresh, unexecuted DataFrame over it: an executed
    * DataFrame holds its AQE stages, shuffle dependencies and broadcast
    * relations, which a full cache of ad-hoc statements would keep alive. */
  private final case class CachedPlan(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
      shared: Option[DataFrame]) {
    def serve(): DataFrame =
      shared.getOrElse(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, analyzed))
  }
  private def cachedPlan(df: DataFrame): CachedPlan = {
    import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, OneRowRelation}
    val analyzed = df.queryExecution.analyzed
    val local = analyzed.collectWithSubqueries { case l: LeafNode => l }
      .forall(l => l.isInstanceOf[LocalRelation] || l.isInstanceOf[OneRowRelation])
    CachedPlan(analyzed, Some(df).filter(_ => local))
  }
  /** Spec hook: how many querySql calls reused a cached plan. */
  private[server] val planCacheHits = new java.util.concurrent.atomic.AtomicLong(0)
  // epoch fences the analyze-outside-the-lock window: a DDL/registry clear
  // bumps it, and a concurrent put whose analysis STARTED before the clear
  // is dropped instead of inserting a permanently stale plan
  private val planEpoch = new java.util.concurrent.atomic.AtomicLong(0)
  private def invalidatePlans(): Unit = planCache.synchronized {
    planEpoch.incrementAndGet()
    planCache.clear()
    resultCache.synchronized { resultCache.clear(); resultBytes = 0L }
  }

  // ---- encoded-result cache ------------------------------------------------
  // Registered tables are immutable snapshots between registry changes (the
  // reference's MemTable model), so a repeated identical SQL request can be
  // answered from the previously ENCODED bytes — the ms-class serving path
  // (no job, no collect, no re-encode). Safety mirrors the plan cache:
  //   - same epoch fence, cleared by every registry change/refresh tick;
  //   - only plans `cacheablePlan` admits (no commands, no rand/now);
  //   - information_schema bypasses (snapshot-per-call semantics);
  //   - per-entry and total byte budgets — an unbounded result never evicts
  //     the small hot ones, it just doesn't cache.
  private val resultTotalCapBytes = 64L << 20
  private var resultBytes = 0L
  private val resultCache =
    new java.util.LinkedHashMap[(String, String), Array[Byte]](16, 0.75f, true)
  /** Spec hook: how many requests were answered from encoded bytes. */
  private[server] val resultCacheHits = new java.util.concurrent.atomic.AtomicLong(0)

  private[server] def resultEpoch: Long = planEpoch.get()

  private[server] def lookupResult(sql: String, mime: String): Option[Array[Byte]] = {
    val hit = resultCache.synchronized(Option(resultCache.get((sql, mime))))
    hit.foreach(_ => resultCacheHits.incrementAndGet())
    hit
  }

  /** Cacheability of a request's response, decided ONCE per miss at the
    * route layer: never an information_schema rewrite (snapshot-per-call),
    * never a plan `cacheablePlan` rejects (commands, rand()/now()). */
  private[server] def shouldCacheResult(key: String, df: DataFrame): Boolean =
    rewriteInformationSchema(key) == key && cacheablePlan(df)

  /** Offer an encoded response for caching; refused quietly when the bytes
    * exceed the entry cap or the epoch moved during execution. Callers
    * gate on [[shouldCacheResult]] first. */
  private[server] def offerResult(key: String, mime: String,
                                  bytes: Array[Byte], epoch: Long): Unit =
    if (bytes.length <= Engine.resultEntryCapBytes)
      resultCache.synchronized {
        if (planEpoch.get() == epoch && !resultCache.containsKey((key, mime))) {
          resultCache.put((key, mime), bytes)
          resultBytes += bytes.length
          val it = resultCache.entrySet().iterator()
          while (resultBytes > resultTotalCapBytes && it.hasNext) {
            resultBytes -= it.next().getValue.length
            it.remove()
          }
        }
      }
  /** Registry changes additionally orphan the pipeline operators' pooled
    * corpus intermediates (postings, signatures) — release those too. NOT
    * called per command/refresh tick: a client spamming SET/EXPLAIN must
    * not thrash corpus caches out from under running similarity queries. */
  private def invalidatePlansAndPools(): Unit = {
    invalidatePlans()
    graft.queries.PipelineOps.releasePlanCaches()
  }

  // ---- per-request FAIR pools ----------------------------------------------
  // With spark.scheduler.mode=FAIR (GraftSession), jobs in DIFFERENT pools
  // share task slots fairly; jobs in one pool still FIFO. Each request gets
  // a pool off a bounded rotation (Spark never destroys pools, so unique
  // per-request names would leak scheduler state — 32 names bound that
  // while keeping concurrent requests in distinct pools in practice).
  private val reqPoolSeq = new java.util.concurrent.atomic.AtomicLong(0)
  private[server] def nextRequestPool(): String =
    "graft-req-" + (reqPoolSeq.getAndIncrement() & 31)

  /** Run `body` with this thread's Spark jobs assigned to `pool`; restores
    * the previous assignment after (transport threads are pooled — a stale
    * local property would leak the pool onto unrelated requests). */
  def withRequestPool[T](pool: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try body
    finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** SQL entry. `information_schema.tables` / `.columns` are served like the
    * reference's DataFusion `with_information_schema(true)` catalog
    * (columnq-cli/src/main.rs:93-94): Spark has no such schema, so references
    * are rewritten onto on-demand temp views built from the registry. */
  def querySql(sql: String): DataFrame = {
    val rewritten = rewriteInformationSchema(sql)
    if (rewritten != sql) {
      // info-schema queries rebuild their snapshot views per call — caching
      // would pin the first snapshot, so they bypass the plan cache
      refreshInformationSchema()
      spark.sql(rewritten)
    } else {
      val hit = planCache.synchronized(planCache.get(sql))
      if (hit != null) { planCacheHits.incrementAndGet(); hit.serve() }
      else {
        val epoch = planEpoch.get()
        val df0 = spark.sql(sql) // analyze outside the lock (it can be slow)
        val cacheable = cacheablePlan(df0)
        val df = fastLocalServe(df0)
        if (cacheable) {
          val entry = cachedPlan(df)
          planCache.synchronized {
            if (planEpoch.get() == epoch) planCache.put(sql, entry)
          }
        }
        df
      }
    }
  }

  // ---- cold-path mini-fold -------------------------------------------------
  // The rules that collapse a pinned-small-table query to a LocalRelation,
  // lifted OUT of the full optimizer: Catalyst's whole battery costs ~4-5 ms
  // per unique statement even on a 2-node plan (measured), which dominated
  // the cold serving p50 once job launch was already folded away. All nine
  // are Spark's own finish-analysis/local-fold rules or the spec-pinned
  // graft fold rules — the mini pass can only produce what full
  // optimization would have produced, it just stops paying for the ~40
  // batches that cannot apply to an all-LocalRelation plan.
  /** OneRowRelation -> one-empty-row LocalRelation, serving-path only: a
    * cold `SELECT 1`-style statement otherwise codegens and launches a
    * real one-task job just to produce its single literal row. */
  private object FoldOneRowRelation extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation}
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
      case _: OneRowRelation =>
        LocalRelation(Nil, Seq(org.apache.spark.sql.catalyst.InternalRow.empty),
          isStreaming = false)
    }
  }

  private val miniFoldRules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = Seq(
    FoldOneRowRelation,
    org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions,
    org.apache.spark.sql.catalyst.optimizer.ComputeCurrentTime,
    org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases,
    org.apache.spark.sql.catalyst.analysis.EliminateView,
    org.apache.spark.sql.catalyst.optimizer.ReplaceDistinctWithAggregate,
    org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation,
    graft.plans.LocalFoldRules.FoldLocalSort,
    graft.plans.LocalFoldRules.FoldLocalLimit,
    graft.plans.LocalFoldRules.FoldLocalAggregate)

  /** When every leaf of the analyzed plan is a LocalRelation (the engine's
    * re-pinned small tables), try to collapse the whole statement with the
    * mini battery; a full collapse serves straight off the folded rows.
    * Distributed plans skip this at the cost of one leaf scan; plans with
    * nondeterministic or time-valued expressions are excluded so the
    * result cache's refusal logic (which inspects the RETURNED plan) still
    * sees them; any rule failure falls back to the standard pipeline. */
  private def fastLocalServe(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, OneRowRelation}
    val analyzed = df.queryExecution.analyzed
    val leaves = analyzed.collectLeaves()
    if (leaves.isEmpty || !leaves.forall(l =>
        l.isInstanceOf[LocalRelation] || l.isInstanceOf[OneRowRelation])) return df
    if (!cacheablePlanExprs(analyzed)) return df
    try {
      var cur: LogicalPlan = analyzed
      var rounds = 0
      var changed = true
      while (changed && rounds < 10) {
        val next = miniFoldRules.foldLeft(cur)((p, r) => r(p))
        changed = !next.fastEquals(cur)
        cur = next
        rounds += 1
      }
      cur match {
        case rel: LocalRelation =>
          org.apache.spark.sql.GraftPlanBridge.ofRows(spark, rel)
        case _ => df
      }
    } catch {
      // a rule tripping on an exotic expression must degrade to the normal
      // pipeline, never fail the request
      case scala.util.control.NonFatal(_) => df
    }
  }

  /** Only pure SELECT-shaped plans enter the cache. Commands (DDL like
    * CREATE OR REPLACE TEMP VIEW, SET, REFRESH) execute eagerly at analysis
    * — replaying the cached handle would silently no-op them, and their
    * side effects can re-resolve any cached view, so a command ALSO clears
    * the cache. Nondeterministic plans (rand/uuid) stay uncached: the seed
    * is fixed at analysis, and serving the same "random" rows per request
    * is a behavior change from the uncached path. */
  private def cacheablePlan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.Command
    // a mini-folded serving result (bare LocalRelation logical plan —
    // spark.sql never produces one; only fastLocalServe does) already
    // passed the nondeterminism/time guard before folding: trivially
    // cacheable, no need to re-analyze the wrapper Dataset
    df.queryExecution.logical match {
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => return true
      case _ => ()
    }
    val analyzed = df.queryExecution.analyzed
    val isCommand = analyzed.isInstanceOf[Command] ||
      analyzed.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.CommandResult] ||
      df.queryExecution.logical.isInstanceOf[Command]
    if (isCommand) { invalidatePlans(); false }
    else cacheablePlanExprs(analyzed)
  }

  /** The expression half of [[cacheablePlan]], shared with the mini-fold
    * guard: no nondeterminism, no time-valued functions, anywhere
    * including subquery plans. */
  private def cacheablePlanExprs(
      analyzed: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{CurrentDate, CurrentTimestamp, LocalTimestamp, Now}
    def bad(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
      e.find {
        // time-valued functions report deterministic=true but freeze at the
        // plan's first optimization — caching would serve the first
        // request's wall clock forever (same class as the rand() seed)
        case _: CurrentTimestamp | _: CurrentDate | _: Now | _: LocalTimestamp => true
        case other => !other.deterministic
      }.isDefined
    // collectWithSubqueries: Expression.find does not descend into a
    // SubqueryExpression's inner PLAN, so `WHERE x > (SELECT rand())`
    // would otherwise cache and replay its frozen seed on every request
    analyzed.collectWithSubqueries {
      case p if p.expressions.exists(bad) => p
    }.isEmpty
  }

  private def isIdentChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Rewrite `information_schema.tables|columns` onto the registry-backed
    * temp views, but ONLY where they appear as identifiers: string literals
    * (`'...'` with `''` escapes), quoted identifiers (`"..."`, backticks),
    * and line/block comments pass through byte-for-byte, so
    * `SELECT 'see information_schema.tables'` returns the literal unchanged
    * (the round-2 raw-regex version corrupted it). */
  private[server] def rewriteInformationSchema(sql: String): String = {
    // java.lang.StringBuilder: the Scala one lacks append(CharSequence,from,to)
    // and silently auto-tuples the three arguments into "(seq,from,to)"
    val out = new java.lang.StringBuilder(sql.length)
    val n = sql.length
    var i = 0
    while (i < n) {
      val c = sql.charAt(i)
      c match {
        case '\'' | '"' | '`' =>
          val start = i
          i += 1
          var done = false
          while (i < n && !done) {
            // Spark's default (non-ANSI) lexer backslash-escapes ' and "
            // literals ('it\'s') — without this skip the scanner would leave
            // the literal at the escaped quote and rewrite text inside it.
            // Backticked identifiers escape only by doubling.
            if (sql.charAt(i) == '\\' && c != '`') i += 2
            else if (sql.charAt(i) == c) {
              if (i + 1 < n && sql.charAt(i + 1) == c) i += 2 // doubled-quote escape
              else { i += 1; done = true }
            } else i += 1
          }
          out.append(sql, start, math.min(i, n))
        case '-' if i + 1 < n && sql.charAt(i + 1) == '-' =>
          val start = i
          while (i < n && sql.charAt(i) != '\n') i += 1
          out.append(sql, start, i)
        case '/' if i + 1 < n && sql.charAt(i + 1) == '*' =>
          val start = i
          i += 2
          while (i + 1 < n && !(sql.charAt(i) == '*' && sql.charAt(i + 1) == '/')) i += 1
          i = math.min(i + 2, n)
          out.append(sql, start, i)
        case _ =>
          val prefix = "information_schema."
          val boundaryOk = out.isEmpty ||
            (!isIdentChar(out.charAt(out.length - 1)) && out.charAt(out.length - 1) != '.')
          if ((c == 'i' || c == 'I') && boundaryOk &&
              sql.regionMatches(true, i, prefix, 0, prefix.length)) {
            val j = i + prefix.length
            Seq("tables", "columns").find(t =>
              sql.regionMatches(true, j, t, 0, t.length) &&
                (j + t.length >= n || !isIdentChar(sql.charAt(j + t.length)))) match {
              case Some(t) =>
                out.append("information_schema_").append(t)
                i = j + t.length
              case None => out.append(c); i += 1
            }
          } else { out.append(c); i += 1 }
      }
    }
    out.toString
  }

  private def refreshInformationSchema(): Unit = {
    import scala.jdk.CollectionConverters._
    val names = tableNames
    val tRows = names.map(n => org.apache.spark.sql.Row("graft", "public", n, "BASE TABLE"))
    val tSchema = org.apache.spark.sql.types.StructType(
      Seq("table_catalog", "table_schema", "table_name", "table_type")
        .map(org.apache.spark.sql.types.StructField(_, StringType, nullable = false)))
    spark.createDataFrame(tRows.asJava, tSchema)
      .createOrReplaceTempView("information_schema_tables")
    val cRows = names.flatMap { n =>
      spark.table(n).schema.fields.zipWithIndex.map { case (f, i) =>
        org.apache.spark.sql.Row("graft", "public", n, f.name, (i + 1).toLong,
          f.dataType.sql, if (f.nullable) "YES" else "NO")
      }
    }
    val cSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("table_catalog", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("table_schema", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("table_name", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("column_name", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("ordinal_position",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("data_type", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("is_nullable", StringType, nullable = false)))
    spark.createDataFrame(cRows.asJava, cSchema)
      .createOrReplaceTempView("information_schema_columns")
  }

  // REST/GraphQL ride the same mini-fold fast path as SQL: their frames
  // are filter/sort/limit/projection over a registered table, exactly the
  // shape that collapses when the table is pinned locally
  def queryRest(table: String, params: Map[String, String]): DataFrame =
    indexPrunedBase(table, RestQuery.filterTriples(params)) match {
      case Some(base) => fastLocalServe(RestQuery(base, params))
      case None       => fastLocalServe(RestQuery.table(spark, table, params))
    }

  /** Column-index file pruning, shared by the REST and GraphQL frontends:
    * only for tables served DISTRIBUTED (pinned-local tables already answer
    * without a scan job), only when a filter hits an indexed column, and
    * only when files actually drop out. */
  private def indexPrunedBase(table: String,
      preds: Seq[graft.sources.ColumnIndex.Pred]): Option[DataFrame] =
    columnIndex(table)
      .filter(_ => preds.nonEmpty && servedDistributed(table))
      .flatMap { idx =>
        // schema resolution failure (e.g. a concurrent drop) falls through
        // to the normal path and its reference-shaped invalid_table error
        scala.util.Try(spark.table(table).schema).toOption
          .flatMap(sch => idx.prunedDf(spark, preds, sch,
            Option(tables.get(table)).map(_.options).getOrElse(Map.empty)))
      }

  /** True when `name` answers from its distributed backing scan (not the
    * small-table local pin) — the only case file pruning can help. */
  private def servedDistributed(name: String): Boolean =
    Option(tables.get(name)).exists(src =>
      overCapTables.contains(name) || memOptOut(src))

  def queryGraphQl(q: String): DataFrame = {
    val f = GraphQl.parse(q)
    indexPrunedBase(f.name, GraphQl.filterTriples(f)) match {
      case Some(base) => fastLocalServe(GraphQl.applyField(base, f))
      case None       => fastLocalServe(GraphQl.queryParsed(spark, f))
    }
  }

  // ---- KV store (reference: columnq/src/columnq.rs:275-331) ----------------

  final case class KvStore(name: String, source: TableSource,
                           keyCol: String, valueCol: String) {
    @volatile private[Engine] var map: Map[String, String] = Map.empty
    def get(key: String): Option[String] = map.get(key)
  }

  def registerKv(name: String, source: TableSource,
                 keyCol: String, valueCol: String): Unit = {
    cancelRefresh(s"kv:$name")
    val kv = KvStore(name, source, keyCol, valueCol)
    loadKv(kv)
    kvDefs.put(name, kv)
    source.reloadIntervalSec.foreach { sec =>
      val task = scheduler.scheduleAtFixedRate(() =>
        try loadKv(kv)
        catch { case e: Throwable =>
          System.err.println(s"[refresh kv] $name: ${e.getMessage}") },
        sec, sec, TimeUnit.SECONDS)
      refreshTasks.put(s"kv:$name", task)
    }
  }

  private def loadKv(kv: KvStore): Unit = {
    val df = Loaders.load(spark, kv.source)
    val kt = df.schema(kv.keyCol).dataType
    require(kt == StringType,
      s"KV key column `${kv.keyCol}` must be a string, got $kt") // reference: columnq.rs:282-284
    kv.map = df
      .select(org.apache.spark.sql.functions.col(kv.keyCol),
        org.apache.spark.sql.functions.col(kv.valueCol).cast(StringType))
      .na.drop(Seq(kv.keyCol))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
  }

  def kvGet(name: String, key: String): Option[String] =
    Option(kvDefs.get(name)).flatMap(_.get(key))

  /** Unknown STORE vs missing KEY are different errors in the reference
    * (invalid_kv_name 400 vs not_found 404 — columnq.rs:359-365). */
  def hasKv(name: String): Boolean = kvDefs.containsKey(name)

  // ---- schema introspection (reference: roapi/src/context.rs:133-178) ------

  def schemaJson(name: String): String = {
    val st = spark.table(name).schema
    structToArrowJson(st)
  }

  def allSchemasJson: String =
    tableNames.map(n => "\"" + n + "\":" + schemaJson(n)).mkString("{", ",", "}")

  /** Arrow-schema-shaped JSON: {"fields":[{"name","data_type","nullable"}]}. */
  private def structToArrowJson(st: StructType): String = {
    val fields = st.fields.map { f =>
      s"""{"name":${quote(f.name)},"data_type":${quote(arrowTypeName(f.dataType))},"nullable":${f.nullable}}"""
    }
    s"""{"fields":[${fields.mkString(",")}]}"""
  }

  private def arrowTypeName(dt: DataType): String = dt match {
    case BooleanType => "Boolean"
    case ByteType => "Int8"
    case ShortType => "Int16"
    case IntegerType => "Int32"
    case LongType => "Int64"
    case FloatType => "Float32"
    case DoubleType => "Float64"
    case StringType => "Utf8"
    case BinaryType => "Binary"
    case DateType => "Date32"
    case TimestampType | TimestampNTZType => "Timestamp(Microsecond, None)"
    case d: DecimalType => s"Decimal128(${d.precision}, ${d.scale})"
    case ArrayType(et, _) => s"List(${arrowTypeName(et)})"
    case _: StructType => "Struct"
    case _: MapType => "Map"
    case other => other.simpleString
  }

  private def quote(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def close(): Unit = scheduler.shutdownNow()
}

object Engine {
  /** One constant for both the offer-side refusal and the route-layer
    * capture cap — separate literals drifted in review. */
  private[server] val resultEntryCapBytes: Int = 4 << 20
}
