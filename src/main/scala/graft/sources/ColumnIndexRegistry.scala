package graft.sources

import scala.jdk.CollectionConverters._

/** JVM-wide map from a QUALIFIED table directory to its zone-map index —
  * the bridge between the engine's registration lifecycle and the
  * [[graft.plans.IndexPruneRule]] Catalyst rule, which sees only the scan's
  * root path at optimization time.
  *
  * Entries are OWNED by table names: several registrations may point at the
  * same dir (they share files, so either index prunes correctly for both),
  * and an entry only disappears when its LAST owner releases it — a
  * non-indexed table over the same dir must not strip another table's
  * pruning (review finding). */
object ColumnIndexRegistry {

  private final case class Entry(idx: ColumnIndex.Index, owners: Set[String])
  private val byDir =
    new java.util.concurrent.ConcurrentHashMap[String, Entry]()

  def register(qualifiedDir: String, idx: ColumnIndex.Index, owner: String): Unit =
    byDir.compute(qualifiedDir, (_, prev) =>
      Entry(idx, Option(prev).map(_.owners).getOrElse(Set.empty) + owner))

  /** Release `owner`'s claim; the entry survives while other owners remain. */
  def release(qualifiedDir: String, owner: String): Unit =
    byDir.computeIfPresent(qualifiedDir, (_, prev) => {
      val rest = prev.owners - owner
      if (rest.isEmpty) null else prev.copy(owners = rest)
    })

  def lookup(qualifiedDir: String): Option[ColumnIndex.Index] =
    Option(byDir.get(qualifiedDir)).map(_.idx)

  /** Writer-commit freshness hook: a table-format writer just committed
    * into `dir` — if an index is registered over that dir, re-derive its
    * zones from the NEW snapshot via the zero-footer metadata path
    * ([[ColumnIndex.buildFromDelta]]/[[ColumnIndex.buildFromIceberg]])
    * and swap it in place, so the next query prunes with the new files'
    * zones instead of decaying to keep-everything on an actively-written
    * table. One map probe when the dir is not indexed; a failed rebuild
    * warns and keeps the previous index (pruning is staleness-safe —
    * [[ColumnIndex.Index.pruneAmong]] keeps index-unknown files).
    *
    * The rebuild runs ASYNC and COALESCED per dir (advisor finding: a
    * synchronous rebuild inside every commit added index-derivation
    * latency to the hot path of actively-written tables — twice per
    * append-plus-compaction). Commits arriving while a rebuild is in
    * flight just mark the dir dirty; the worker re-derives once more from
    * the then-current snapshot, so the LAST commit's zones always land.
    * Staleness in the gap is safe by pruneAmong's contract. */
  def refreshFromCommit(spark: org.apache.spark.sql.SparkSession,
                        dir: String, format: String): Unit = {
    val q = qualify(spark, dir)
    if (!byDir.containsKey(q)) return
    // 1 = queued/rebuilding and clean, 2 = dirty (re-run after current)
    val first = inFlight.compute(q, (_, v) => if (v == null) 1 else 2) == 1
    if (first) refreshExec.execute(() => {
      var again = true
      while (again) {
        inFlight.put(q, 1) // clear dirty before reading the snapshot
        rebuild(spark, dir, q, format)
        // exit only while still clean; a commit that raced the rebuild
        // left a 2 here, and its snapshot is what the next pass reads
        again = !inFlight.remove(q, 1)
      }
    })
  }

  private def rebuild(spark: org.apache.spark.sql.SparkSession,
                      dir: String, q: String, format: String): Unit =
    try {
      val cols = Option(byDir.get(q)).map(_.idx.columns).getOrElse(return)
      val fresh = format match {
        case "delta" => ColumnIndex.buildFromDelta(spark, dir, cols)
        case "iceberg" => ColumnIndex.buildFromIceberg(spark, dir, cols)
        case other =>
          System.err.println(s"[colindex] no commit-refresh path for `$other`")
          return
      }
      byDir.computeIfPresent(q, (_, prev) => prev.copy(idx = fresh))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[colindex] post-commit index refresh on $dir failed " +
            s"(previous zones stay): $e")
    }

  // one daemon worker: refreshes are metadata-cheap (zero footer reads)
  // and per-dir coalescing bounds the queue by distinct indexed dirs
  private val refreshExec = java.util.concurrent.Executors.newSingleThreadExecutor(
    (r: Runnable) => {
      val t = new Thread(r, "graft-colindex-refresh"); t.setDaemon(true); t
    })
  private val inFlight =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Test/shutdown hook: wait until every queued refresh has drained. */
  private[graft] def quiesce(timeoutMs: Long = 30000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!inFlight.isEmpty && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
    require(inFlight.isEmpty,
      s"colindex refresh did not quiesce within ${timeoutMs}ms: " +
        inFlight.keySet().asScala.mkString(", "))
  }

  /** `dir` as the optimizer sees a scan's root path (fs-qualified) — the
    * same key [[graft.server.Engine]] registers under. */
  def qualify(spark: org.apache.spark.sql.SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    scala.util.Try(
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(p).toString).getOrElse(p.toString)
  }

  /** Spec hook: entries currently registered (dir -> owners). */
  private[graft] def snapshot: Map[String, Set[String]] =
    byDir.asScala.map { case (d, e) => d -> e.owners }.toMap
}
