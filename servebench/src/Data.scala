package servebench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The run's tables: the parquet files `gen.py` wrote from the seed, and two
  * Delta tables for the refresh traffic, written here. */
final class Data(val spark: SparkSession, seed: Long, dir: String) {
  import Data._

  def path(t: String): String = s"$dir/$t.parquet"

  /** Write batch 0 of both refresh tables, side by side. */
  def generate(): Unit = {
    val ts = RefreshTables.map(t => new Thread(() => writeInitialBatch(t)))
    ts.foreach(_.start())
    ts.foreach(_.join())
    require(RefreshTables.forall(t => java.nio.file.Files.exists(batch0(t))),
      "writing the refresh tables failed")
  }

  private def batch0(table: String) = java.nio.file.Paths.get(s"$dir/$table.batch0")

  // ---- refresh tables ------------------------------------------------------

  def refreshDir(table: String): String = s"$dir/$table"

  /** Batch 0, the initial load, written by Spark from seeded hashes. Its
    * totals are read back from the raw parquet files (not through the Delta
    * log or the engine) and kept beside the table for the checker. */
  private def writeInitialBatch(table: String): Unit = {
    val id = col("id")
    graft.sources.DeltaWriter.write(spark.range(InitialRows(table)).select(id,
      lit(0L).as("batch"), pmod(xxhash64(lit(seed), lit(table), id), lit(1000L)).as("v")),
      refreshDir(table))
    val r = spark.read.parquet(refreshDir(table)).agg(count(lit(1)), sum("v")).head()
    java.nio.file.Files.writeString(batch0(table), s"${r.getLong(0)} ${r.getLong(1)}")
  }

  /** Rows of commit batch `k` >= 1 of a refresh table: (id, batch, v),
    * deterministic in (seed, table, k). */
  def refreshBatch(table: String, k: Int): Seq[Row] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + table.hashCode * 31L + k)
    (0 until CommitRows(table)).map(i => Row(k.toLong * 1000000L + i, k.toLong, rnd.nextLong(1000L)))
  }

  /** (rows, sum of v) of batch `k`. */
  def batchTotals(table: String, k: Int): (Long, Long) =
    if (k == 0) {
      val Array(n, v) = java.nio.file.Files.readString(batch0(table)).split(' ')
      (n.toLong, v.toLong)
    } else {
      val rows = refreshBatch(table, k)
      (rows.size.toLong, rows.map(_.getLong(2)).sum)
    }

  def writeRefreshBatch(table: String, k: Int): Long =
    graft.sources.DeltaWriter.write(
      spark.createDataFrame(java.util.Arrays.asList(refreshBatch(table, k): _*),
        RefreshSchema).coalesce(1), refreshDir(table))
}

object Data {
  /** Shapes shared with gen.py, which writes the parquet tables. */
  val Epoch = "1995-01-01"
  val EpochSec = 788918400L // Epoch at 00:00 UTC
  val Regions = 5L
  val Nations = 25L
  val Suppliers = 1000L
  val Customers = 15000L
  val Sizes = 50L
  val Days = 1500
  val EventSpanSec = 90 * 86400L

  /** rt_small stays under the pin cap (refreshes by delta-apply); rt_big is
    * distributed (refreshes by snapshot swap). */
  val RefreshTables = Seq("rt_small", "rt_big")
  val InitialRows = Map("rt_small" -> 2000, "rt_big" -> 100000)
  val CommitRows = Map("rt_small" -> 20, "rt_big" -> 200)

  val RefreshSchema = StructType(Seq(StructField("id", LongType),
    StructField("batch", LongType), StructField("v", LongType)))

  /** The parquet tables gen.py writes. */
  val Tables = Seq("region", "nation", "supplier", "customer", "part",
    "orders", "lineitem", "events")
}
