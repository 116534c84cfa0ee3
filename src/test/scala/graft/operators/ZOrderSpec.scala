package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Z-order layout: the z-value arithmetic against a reference interleave,
  * and the property the layout exists for — a z-clustered write gives
  * min/max file skipping on BOTH dimensions, where a single-column sort
  * prunes only its own column. */
class ZOrderSpec extends SparkSpec {
  import spark.implicits._

  /** Per-file (min, max) of a column over a written dataset — the stats a
    * min/max-skipping scan consults. One distributed pass, grouped by
    * file. */
  private def fileRanges(df: DataFrame, c: String): Map[String, (Long, Long)] =
    df.groupBy(input_file_name().as("f"))
      .agg(min(col(c)).cast("long").as("mn"), max(col(c)).cast("long").as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  /** Fraction of files a [lo, hi] range predicate on `c` must read given
    * the per-file ranges — the skipping effectiveness measure. */
  private def scanFraction(ranges: Map[String, (Long, Long)], lo: Long, hi: Long): Double =
    if (ranges.isEmpty) 0.0
    else ranges.values.count { case (mn, mx) => mx >= lo && mn <= hi }.toDouble / ranges.size

  test("zValue2 equals a reference bit-interleave") {
    def ref(x: Long, y: Long, bits: Int): Long = {
      var z = 0L
      var b = 0
      while (b < bits) {
        z |= ((x >> b) & 1L) << (2 * b)
        z |= ((y >> b) & 1L) << (2 * b + 1)
        b += 1
      }
      z
    }
    val samples = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (12345L, 54321L), (1L << 30, 1L), ((1L << 31) - 1, (1L << 31) - 1))
    val got = samples.toDF("x", "y")
      .select(ZOrder.zValue2(col("x"), col("y"), 31).as("z"))
      .collect().map(_.getLong(0))
    samples.map { case (x, y) => ref(x, y, 31) }.zip(got).foreach {
      case (want, have) => assert(want == have)
    }
  }

  test("z-clustered layout skips files on BOTH dims; linear sort only on one") {
    // uniform 256x256 grid: every (x, y) cell once — the worst case for a
    // linear sort's second column. writeZOrdered's boundaries are now
    // data-deterministic (exact histogram equi-depth, no range sampling),
    // so NO input re-slicing mitigation is needed: on this grid the 16
    // files are exact 64x64 tiles and the fractions are exact.
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x.toLong, y.toLong)))
      .toDF("x", "y")
    val nFiles = 16
    val zDir = java.nio.file.Files.createTempDirectory("zorder").toString + "/z"
    val lDir = java.nio.file.Files.createTempDirectory("zorder").toString + "/linear"
    ZOrder.writeZOrdered(grid, col("x"), col("y"), bits = 8, nFiles, zDir)
    grid.repartitionByRange(nFiles, col("x")).sortWithinPartitions(col("x"), col("y"))
      .write.mode("overwrite").parquet(lDir)

    val z = spark.read.parquet(zDir)
    val l = spark.read.parquet(lDir)
    assert(z.count() == 256L * 256L && l.count() == 256L * 256L)

    // a 1/16-wide band predicate on each dimension
    val zx = scanFraction(fileRanges(z, "x"), 64, 79)
    val zy = scanFraction(fileRanges(z, "y"), 64, 79)
    val lx = scanFraction(fileRanges(l, "x"), 64, 79)
    val ly = scanFraction(fileRanges(l, "y"), 64, 79)
    // linear: perfect on x, useless on y (every file spans all of y)
    assert(lx <= 0.25, s"linear x fraction $lx")
    assert(ly == 1.0, s"linear y fraction $ly")
    // z-order: both dims prune — with deterministic equi-depth boundaries
    // the 16 files are exact 64x64 tiles, so a 1/16 band inside one x (or
    // y) tile touches exactly the 4 files of that tile column/row
    assert(zx == 0.25, s"zorder x fraction $zx")
    assert(zy == 0.25, s"zorder y fraction $zy")
  }

  test("writeZOrdered boundaries are deterministic across input slicings") {
    val rows = (0 until 128).flatMap(x => (0 until 128).map(y => (x.toLong, y.toLong)))
    // same data, two very different physical slicings — sampled range
    // bounds diverged here; exact-histogram bounds must not
    val a = rows.toDF("x", "y").repartition(3)
    val b = rows.toDF("x", "y").repartition(31, col("y"))
    val dirA = java.nio.file.Files.createTempDirectory("zdet").toString + "/a"
    val dirB = java.nio.file.Files.createTempDirectory("zdet").toString + "/b"
    ZOrder.writeZOrdered(a, col("x"), col("y"), bits = 7, nFiles = 8, dirA)
    ZOrder.writeZOrdered(b, col("x"), col("y"), bits = 7, nFiles = 8, dirB)
    def rangeSet(dir: String, c: String) =
      fileRanges(spark.read.parquet(dir), c).values.toSeq.sorted
    assert(rangeSet(dirA, "x") == rangeSet(dirB, "x"))
    assert(rangeSet(dirA, "y") == rangeSet(dirB, "y"))
  }

  test("rows with NULL cluster values are written, never dropped") {
    val dir = java.nio.file.Files.createTempDirectory("znull").toString + "/z"
    val withNulls = (0L until 100L).map(i => (i, if (i % 10 == 0) None else Some(i)))
      .toDF("x", "y").select(col("x"), col("y").cast("long").as("y"))
    ZOrder.writeZOrdered(withNulls, col("x"), col("y"), bits = 7, nFiles = 4, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 100L, "null-keyed rows must survive the rewrite")
    assert(back.filter(col("y").isNull).count() == 10L)
  }

  test("reserved internal column names fail loudly instead of silently vanishing") {
    val bad = Seq((1L, 2L, 3L)).toDF("x", "y", "graft_pk")
    val dir = java.nio.file.Files.createTempDirectory("zres").toString + "/z"
    val e = intercept[IllegalArgumentException] {
      ZOrder.writeZOrdered(bad, col("x"), col("y"), bits = 4, nFiles = 2, dir)
    }
    assert(e.getMessage.contains("graft_pk"))
  }

  test("partitionKeys hash to a full permutation of partition ids") {
    for (n <- Seq(1, 2, 8, 16, 31)) {
      val ks = ZOrder.partitionKeys(n)
      val ids = ks.map { k =>
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(k, 42)
        ((h % n) + n) % n
      }
      assert(ids.toSeq == (0 until n), s"n=$n ids=${ids.toSeq}")
    }
  }
}
