package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multi-dimensional data-layout clustering — Z (Morton) ordering, the
  * standard layout optimization for multi-column file skipping at scale
  * (the technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`; public
  * literature: Morton 1966, and the min/max-skipping analyses in the
  * Small Materialized Aggregates and Delta papers).
  *
  * A single-column sort gives perfect min/max pruning on that column and
  * none on any other; interleaving the bits of k columns gives every
  * written file a tight hyper-rectangle in all k dimensions, so range
  * predicates on ANY clustered column skip ~(1 - selectivity^(1/k)) of
  * files. At 100 TB this is the difference between scanning a full
  * partition and reading a handful of files for a two-column point query.
  *
  * Everything here is pure integer builtins (codegen'd, no UDFs), so the
  * z-values are engine-reproducible and the catalog query `q_zorder` is
  * DuckDB-oracle-checked bit-for-bit.
  */
object ZOrder {

  /** Morton interleave of the low `bits` bits of two NON-NEGATIVE integral
    * columns: bit b of `x` lands at position 2b, bit b of `y` at 2b+1.
    * bits <= 31 keeps the result in a positive long. Inputs must be
    * pre-quantized to non-negative ints (ranks, epoch days, bucketed
    * doubles) — standard practice, and what keeps the arithmetic exact. */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in 1..31, got $bits")
    val xl = x.cast("long")
    val yl = y.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      acc +
        shiftright(xl, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b)) +
        shiftright(yl, b).bitwiseAND(lit(1L)) * lit(1L << (2 * b + 1))
    }
  }

  /** Rewrite `df` into `nFiles` parquet files clustered by the z-value of
    * (`x`, `y`): each file covers a contiguous z range == a tight
    * rectangle in (x, y). The shuffle is the unavoidable one — a global
    * re-clustering IS a repartition — but the file boundaries are
    * DETERMINISTIC, unlike `repartitionByRange`, whose reservoir-sampled
    * bounds depend on how the input happened to be sliced (that
    * nondeterminism flaked the layout spec under full parallel test
    * runs). Two passes:
    *
    *  1. an exact count per coarse fixed-width z bucket (4096 buckets —
    *     one distributed agg, a bounded driver artifact), from which the
    *     driver derives equi-depth file boundaries: bucket `b` with
    *     cumulative-count-before `c` goes to file `floor(c·nFiles/total)`
    *     — contiguous z ranges, balanced to bucket granularity, and a
    *     function of the DATA only;
    *  2. rows join (broadcast, ≤4096 rows) to their file's partition key
    *     and hash-repartition on it. The keys are precomputed longs whose
    *     Murmur3 hashes land in DISTINCT partitions mod `nFiles` (Spark's
    *     `HashPartitioning` is `pmod(murmur3(key, 42), n)`), so file
    *     placement is exact — no range sampling anywhere.
    *
    * At 100 TB the histogram pass is a cheap map-side-combined agg and
    * the skew story IMPROVES over sampling: boundaries come from exact
    * counts, not a reservoir. */
  def writeZOrdered(df: DataFrame, x: Column, y: Column, bits: Int,
                    nFiles: Int, dir: String): Unit = {
    require(nFiles >= 1, s"nFiles must be >= 1, got $nFiles")
    // internal column names are reserved, loudly — withColumn would
    // silently REPLACE (and the final drop destroy) a user column
    val reserved = Seq("graft_z", "graft_zb", "graft_pk")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"writeZOrdered reserves column name `$c`; rename the input column"))
    val spark = df.sparkSession
    // a NULL in either cluster column nulls the z-value; such rows go to
    // bucket -1 (they land together in file 0, the analog of range
    // partitioning's nulls-first) instead of NPE-ing the histogram or
    // being dropped by the placement join
    val shift = math.max(0, 2 * bits - 12)
    val z = df.withColumn("graft_z", zValue2(x, y, bits))
      .withColumn("graft_zb", coalesce(
        shiftrightunsigned(col("graft_z"), shift), lit(-1L)))
    // z in [0, 2^(2·bits)); bucket = z >>> shift gives <= 4096 fixed-width
    // buckets (shift arithmetic keeps 2^62-scale z exact — a double-typed
    // divide would lose low bits)
    val hist = z.groupBy(col("graft_zb")).count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val total = hist.map(_._2).sum
    if (total == 0L) {
      z.drop("graft_z", "graft_zb").write.mode("overwrite").parquet(dir)
      return
    }
    val keys = partitionKeys(nFiles)
    var cumBefore = 0L
    val lookupRows = hist.map { case (b, c) =>
      // 128-bit product: at trillions of rows cumBefore*nFiles can pass
      // 2^63 and a plain Long multiply would overflow to a NEGATIVE file
      // index (round-12 advice). multiplyHigh + the low word give the
      // exact 128-bit value; the quotient always fits — it is < nFiles.
      val file = math.min(nFiles - 1L, mulDiv(cumBefore, nFiles, total)).toInt
      cumBefore += c
      (b, keys(file))
    }.toSeq
    val lookup = spark.createDataFrame(lookupRows).toDF("graft_zb", "graft_pk")
    // LEFT join + file-0 fallback: the input is computed twice (histogram,
    // then write), so a nondeterministic or concurrently-changing source
    // can produce buckets the histogram never saw — those rows must still
    // be WRITTEN (the replaced repartitionByRange path never lost a row;
    // an inner join would silently drop them). Worst case is imbalance,
    // never loss.
    z.join(broadcast(lookup), Seq("graft_zb"), "left")
      .withColumn("graft_pk", coalesce(col("graft_pk"), lit(keys(0))))
      .repartition(nFiles, col("graft_pk"))
      .sortWithinPartitions(col("graft_z"))
      .drop("graft_z", "graft_zb", "graft_pk")
      .write.mode("overwrite").parquet(dir)
  }

  /** floor(a*b/d) for non-negative a,b with 0 < d, exact even when a*b
    * exceeds 2^63 (BigInt on the driver-side histogram path — a few
    * thousand buckets, never per-row). */
  private def mulDiv(a: Long, b: Long, d: Long): Long =
    ((BigInt(a) * BigInt(b)) / BigInt(d)).toLong

  /** `n` longs whose Spark hash-partition ids mod `n` are a permutation of
    * 0..n-1 — hash-repartitioning on `out(i)` places a row EXACTLY in
    * partition i. Mirrors `HashPartitioning.partitionIdExpression` =
    * `pmod(Murmur3Hash(key, seed=42), n)`; for a long child that is
    * `Murmur3_x86_32.hashLong`. A linear scan finds a full permutation in
    * ~n·ln(n) candidates (coupon collector), driver-side, tiny. */
  private[operators] def partitionKeys(n: Int): Array[Long] = {
    val out = new Array[Long](n)
    val seen = new Array[Boolean](n)
    var found = 0
    var cand = 0L
    while (found < n) {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(cand, 42)
      val p = ((h % n) + n) % n
      if (!seen(p)) { seen(p) = true; out(p) = cand; found += 1 }
      cand += 1L
    }
    out
  }
}
