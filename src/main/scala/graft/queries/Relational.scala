package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.frontend.{GraphQl, RestQuery}

/** Relational operator inventory (SURVEY.md §2a + §2b).
  *
  * Two styles, mirroring the reference's architecture:
  *   - SQL pass-through (reference: columnq/src/query/sql.rs:5-18): the query
  *     text IS the oracle — the same ANSI string runs on Spark and DuckDB.
  *   - Constructed DataFrame plans for the REST / GraphQL frontends and for
  *     operators we deliberately express with the Dataset API (windows,
  *     sessionization), each with a hand-written DuckDB oracle.
  *
  * Determinism rules (the driver hash-compares values against DuckDB):
  *   - Double aggregation order differs across engines, so every SUM/AVG over
  *     a double column goes through an exact DECIMAL cast first and is cast
  *     back to DOUBLE at the end — identical bits on both engines.
  *   - Every query has a total ORDER BY with a unique tiebreaker.
  *   - Nullable sort keys pin NULLS FIRST on both sides.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  private def sqlQ(text: String): Q = (spark, dir) => {
    Tables.registerAll(spark, dir)
    spark.sql(text)
  }

  /** SQL that runs verbatim on both Spark SQL and DuckDB. */
  val sqlBoth: Map[String, String] = Map(
    // --- aggregation: TPC-H Q1 pricing summary (group-agg over the fact) ---
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS sum_disc_price,
        |  CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4))) AS DECIMAL(24,6)) * (1 + CAST(l_tax AS DECIMAL(9,4)))) AS DECIMAL(24,6)) AS DOUBLE) AS sum_charge,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS DOUBLE) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // --- selective filter + single aggregate (TPC-H Q6) ---
    "q6_revenue_forecast" ->
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    // --- 3-table join + group + top-k (TPC-H Q3) ---
    "q3_shipping_priority" ->
      """SELECT l_orderkey,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue,
        |  o_orderdate, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1997-03-15 00:00:00'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderdate, l_orderkey
        |LIMIT 10""".stripMargin,

    // --- 6-table snowflake join (TPC-H Q5) ---
    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(9,4)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    // --- left outer join + double grouping (TPC-H Q13) ---
    "q13_customer_distribution" ->
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey
        |) t
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    // --- semi join (EXISTS) ---
    "q_semi_join" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE EXISTS (
        |  SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_quantity > 45
        |)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // --- anti join (NOT EXISTS) ---
    "q_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // --- IN subquery ---
    "q_in_subquery" ->
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // --- scalar subquery (deterministic avg: exact decimal sum / count) ---
    "q_scalar_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 1.8 * (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) FROM orders)
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 100""".stripMargin,

    // --- full outer join over pre-aggregates ---
    "q_full_outer_join" ->
      """SELECT COALESCE(cn.k, sn.k) AS nationkey, cn.n_cust, sn.n_supp
        |FROM (SELECT c_nationkey AS k, COUNT(*) AS n_cust FROM customer GROUP BY c_nationkey) cn
        |FULL JOIN (SELECT s_nationkey AS k, COUNT(*) AS n_supp FROM supplier GROUP BY s_nationkey) sn
        |  ON cn.k = sn.k
        |ORDER BY nationkey""".stripMargin,

    // --- cross join ---
    "q_cross_join" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
        |ORDER BY r_name, n_name""".stripMargin,

    // --- self theta-ish join (equi + inequality) ---
    "q_self_join_pairs" ->
      """SELECT n1.n_name AS nation_a, n2.n_name AS nation_b
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
        |ORDER BY nation_a, nation_b""".stripMargin,

    // --- set operators ---
    "q_union_distinct" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q_union_all_counts" ->
      """SELECT nationkey, COUNT(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL
        |  SELECT s_nationkey FROM supplier
        |) t GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,
    "q_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    // --- distinct / having / top-k / pagination ---
    "q_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,
    "q_having" ->
      """SELECT o_custkey, COUNT(*) AS order_count
        |FROM orders GROUP BY o_custkey
        |HAVING COUNT(*) > 15
        |ORDER BY order_count DESC, o_custkey""".stripMargin,
    "q_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,
    "q_limit_offset" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey
        |LIMIT 20 OFFSET 40""".stripMargin,

    // --- grouping sets / rollup / cube ---
    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    // --- conditional aggregation ---
    "q_case_agg" ->
      """SELECT event_type,
        |  CAST(SUM(CASE WHEN value > 100 THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS big_value,
        |  COUNT(CASE WHEN value > 100 THEN 1 END) AS big_n,
        |  COUNT(*) AS n
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // --- string functions ---
    "q_string_funcs" ->
      """SELECT p_brand, UPPER(p_type) AS type_u, COUNT(*) AS n
        |FROM part
        |WHERE p_name LIKE '%a%' AND LENGTH(p_name) > 10
        |GROUP BY p_brand, UPPER(p_type)
        |ORDER BY p_brand, type_u""".stripMargin,
    "q_substr_concat" ->
      """SELECT SUBSTR(c_name, 1, 9) AS pref, c_mktsegment || '/' || c_name AS tagged
        |FROM customer
        |WHERE c_acctbal >= 0
        |ORDER BY c_custkey
        |LIMIT 50""".stripMargin,

    // --- date/time functions ---
    "q_date_parts" ->
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y, CAST(MONTH(o_orderdate) AS BIGINT) AS m,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |GROUP BY YEAR(o_orderdate), MONTH(o_orderdate)
        |ORDER BY y, m""".stripMargin,
    "q_date_trunc_window" ->
      """SELECT DATE_TRUNC('HOUR', ts) AS hour_bucket, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |GROUP BY DATE_TRUNC('HOUR', ts), event_type
        |ORDER BY hour_bucket, event_type""".stripMargin,

    // --- common table expressions (WITH), reused twice ---
    "q_cte" ->
      """WITH big_orders AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_totalprice > 300000
        |)
        |SELECT c_mktsegment, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM big_orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,

    // --- math functions (IEEE-deterministic subset: sqrt/abs/floor/ceil) ---
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |  SQRT(l_quantity) AS qty_sqrt,
        |  ABS(l_discount - 0.05) AS disc_dev,
        |  CAST(FLOOR(l_extendedprice / 1000) AS DOUBLE) AS price_k,
        |  CAST(CEIL(l_quantity / 7) AS DOUBLE) AS qty_ceil7
        |FROM lineitem
        |WHERE l_orderkey < 100
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    // --- regex extraction + null handling ---
    "q_regex_extract" ->
      """SELECT p_partkey,
        |  REGEXP_EXTRACT(p_type, '([A-Z]+)$', 1) AS type_last,
        |  COALESCE(NULLIF(p_brand, 'Brand#15'), 'OTHER') AS brand_bucket
        |FROM part
        |WHERE p_size >= 40
        |ORDER BY p_partkey""".stripMargin,

    // --- exact interpolated percentiles ---
    "q_percentile" ->
      """SELECT l_returnflag,
        |  percentile_cont(0.5) WITHIN GROUP (ORDER BY l_quantity) AS median_qty,
        |  percentile_cont(0.9) WITHIN GROUP (ORDER BY l_quantity) AS p90_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    // --- derived table + join reuse ---
    "q_derived_table" ->
      """SELECT s.s_name, t.n_ship
        |FROM (SELECT l_suppkey, COUNT(*) AS n_ship FROM lineitem GROUP BY l_suppkey) t
        |JOIN supplier s ON s.s_suppkey = t.l_suppkey
        |ORDER BY t.n_ship DESC, s.s_name
        |LIMIT 25""".stripMargin
  )

  // sqlBoth additions: distribution window functions run verbatim on both
  // engines (ntile/percent_rank/cume_dist are integer-ratio exact, so the
  // doubles match bit-for-bit; partitioned window — never one global sort)
  private val sqlBothExtra: Map[String, String] = Map(
    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  CAST(PERCENT_RANK() OVER w AS DOUBLE) AS pr,
        |  CAST(CUME_DIST() OVER w AS DOUBLE) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    // calendar-interval arithmetic: adding months/years CLAMPS to the
    // target month's last day (Jan 31 + 1 month = Feb 29 in a leap year)
    // — a classic cross-engine migration hazard, pinned bit-exactly on
    // shared SQL text over real data plus the two canonical edge literals
    "q_interval_arith" ->
      """SELECT CAST(l_shipdate + INTERVAL 1 MONTH AS DATE) AS plus_month,
        |  COUNT(*) AS n,
        |  CAST(TIMESTAMP '2024-01-31 10:00:00' + INTERVAL 1 MONTH AS DATE) AS leap_clamp,
        |  CAST(TIMESTAMP '2024-02-29 10:00:00' + INTERVAL 1 YEAR AS DATE) AS year_clamp
        |FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // NOT IN three-valued logic: one NULL anywhere in the subquery makes
    // `x NOT IN (S)` never-true (NULL, so filtered), so the second count
    // must be 0 while the null-free branch is a real anti join. Spark
    // plans the null-aware anti join here — the trap a plain LeftAnti
    // rewrite would get wrong (and a scale note: NAAJ broadcasts the
    // whole subquery side, which is why production filters should prefer
    // NOT EXISTS — q_anti_join — when null semantics aren't wanted).
    "q_not_in_null" ->
      """SELECT
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)) AS n_no_nulls,
        |  (SELECT COUNT(*) FROM orders
        |   WHERE o_custkey NOT IN (SELECT CASE WHEN c_acctbal < 0 THEN NULL ELSE c_custkey END
        |                           FROM customer)) AS n_with_nulls""".stripMargin
  )

  // ---- DataFrame-API queries (separate DuckDB oracle) ----------------------

  private def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")

  /** Bounded (LRU, 8 entries — enough for every live session, small
    * enough to unpin dead ones) double-checked memo for fixture builders:
    * the build runs OUTSIDE the lock (multi-second Spark jobs must not
    * serialize unrelated keys); a concurrent LOSER's unpublished scratch
    * is reclaimed via `cleanup`. ONE copy of the locking choreography for
    * all four fixture memos (review finding: four hand-maintained
    * near-copies, two of which had drifted to unbounded maps that pin
    * every SparkSession a long-lived server ever saw). */
  private final class FixtureMemo[V] {
    private val map =
      new java.util.LinkedHashMap[(SparkSession, String), V](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(SparkSession, String), V]): Boolean = size > 8
      }
    def getOrBuild(key: (SparkSession, String))(build: => V)
                  (cleanup: V => Unit): V =
      map.synchronized(Option(map.get(key))) match {
        case Some(v) => v
        case None =>
          val built = build
          val (result, lost) = map.synchronized {
            Option(map.get(key)) match {
              case Some(winner) => (winner, true)
              case None => map.put(key, built); (built, false)
            }
          }
          if (lost) cleanup(built)
          result
      }
  }

  /** Memoized per (session, sf dir): a ship-date-clustered 8-file copy of
    * lineitem plus its zone-map [[graft.sources.ColumnIndex]]. Clustering by
    * the filter column is what makes zones tight — the layout the repo's
    * ZOrder operator produces at scale. */
  private val colIndexMemo =
    new FixtureMemo[(String, graft.sources.ColumnIndex.Index)]
  private def colIndexFor(spark: SparkSession, dir: String)
      : (String, graft.sources.ColumnIndex.Index) =
    colIndexMemo.getOrBuild((spark, dir)) {
      val out = java.nio.file.Paths.get(scratchRoot,
        "colindex-" + java.util.UUID.randomUUID().toString).toString
      Tables.t(spark, dir, "lineitem")
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(out)
      (out, graft.sources.ColumnIndex.build(spark, out, Seq("l_shipdate")))
    }(b => deleteTree(new java.io.File(b._1)))

  /** Memoized per (session, sf dir): `orders` landed through BOTH
    * transactional writers — Delta and Iceberg, each partitioned by
    * o_orderpriority and split across two commits so append/inherit and
    * the log/manifest replay are all on the path. The round-trip queries
    * aggregate what the protocol-level LOADERS read back; oracle equality
    * against the original parquet table proves the whole
    * write → commit → replay → partition-reconstruct chain loses,
    * duplicates and corrupts nothing. */
  private val sinkMemo = new FixtureMemo[(String, String)]
  /** One per-JVM root for ALL fixture scratch (sink tables AND the
    * colindex lineitem copy), reclaimed by a shutdown hook — repeated
    * bench/test JVMs must not grow the temp dir without bound (review
    * finding; the colindex scratch had the identical leak). Entries
    * evicted from a memo while the JVM lives are NOT deleted (a lazy
    * DataFrame may still reference them); the hook sweeps everything at
    * exit. */
  private lazy val scratchRoot: String = {
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"),
      "graft-scratch", java.util.UUID.randomUUID().toString)
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(root.toFile)))
    root.toString
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }

  private def sinksFor(spark: SparkSession, dir: String): (String, String) =
    sinkMemo.getOrBuild((spark, dir)) {
        val base = java.nio.file.Paths.get(scratchRoot,
          "sinks-" + java.util.UUID.randomUUID().toString).toString
        val orders = Tables.t(spark, dir, "orders")
        val even = orders.filter(col("o_orderkey") % 2 === 0)
        val odd = orders.filter(col("o_orderkey") % 2 === 1)
        val deltaDir = base + "/delta"
        graft.sources.DeltaWriter.write(even, deltaDir,
          partitionBy = Seq("o_orderpriority"))
        graft.sources.DeltaWriter.write(odd, deltaDir) // inherits the spec
        val iceDir = base + "/iceberg"
        graft.sources.IcebergWriter.write(even, iceDir,
          partitionBy = Seq("o_orderpriority"))
        graft.sources.IcebergWriter.write(odd, iceDir)
        // the FULL maintenance suite rides the SAME oracle gate: compact
        // swaps the layout, then each format's retention legs run at
        // zero retention — Delta re-checkpoints + retires every JSON
        // commit and vacuums the replaced originals; Iceberg expires all
        // non-current snapshots, sweeps orphans, and trims metadata —
        // and the queries below must STILL aggregate bit-identically to
        // the oracle over the original table
        graft.sources.DeltaWriter.compact(spark, deltaDir,
          targetFileBytes = 64L << 20)
        graft.sources.IcebergWriter.compactDataFiles(spark, iceDir,
          targetFileBytes = 64L << 20)
        Thread.sleep(5) // zero-retention cutoffs are strict `< now`
        graft.sources.DeltaWriter.cleanupLog(spark, deltaDir, retentionMs = 0L)
        graft.sources.DeltaWriter.vacuum(spark, deltaDir, retentionMs = 0L)
        graft.sources.IcebergWriter.expireSnapshots(spark, iceDir,
          olderThanMs = 0L)
        graft.sources.IcebergWriter.removeOrphanFiles(spark, iceDir,
          olderThanMs = 0L)
        graft.sources.IcebergWriter.cleanupMetadata(spark, iceDir, keepLast = 2)
        (deltaDir, iceDir)
    }(b => deleteTree(new java.io.File(b._1).getParentFile))

  private def sinkAgg(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(col("o_orderpriority"))
    .agg(count(lit(1)).as("n"),
      sum(dec2(col("o_totalprice"))).cast("double").as("total"))
    .orderBy(col("o_orderpriority"))

  /** Tables taken through the full row-level DML sequence — DELETE
    * (deletion vectors / position deletes), UPDATE with a partition MOVE,
    * MERGE-by-key with replacements AND inserts — then compacted (the
    * delete-materializing rewrite). The round-trip queries must aggregate
    * bit-identically to the oracle's pure-SQL reconstruction of the same
    * sequence over the original `orders`. Memoized like [[sinksFor]]. */
  private val dmlSinkMemo = new FixtureMemo[(String, String)]
  private def dmlSinksFor(spark: SparkSession, dir: String): (String, String) =
    dmlSinkMemo.getOrBuild((spark, dir)) {
        val base = java.nio.file.Paths.get(scratchRoot,
          "dml-" + java.util.UUID.randomUUID().toString).toString
        val orders = Tables.t(spark, dir, "orders")
        def runDml(tableDir: String, fmt: String): Unit = {
          val del = "o_orderstatus = 'F' AND o_totalprice < 100000"
          val upd = Map("o_orderpriority" -> "'9-MOVED'")
          // MERGE source: replacements for keys ≡1 (mod 997), brand-new
          // keys ≡2 shifted beyond the key space
          val src = orders.filter("o_orderkey % 997 = 1")
            .withColumn("o_orderstatus", lit("X"))
            .withColumn("o_totalprice", lit(0.0))
            .unionByName(orders.filter("o_orderkey % 997 = 2")
              .withColumn("o_orderkey", col("o_orderkey") + 50000000L)
              .withColumn("o_orderstatus", lit("N")))
          if (fmt == "delta") {
            graft.sources.DeltaWriter.write(orders, tableDir,
              partitionBy = Seq("o_orderpriority"))
            graft.sources.DeltaDml.deleteWhere(spark, tableDir, del)
            graft.sources.DeltaDml.updateWhere(spark, tableDir,
              "o_orderstatus = 'P'", upd)
            graft.sources.DeltaDml.upsert(src, tableDir, Seq("o_orderkey"))
            graft.sources.DeltaWriter.compact(spark, tableDir,
              targetFileBytes = 64L << 20)
            // fold the whole DML history into a V2 (uuid + sidecars)
            // checkpoint and retire every JSON commit — the oracle read
            // below then REPLAYS FROM THE V2 LAYOUT, putting checkpointV2
            // itself under the hash gate (round-17 verdict #6)
            graft.sources.DeltaWriter.checkpointV2(spark, tableDir)
            Thread.sleep(5) // zero-retention cutoffs are strict `< now`
            graft.sources.DeltaWriter.cleanupLog(spark, tableDir,
              retentionMs = 0L)
          } else {
            graft.sources.IcebergWriter.write(orders, tableDir,
              partitionBy = Seq("o_orderpriority"))
            graft.sources.IcebergDml.deleteWhere(spark, tableDir, del)
            graft.sources.IcebergDml.updateWhere(spark, tableDir,
              "o_orderstatus = 'P'", upd)
            graft.sources.IcebergDml.upsert(src, tableDir, Seq("o_orderkey"))
            graft.sources.IcebergWriter.compactDataFiles(spark, tableDir,
              targetFileBytes = 64L << 20)
          }
        }
        val deltaDir = base + "/delta"
        val iceDir = base + "/iceberg"
        runDml(deltaDir, "delta")
        runDml(iceDir, "iceberg")
        (deltaDir, iceDir)
    }(b => deleteTree(new java.io.File(b._1).getParentFile))

  private def dmlAgg(df: org.apache.spark.sql.DataFrame) = df
    .groupBy(col("o_orderstatus"), col("o_orderpriority"))
    .agg(count(lit(1)).as("n"),
      sum(dec2(col("o_totalprice"))).cast("double").as("total"))
    .orderBy(col("o_orderstatus"), col("o_orderpriority"))

  /** Lineitem landed as a Delta table and Z-ORDER-compacted over
    * (l_partkey, l_suppkey), plus the zone index over the clustered
    * layout — [[ZOrderKit]] under the oracle: the pruned 2-D scan must
    * lose no rows. Memoized like [[sinksFor]]. */
  private val zorderMemo =
    new FixtureMemo[(String, graft.sources.ColumnIndex.Index)]
  private def zorderSinkFor(spark: SparkSession, dir: String)
      : (String, graft.sources.ColumnIndex.Index) =
    zorderMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "zord-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/delta"
      graft.sources.DeltaWriter.write(Tables.t(spark, dir, "lineitem"), tdir)
      graft.sources.DeltaWriter.compact(spark, tdir,
        targetFileBytes = 4L << 20, zorderBy = Seq("l_partkey", "l_suppkey"))
      val idx = graft.sources.ColumnIndex.buildFromDelta(spark, tdir,
        Seq("l_partkey", "l_suppkey"))
      (tdir, idx)
    }(b => deleteTree(new java.io.File(b._1).getParentFile))

  /** A CDF-enabled Delta table taken through the [[dmlSinksFor]] DML
    * sequence — the change feed (cdc files written by the DML commits)
    * must aggregate bit-identically to the oracle's reconstruction of the
    * same change stream. Memoized like [[sinksFor]]. */
  private val cdfSinkMemo = new FixtureMemo[String]
  private def cdfSinkFor(spark: SparkSession, dir: String): String =
    cdfSinkMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "cdf-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/delta"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.DeltaWriter.write(orders, tdir,
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaCdf.enableCdf(spark, tdir) // v1
      graft.sources.DeltaDml.deleteWhere(spark, tdir,
        "o_orderstatus = 'F' AND o_totalprice < 100000") // v2
      graft.sources.DeltaDml.updateWhere(spark, tdir,
        "o_orderstatus = 'P'", Map("o_orderpriority" -> "'9-MOVED'")) // v3
      val src = orders.filter("o_orderkey % 997 = 1")
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", lit(0.0))
        .unionByName(orders.filter("o_orderkey % 997 = 2")
          .withColumn("o_orderkey", col("o_orderkey") + 50000000L)
          .withColumn("o_orderstatus", lit("N")))
      graft.sources.DeltaDml.upsert(src, tdir, Seq("o_orderkey")) // v4
      tdir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** Orders landed as an Iceberg table in THREE append snapshots (split by
    * `o_orderkey % 3`), then compacted — the incremental read from the
    * first snapshot must return exactly the later two appends' rows, with
    * the compaction's replace snapshot contributing nothing. Memoized like
    * [[sinksFor]]. Returns (tableDir, firstSnapshotId). */
  /** A small Delta table SERVED through [[graft.server.Engine]] as a
    * pinned-local relation, refreshed by a row-level delta APPLY after a
    * three-commit upstream sequence (append + delete + update) — the
    * O(delta) upgrade of the reference's whole-snapshot reload loop
    * (round-19 verdict #3). Returns the served view name. */
  private val serveRefreshMemo = new FixtureMemo[String]
  private def serveRefreshFor(spark: SparkSession, dir: String): String =
    serveRefreshMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "srvref-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/delta"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.DeltaWriter.write(orders.filter("o_orderkey % 7 = 0"), tdir)
      val eng = new graft.server.Engine(spark)
      eng.registerTable(graft.sources.TableSource(
        "serve_refresh_t", tdir, Some("delta")))
      graft.sources.DeltaWriter.write(orders.filter("o_orderkey % 7 = 1"), tdir)
      graft.sources.DeltaDml.deleteWhere(spark, tdir,
        "o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0")
      graft.sources.DeltaDml.updateWhere(spark, tdir,
        "o_orderpriority = '2-HIGH' AND o_orderkey % 7 = 0",
        Map("o_orderstatus" -> "'X'"))
      eng.refreshTick(eng.knownSource("serve_refresh_t").get)
      tdir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** Iceberg table whose column `o_orderstatus` was RENAMED to `o_status`
    * (metadata-only, field id unchanged) between two appends — the
    * incremental readers must surface the pre-rename files' values under
    * the new name through field-id projection (round-19 verdict #4). */
  private val renameIncrMemo = new FixtureMemo[String]
  private def renameIncrFor(spark: SparkSession, dir: String): String =
    renameIncrMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "renincr-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/iceberg"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 = 0"), tdir)
      graft.sources.IcebergWriter.renameColumn(spark, tdir,
        "o_orderstatus", "o_status")
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 = 1")
          .withColumnRenamed("o_orderstatus", "o_status"), tdir)
      tdir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  private val incrSinkMemo = new FixtureMemo[(String, Long)]
  private def incrSinkFor(spark: SparkSession, dir: String): (String, Long) =
    incrSinkMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "incr-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/iceberg"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 = 0"), tdir)
      val s1 = graft.sources.IcebergIncremental.currentSnapshotId(spark, tdir)
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 = 1"), tdir)
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 = 2"), tdir)
      graft.sources.IcebergWriter.compactDataFiles(spark, tdir,
        targetFileBytes = 64L << 20)
      (tdir, s1)
    }(b => deleteTree(new java.io.File(b._1).getParentFile))

  /** The same DML sequence WITHOUT CDF enabled — [[cdfSinkFor]]'s control:
    * the change stream must SYNTHESIZE from add/remove/DV-diff actions
    * alone (updates legitimately surface as delete+insert there). */
  private val cdfSynthMemo = new FixtureMemo[String]
  private def cdfSynthFor(spark: SparkSession, dir: String): String =
    cdfSynthMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "cdfs-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/delta"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.DeltaWriter.write(orders, tdir,
        partitionBy = Seq("o_orderpriority"))
      graft.sources.DeltaDml.deleteWhere(spark, tdir,
        "o_orderstatus = 'F' AND o_totalprice < 100000") // v1
      graft.sources.DeltaDml.updateWhere(spark, tdir,
        "o_orderstatus = 'P'", Map("o_orderpriority" -> "'9-MOVED'")) // v2
      val src = orders.filter("o_orderkey % 997 = 1")
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", lit(0.0))
        .unionByName(orders.filter("o_orderkey % 997 = 2")
          .withColumn("o_orderkey", col("o_orderkey") + 50000000L)
          .withColumn("o_orderstatus", lit("N")))
      graft.sources.DeltaDml.upsert(src, tdir, Seq("o_orderkey")) // v3
      tdir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** Orders landed as Iceberg, then upserted through the EQUALITY-DELETE
    * channel (zero target scan — the streaming-upsert shape), then
    * compacted so the materialization is under the gate too. Memoized
    * like [[sinksFor]]. */
  private val eqSinkMemo = new FixtureMemo[String]
  private def eqSinkFor(spark: SparkSession, dir: String): String =
    eqSinkMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "eq-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/iceberg"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.IcebergWriter.write(orders, tdir)
      val src = orders.filter("o_orderkey % 997 = 1")
        .withColumn("o_orderstatus", lit("X"))
        .withColumn("o_totalprice", lit(0.0))
        .unionByName(orders.filter("o_orderkey % 997 = 2")
          .withColumn("o_orderkey", col("o_orderkey") + 50000000L)
          .withColumn("o_orderstatus", lit("N")))
      graft.sources.IcebergDml.upsertByEquality(src, tdir, Seq("o_orderkey"))
      graft.sources.IcebergWriter.compactDataFiles(spark, tdir,
        targetFileBytes = 64L << 20)
      tdir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** The [[cdfSynthFor]] table consumed through the TAILING driver
    * ([[graft.streaming.ChangeTail]]): history chopped into three
    * micro-batches (pinned by endAt), a simulated crash-before-commit in
    * the middle (batch 1's commit marker dropped, the next poll must
    * replay it and the sink's `_SUCCESS` discipline must refuse the
    * double landing), everything landed in the exactly-once parquet sink.
    * The sink's change aggregate must equal the oracle's reconstruction —
    * a lost batch, a double-landed replay, or a drifted cursor all break
    * the hash. Memoized like [[sinksFor]]; returns the sink dir. */
  private val tailSinkMemo = new FixtureMemo[String]
  private def tailSinkFor(spark: SparkSession, dir: String): String =
    tailSinkMemo.getOrBuild((spark, dir)) {
      val tdir = cdfSynthFor(spark, dir)
      val base = java.nio.file.Paths.get(scratchRoot,
        "tail-" + java.util.UUID.randomUUID().toString).toString
      val ckpt = base + "/ckpt"
      val sink = base + "/sink"
      val proc = graft.streaming.ChangeTail.parquetSink(sink)
      def tail(endAt: Option[Long]): Unit = {
        graft.streaming.ChangeTail.tailDeltaCdf(spark, tdir, ckpt, proc,
          startFrom = 0L, endAt = endAt); ()
      }
      tail(Some(1L)) // batch 0: the DELETE commit
      tail(Some(2L)) // batch 1: the UPDATE commit
      // simulated restart: batch 1's commit marker is lost — the replay
      // must land exactly once (the sink dir is already committed)
      assert(new java.io.File(ckpt + "/commits/1").delete())
      tail(Some(2L)) // replays batch 1, skips the landing, re-marks
      tail(None) // batch 2: the MERGE commit (to the latest version)
      sink
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** The [[incrSinkFor]] Iceberg table tailed through
    * [[graft.streaming.ChangeTail.tailIcebergAppends]] — snapshot-id
    * cursor, a simulated crash-before-commit replay, the in-between
    * compaction contributing nothing. Returns the sink dir. */
  private val iceTailMemo = new FixtureMemo[String]
  private def iceTailSinkFor(spark: SparkSession, dir: String): String =
    iceTailMemo.getOrBuild((spark, dir)) {
      val (tdir, s1) = incrSinkFor(spark, dir)
      val base = java.nio.file.Paths.get(scratchRoot,
        "itail-" + java.util.UUID.randomUUID().toString).toString
      val ckpt = base + "/ckpt"
      val sink = base + "/sink"
      val proc = graft.streaming.ChangeTail.parquetSink(sink)
      def tail(): Unit = {
        graft.streaming.ChangeTail.tailIcebergAppends(spark, tdir, ckpt,
          proc, startFrom = s1); ()
      }
      tail() // one batch: both later appends (the replace snapshot skips)
      // simulated restart: lost commit marker — replay must not re-land
      assert(new java.io.File(ckpt + "/commits/0").delete())
      tail()
      sink
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** An Iceberg table whose second snapshot is a TRUNCATE-AND-REPLACE
    * (`write(mode="overwrite")`) — the changelog must synthesize the
    * dropped files' rows as deletes (whole-file removal carries no delete
    * files at all). Memoized like [[sinksFor]]. */
  private val ovwSinkMemo = new FixtureMemo[String]
  private def ovwSinkFor(spark: SparkSession, dir: String): String =
    ovwSinkMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "ovw-" + java.util.UUID.randomUUID().toString).toString
      val tdir = base + "/iceberg"
      val orders = Tables.t(spark, dir, "orders")
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 = 0"), tdir)
      graft.sources.IcebergWriter.write(
        orders.filter("o_orderkey % 3 <> 0"), tdir, mode = "overwrite")
      tdir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  /** The [[dmlSinksFor]] sequence replayed in pure SQL (both formats'
    * oracles — the on-disk results must match it bit-for-bit). */
  private val dmlOracleSql: String =
    """WITH afterdel AS (
      |  SELECT * FROM orders
      |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
      |), afterupd AS (
      |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
      |    CASE WHEN o_orderstatus = 'P' THEN '9-MOVED'
      |         ELSE o_orderpriority END AS o_orderpriority
      |  FROM afterdel
      |), src AS (
      |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
      |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 997 = 1
      |  UNION ALL
      |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
      |    o_orderdate, o_orderpriority
      |  FROM orders WHERE o_orderkey % 997 = 2
      |), merged AS (
      |  SELECT * FROM afterupd
      |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
      |  UNION ALL SELECT * FROM src
      |)
      |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Orders landed through the iceberg writer's PARTITION TRANSFORMS
    * (`years(o_orderdate)` x `bucket(4, o_orderkey)`), memoized like
    * [[sinksFor]]. The round-trip aggregate proves no row is lost or
    * duplicated across the transform tuple layout; tuple PLACEMENT is
    * pinned by IcebergWriterSpec against the spec's own murmur vectors. */
  private val transformSinkMemo = new FixtureMemo[String]
  private def transformSinkFor(spark: SparkSession, dir: String): String =
    transformSinkMemo.getOrBuild((spark, dir)) {
      val base = java.nio.file.Paths.get(scratchRoot,
        "tsink-" + java.util.UUID.randomUUID().toString).toString
      val iceDir = base + "/iceberg"
      graft.sources.IcebergWriter.write(Tables.t(spark, dir, "orders"), iceDir,
        partitionBy = Seq("years(o_orderdate)", "bucket(4,o_orderkey)"))
      iceDir
    }(b => deleteTree(new java.io.File(b).getParentFile))

  val dfQueries: Map[String, Q] = Map(
    // transactional-sink round trips: orders goes out through the writer
    // (two partitioned commits) and comes back through the protocol-level
    // loader; the aggregate must equal the oracle's over the ORIGINAL
    // table bit-for-bit
    "q_delta_sink_roundtrip" -> ((spark, dir) => {
      val (deltaDir, _) = sinksFor(spark, dir)
      sinkAgg(graft.sources.DeltaLoader.load(spark,
        graft.sources.TableSource("sink_d", deltaDir, Some("delta"))))
    }),
    "q_iceberg_sink_roundtrip" -> ((spark, dir) => {
      val (_, iceDir) = sinksFor(spark, dir)
      sinkAgg(graft.sources.IcebergLoader.load(spark,
        graft.sources.TableSource("sink_i", iceDir, Some("iceberg"))))
    }),
    // partition-transform round trip: orders goes out through
    // years()/bucket() transform tuples and comes back whole — the
    // aggregate over the rebuilt table must equal the oracle's over the
    // original bit-for-bit
    // row-level DML round trips: DELETE + partition-moving UPDATE +
    // MERGE-by-key land as deletion vectors / position deletes, compaction
    // materializes them, and the result must still equal the oracle's
    // pure-SQL reconstruction of the same sequence
    "q_delta_dml_roundtrip" -> ((spark, dir) => {
      val (deltaDir, _) = dmlSinksFor(spark, dir)
      dmlAgg(graft.sources.DeltaLoader.load(spark,
        graft.sources.TableSource("dml_d", deltaDir, Some("delta"))))
    }),
    "q_iceberg_dml_roundtrip" -> ((spark, dir) => {
      val (_, iceDir) = dmlSinksFor(spark, dir)
      dmlAgg(graft.sources.IcebergLoader.load(spark,
        graft.sources.TableSource("dml_i", iceDir, Some("iceberg"))))
    }),
    // EQUALITY-DELETE upsert (zero target scan) + compaction: the on-disk
    // result must equal the oracle's pure-SQL replace-by-key
    "q_iceberg_eq_upsert" -> ((spark, dir) => {
      val tdir = eqSinkFor(spark, dir)
      dmlAgg(graft.sources.IcebergLoader.load(spark,
        graft.sources.TableSource("eq_i", tdir, Some("iceberg"))))
    }),
    // CHANGE DATA FEED: the DML sequence's change stream (cdc files the
    // commits recorded) aggregated per change type — the oracle
    // reconstructs the same stream in pure SQL over the base table, so a
    // lost preimage, duplicated insert, or mislabeled change type breaks
    // the hash
    "q_delta_cdf" -> ((spark, dir) => {
      val tdir = cdfSinkFor(spark, dir)
      graft.sources.DeltaCdf.loadChanges(spark, tdir, fromVersion = 1L)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // CDF SYNTHESIS control: the same sequence with NO cdc files on disk —
    // the stream reconstructs from add/remove/DV-diff actions (updates
    // surface as delete+insert, the protocol's fallback semantics)
    "q_delta_cdf_synth" -> ((spark, dir) => {
      val tdir = cdfSynthFor(spark, dir)
      graft.sources.DeltaCdf.loadChanges(spark, tdir, fromVersion = 0L)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // CDF SYNTHESIS, SHUFFLE LEG: the same stream with the DV decode
    // threshold zeroed — descriptors ship to executors, each task decodes
    // its own bins, and the swap deltas anti-join with shuffles (the
    // 100 TB plan shape, under the DuckDB oracle and not just the parity
    // spec). The threshold is read at PLAN time, so the unset after
    // construction is safe; the conf guard restores the default even if
    // planning throws.
    "q_delta_cdf_synth_dist" -> ((spark, dir) => {
      val tdir = cdfSynthFor(spark, dir)
      // restore the PRE-EXISTING value, not a blanket unset — a
      // harness-provided threshold must survive this query (review
      // finding: unset discarded any user/driver-set knob)
      val prev = spark.conf.getOption("spark.graft.dvBroadcastRows")
      try {
        spark.conf.set("spark.graft.dvBroadcastRows", "0")
        graft.sources.DeltaCdf.loadChanges(spark, tdir, fromVersion = 0L)
          .groupBy(col("_change_type").as("change_type"))
          .agg(count(lit(1)).as("n"),
            sum(dec2(col("o_totalprice"))).cast("double").as("total"))
          .orderBy(col("change_type"))
      } finally prev match {
        case Some(v) => spark.conf.set("spark.graft.dvBroadcastRows", v)
        case None => spark.conf.unset("spark.graft.dvBroadcastRows")
      }
    }),
    // CDF TAILED through the checkpointing driver: the same synthesized
    // stream, consumed as three micro-batches with a simulated restart in
    // the middle, landed in the exactly-once sink — a lost batch, a
    // double-landed replay, or a drifted cursor breaks the hash
    "q_cdf_tail" -> ((spark, dir) => {
      val sink = tailSinkFor(spark, dir)
      graft.streaming.ChangeTail.readSink(spark, sink)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // ICEBERG APPENDS TAILED through the checkpointing driver: the
    // incremental scan's rows landed exactly once across a simulated
    // restart, the interleaved compaction contributing nothing
    "q_iceberg_tail" -> ((spark, dir) => {
      val sink = iceTailSinkFor(spark, dir)
      graft.streaming.ChangeTail.readSink(spark, sink)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    }),
    // ICEBERG CHANGELOG across an EQUALITY-DELETE upsert (opt-in
    // net-change mode): pre-images are parent-state rows of the
    // below-sequence files matching the delete keys
    "q_iceberg_changes_eq" -> ((spark, dir) => {
      val tdir = eqSinkFor(spark, dir)
      graft.sources.IcebergIncremental.changesBetween(spark, tdir, -1L,
          equalityNetChanges = true)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // ICEBERG CHANGELOG across a TRUNCATE-AND-REPLACE overwrite: the
    // dropped files' rows synthesize as deletes via the parent live-file
    // diff (no delete file exists to read them from)
    "q_iceberg_changes_ovw" -> ((spark, dir) => {
      val tdir = ovwSinkFor(spark, dir)
      graft.sources.IcebergIncremental.changesBetween(spark, tdir, -1L)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // ICEBERG CHANGELOG: the DML fixture's full change stream — initial
    // append as inserts, each DML snapshot's position-delete pre-images
    // and replacement rows, the compaction contributing nothing — per
    // change type against the oracle's pure-SQL reconstruction
    "q_iceberg_changes" -> ((spark, dir) => {
      val (_, iceDir) = dmlSinksFor(spark, dir)
      graft.sources.IcebergIncremental.changesBetween(spark, iceDir, -1L)
        .groupBy(col("_change_type").as("change_type"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("change_type"))
    }),
    // INCREMENTAL APPEND SCAN: rows appended after the first snapshot,
    // read from the append snapshots' own manifests (the compaction in
    // between must contribute nothing) — the oracle selects the same rows
    // from the base table
    "q_iceberg_incr" -> ((spark, dir) => {
      val (tdir, s1) = incrSinkFor(spark, dir)
      graft.sources.IcebergIncremental.appendsBetween(spark, tdir, s1)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderpriority"))
    }),
    // SERVED DELTA REFRESH: a pinned table registered in the Engine,
    // upstream committing append + delete + update, refreshed by the
    // O(delta) apply path (never a snapshot re-read) — the served view's
    // aggregate must equal the oracle's pure-SQL reconstruction of the
    // final state
    "q_serve_delta_refresh" -> ((spark, dir) => {
      serveRefreshFor(spark, dir)
      spark.table("serve_refresh_t")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_orderstatus"))
    }),
    // RENAMED-COLUMN APPEND RANGE: the incremental scan spans a
    // metadata-only column rename — pre-rename files must surface their
    // values under the NEW name via field-id projection, and the
    // LENGTH aggregate over the renamed column proves no null-filling
    // (the oracle reads the original column from the raw table)
    "q_iceberg_rename_incr" -> ((spark, dir) => {
      val tdir = renameIncrFor(spark, dir)
      graft.sources.IcebergIncremental.appendsBetween(spark, tdir, -1L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(length(col("o_status"))).as("status_len"))
        .orderBy(col("o_orderpriority"))
    }),
    "q_iceberg_transform_roundtrip" -> ((spark, dir) => {
      val iceDir = transformSinkFor(spark, dir)
      graft.sources.IcebergLoader.load(spark,
          graft.sources.TableSource("sink_t", iceDir, Some("iceberg")))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("o_totalprice"))).cast("double").as("total"))
        .orderBy(col("o_year"))
    }),
    // Zone-map column index (reference roadmap "column index"): the scan
    // plans over only the files whose ship-date interval can match, then
    // the ordinary filter+agg runs on the survivors — oracle equality
    // proves pruning lost no rows
    "q_colindex_scan" -> ((spark, dir) => {
      val (path, idx) = colIndexFor(spark, dir)
      val schema = spark.read.parquet(path).schema
      val preds = Seq(
        ("l_shipdate", "gte", "'1995-06-01'"), ("l_shipdate", "lt", "'1995-09-01'"))
      val base = idx.prunedDf(spark, preds, schema)
        .getOrElse(spark.read.parquet(path))
      base
        .filter(col("l_shipdate") >= "1995-06-01" && col("l_shipdate") < "1995-09-01")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("l_returnflag"))
    }),
    // Z-ORDER clustered scan: after the Morton-order compaction the zone
    // index prunes a CONJUNCTIVE 2-D predicate down to a corner of the
    // clustered space — oracle equality proves the pruned scan lost no rows
    "q_zorder_scan" -> ((spark, dir) => {
      val (tdir, idx) = zorderSinkFor(spark, dir)
      val preds = Seq(
        ("l_partkey", "lte", "200"), ("l_suppkey", "lte", "20"))
      val full = graft.sources.DeltaLoader.load(spark,
        graft.sources.TableSource("zord", tdir, Some("delta")))
      val base = idx.prunedDf(spark, preds, full.schema).getOrElse(full)
      base
        .filter(col("l_partkey") <= 200 && col("l_suppkey") <= 20)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(dec2(col("l_quantity"))).cast("double").as("qty"))
        .orderBy(col("l_returnflag"))
    }),
    // REST frontend: equality filter + projection + sort + limit
    "rest_filter_eq" -> ((spark, dir) => {
      RestQuery(Tables.t(spark, dir, "lineitem"), Map(
        "filter[l_returnflag]" -> "'R'",
        "filter[l_quantity]gte" -> "48",
        "columns" -> "l_orderkey,l_linenumber,l_quantity,l_extendedprice",
        "sort" -> "l_orderkey,l_linenumber,l_quantity,l_extendedprice",
        "limit" -> "100"))
    }),
    // REST frontend: range filters + desc sort + pagination
    "rest_range_page" -> ((spark, dir) => {
      RestQuery(Tables.t(spark, dir, "orders"), Map(
        "filter[o_totalprice]gt" -> "400000",
        "filter[o_totalprice]lte" -> "500000",
        "columns" -> "o_orderkey,o_totalprice",
        "sort" -> "-o_totalprice,o_orderkey",
        "limit" -> "20", "page" -> "2"))
    }),
    // REST frontend: `in` value-list filter (beyond-reference extension),
    // mixing a quoted and a schema-directed bare string element
    "rest_filter_in" -> ((spark, dir) => {
      RestQuery(Tables.t(spark, dir, "nation"), Map(
        "filter[n_name]in" -> "'NATION_3',NATION_7,'NATION_12'",
        "filter[n_nationkey]lt" -> "20",
        "columns" -> "n_nationkey,n_name,n_regionkey",
        "sort" -> "n_name"))
    }),
    // REST frontend: LIKE pattern filter (beyond-reference extension) —
    // a prefix pattern (index-prunable) plus an inner-wildcard pattern
    "rest_filter_like" -> ((spark, dir) => {
      RestQuery(Tables.t(spark, dir, "part"), Map(
        "filter[p_name]like" -> "red%",
        "filter[p_brand]like" -> "Brand#1_",
        "columns" -> "p_partkey,p_name,p_brand",
        "sort" -> "p_partkey",
        "limit" -> "50"))
    }),
    // GraphQL frontend
    "graphql_parts" -> ((spark, dir) => {
      Tables.registerAll(spark, dir)
      GraphQl.query(spark,
        """{ part(filter: {p_size: {gte: 10, lt: 20}, p_brand: "Brand#15"},
          |       sort: [{field: "p_retailprice", order: "desc"}, {field: "p_partkey"}],
          |       limit: 25)
          |  { p_partkey p_name p_retailprice p_size } }""".stripMargin)
    }),
    // pivot: per-returnflag quantity totals spread across linestatus columns;
    // the explicit value list ('P' never occurs -> an all-null column both
    // engines must agree on) keeps the schema static, as a 100 TB plan must
    // be (an unpinned pivot needs a full distinct pass before planning)
    "q_pivot" -> ((spark, dir) => {
      Tables.t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O", "P"))
        .agg(sum(dec2(col("l_quantity"))).cast("double"))
        .orderBy(col("l_returnflag"))
    }),
    // unpivot: wide -> long over two measures (the inverse reshape; Spark's
    // unpivot/melt — pure per-row projection, no shuffle beyond the sort)
    "q_unpivot" -> ((spark, dir) => {
      Tables.t(spark, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("size_v"),
          col("p_retailprice").as("price_v"))
        .unpivot(Array(col("p_partkey")), Array(col("size_v"), col("price_v")),
          "metric", "val")
        .orderBy(col("p_partkey"), col("metric"))
    }),
    // array scalar functions over the nested embedding column
    "q_array_funcs" -> ((spark, dir) => {
      Tables.t(spark, dir, "embeddings").filter(col("vec_id") < 100)
        .select(col("vec_id"),
          size(col("embedding")).cast("long").as("n"),
          element_at(col("embedding"), 1).cast("double").as("first_v"),
          element_at(col("embedding"), -1).cast("double").as("last_v"),
          array_position(col("embedding"), element_at(col("embedding"), 1))
            .as("first_pos"))
        .orderBy(col("vec_id"))
    }),
    // array explode with position (the lateral-view pattern over a nested
    // array column)
    "q_explode_embedding" -> ((spark, dir) => {
      Tables.t(spark, dir, "embeddings")
        .filter(col("vec_id") < 10)
        .select(col("vec_id"), posexplode(col("embedding")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").cast("double").as("val"))
        .orderBy(col("vec_id"), col("pos"))
    }),
    // window: rank within partition (top-2 orders per customer)
    "q_window_rank" -> ((spark, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.t(spark, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
        .orderBy(col("o_custkey"), col("rn"))
    }),
    // window: running (cumulative) sum per partition, exact decimal.
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
    // window order adds l_quantity (ties in qty leave the running sum
    // invariant) and the output order adds running_qty as final tiebreaker.
    "q_window_running_sum" -> ((spark, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.t(spark, dir, "lineitem")
        .withColumn("running_qty", sum(dec2(col("l_quantity"))).over(w).cast("double"))
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
        .orderBy(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"), col("running_qty"))
    }),
    // window: lag across event stream
    "q_window_lag" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.t(spark, dir, "events")
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .select(col("user_id"), col("event_id"), col("value"), col("prev_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // sessionization: 30-min inactivity gap via integer millis (deterministic)
    "q_sessionize" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.t(spark, dir, "events")
        .withColumn("prev_ms", lag(unix_millis(col("ts").cast("timestamp_ltz")), 1).over(w))
        .withColumn("new_session",
          when(col("prev_ms").isNull ||
            unix_millis(col("ts").cast("timestamp_ltz")) - col("prev_ms") > 1800000L, 1L).otherwise(0L))
        .groupBy(col("user_id"))
        .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    }),

    // Spark's NATIVE session-window operator (the batch face of streaming
    // sessionization): one groupBy(session_window(ts, gap), user) — the
    // engine merges overlapping per-event windows internally, no lag
    // window or self-join. The oracle rebuilds sessions with the
    // equivalent gap-chain (new-session flags -> cumulative session ids),
    // proving the native operator against first principles. Session end
    // is last_event + gap by Spark's definition; emitted as such.
    "q_session_window" -> ((spark, dir) => {
      Tables.t(spark, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
        .select(col("user_id"),
          col("session_window.start").as("session_start"),
          col("session_window.end").as("session_end"),
          col("n_events"), col("total_value"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ordered-funnel analysis: users whose FIRST view precedes their first
    // click precedes their first purchase — the event-analytics staple.
    // One user-keyed aggregate (min-ts per stage via conditional min) then
    // a single global roll-up; null-propagating comparisons implement the
    // "never reached the stage" semantics in both engines identically.
    "q_event_funnel" -> ((spark, dir) => {
      val f = Tables.t(spark, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(when(col("event_type") === "view", col("ts"))).as("v"),
          min(when(col("event_type") === "click", col("ts"))).as("c"),
          min(when(col("event_type") === "purchase", col("ts"))).as("p"))
      f.agg(
          count(col("v")).as("n_view"),
          count(when(col("c") > col("v"), lit(1))).as("n_view_click"),
          count(when(col("c") > col("v") && col("p") > col("c"), lit(1)))
            .as("n_view_click_purchase"))
        .select(col("n_view"), col("n_view_click"), col("n_view_click_purchase"),
          (col("n_view_click").cast("double") / col("n_view").cast("double"))
            .as("click_rate"),
          (col("n_view_click_purchase").cast("double") /
            col("n_view").cast("double")).as("purchase_rate"))
    }),

    // time-series gap filling: the dense hourly grid from min to max hour
    // (a generated series off a 1-row bounds aggregate — never a driver
    // loop) cross-joined with the observed event types, left-joined back
    // to the real counts with zero-fill. The grid is O(hours × types)
    // regardless of event volume, so a sparse monitoring feed renders a
    // complete dashboard line at any scale.
    "q_gap_fill" -> ((spark, dir) => {
      val e = Tables.t(spark, dir, "events")
        .select(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      val counts = e.groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val hours = e.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("hr"))
      val types = e.select(col("event_type")).distinct()
      hours.crossJoin(types)
        .join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("hr"), col("event_type"))
    }),

    // rate anomaly detection over the gap-FILLED hourly grid (zero-count
    // hours matter: a silent feed is the anomaly monitoring exists to
    // catch): each (hour, type) cell compares against its trailing-24h
    // mean; integer counts + one bounded window frame, deterministic on
    // both engines. Flag = count > 2x trailing mean (with a floor of 4 so
    // tiny baselines don't page).
    "q_rate_anomaly" -> ((spark, dir) => {
      val e = Tables.t(spark, dir, "events")
        .select(date_trunc("hour", col("ts")).as("hr"), col("event_type"))
      val counts = e.groupBy(col("hr"), col("event_type"))
        .agg(count(lit(1)).as("n"))
      val hours = e.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
        .select(explode(sequence(col("lo"), col("hi"),
          expr("INTERVAL 1 HOUR"))).as("hr"))
      val grid = hours.crossJoin(e.select(col("event_type")).distinct())
        .join(counts, Seq("hr", "event_type"), "left")
        .select(col("hr"), col("event_type"),
          coalesce(col("n"), lit(0L)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(-24, -1)
      grid
        .withColumn("trailing_n", coalesce(sum(col("n")).over(w), lit(0L)))
        .withColumn("trailing_hours", count(lit(1)).over(w))
        .filter(col("trailing_hours") === 24)
        .select(col("hr"), col("event_type"), col("n"),
          (col("trailing_n").cast("double") / 24.0).as("trailing_mean"),
          (col("n").cast("double") * 12.0 > col("trailing_n").cast("double") &&
            col("n") >= 4).as("is_anomaly"))
        .orderBy(col("hr"), col("event_type"))
    }),

    // the static skew-mitigation path end-to-end: orders scatter over 8
    // salt sub-keys, the customer dim replicates to all of them, and the
    // oracle is the PLAIN join aggregate — salting must be result-
    // invisible. (AQE's runtime skew split covers most cases; this is the
    // fallback for a key so hot even split partitions overwhelm one
    // executor.)
    "q_salted_join" -> ((spark, dir) => {
      val orders = Tables.t(spark, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_totalprice"))
      val cust = Tables.t(spark, dir, "customer")
        .select(col("c_custkey").as("custkey"), col("c_mktsegment"))
      graft.operators.Skew.saltedJoin(orders, cust, "custkey", salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("total_price"))
        .orderBy(col("c_mktsegment"))
    }),

    // time-bounded conversion: views that draw a same-user click within
    // 30 minutes. The join is user-keyed AND time-bounded,
    // so state per key is a bounded time slice at any event volume;
    // DISTINCT collapses multi-click views before the per-user roll-up.
    "q_windowed_funnel" -> ((spark, dir) => {
      val e = Tables.t(spark, dir, "events")
      val views = e.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"))
      val conv = views.join(clicks, Seq("user_id"))
        .filter(col("click_ts") > col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
        .select(col("user_id"), col("view_id")).distinct()
        .withColumn("cv", lit(1L))
      views.join(conv, Seq("user_id", "view_id"), "left")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_views"),
          coalesce(sum(col("cv")), lit(0L)).as("n_converted"))
        .select(col("user_id"), col("n_views"), col("n_converted"),
          (col("n_converted").cast("double") / col("n_views").cast("double"))
            .as("conv_rate"))
        .orderBy(col("user_id"))
    }),

    // weekly cohort retention: users grouped by the week of their first
    // event; a cohort's week-N cell counts members active N weeks later.
    // Two user-keyed aggregates + one (cohort, week) roll-up — at any
    // event volume the shuffles carry (user, week) pairs, never raw events
    "q_retention" -> ((spark, dir) => {
      val e = Tables.t(spark, dir, "events")
      // cohort/week keys as DATE on both engines (DuckDB's date_trunc
      // already yields DATE; Spark's yields timestamp — normalize)
      val firsts = e.groupBy(col("user_id"))
        .agg(to_date(date_trunc("week", min(col("ts")))).as("cohort"))
      val active = e.select(col("user_id"),
        to_date(date_trunc("week", col("ts"))).as("wk")).distinct()
      val cohortSize = firsts.groupBy(col("cohort"))
        .agg(count(lit(1)).as("n_cohort"))
      firsts.join(active, Seq("user_id"))
        .groupBy(col("cohort"),
          (datediff(col("wk"), col("cohort")) / 7)
            .cast("long").as("week_n"))
        .agg(count(lit(1)).as("n_active"))
        .join(cohortSize, Seq("cohort"))
        .select(col("cohort"), col("week_n"), col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort").cast("double"))
            .as("retention"))
        .orderBy(col("cohort"), col("week_n"))
    }),
    // backward as-of join (operators/TemporalJoins): each event picks up the
    // customer's most recent order-day summary; right side pre-aggregated to
    // one row per (key, time) so the pick is well-defined on both engines
    "q_asof_join" -> ((spark, dir) => {
      val events = Tables.t(spark, dir, "events")
        .filter(col("user_id") < 200)
        .select(col("event_id"), col("user_id"), col("ts"))
      val orders = Tables.t(spark, dir, "orders")
        .groupBy(col("o_custkey").as("user_id"),
          col("o_orderdate").cast("timestamp").as("ots"))
        .agg(max(col("o_orderkey")).as("last_ok"), count(lit(1)).as("n_orders"))
      graft.operators.TemporalJoins.asofJoin(
        events, orders, key = "user_id", leftTime = "ts", rightTime = "ots",
        rightCols = Seq("last_ok", "n_orders"))
        .select(col("event_id"), col("user_id"), col("ts"),
          col("last_ok"), col("n_orders"))
        .orderBy(col("event_id"))
    }),
    // key + range join via bin bucketing (operators/TemporalJoins): clicks
    // and views landing inside the day after the same user's purchase
    "q_range_join" -> ((spark, dir) => {
      val ev = Tables.t(spark, dir, "events")
      val points = ev.filter(col("event_type").isin("click", "view"))
        .select(col("event_id"), col("user_id"),
          col("ts").cast("timestamp_ltz").cast("long").as("pt"))
      val intervals = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").cast("timestamp_ltz").cast("long").as("start"))
        .withColumn("end", col("start") + 86400L)
      graft.operators.TemporalJoins.rangeJoin(points, intervals,
        key = "user_id", pt = "pt", start = "start", end = "end",
        binWidth = 86400L)
        .select(col("event_id"), col("user_id"), col("purchase_id"))
        .orderBy(col("event_id"), col("purchase_id"))
    }),
    // Z-order (Morton) layout clustering (operators/ZOrder): interleave the
    // low 16 bits of customer key and order epoch-day — the multi-column
    // file-skipping layout. The z-value arithmetic is pure integer builtins,
    // so the oracle recomputes it bit-for-bit; writeZOrdered + the skipping
    // measurement live in ZOrderSpec (layout effectiveness is a property of
    // written files, not of a result set).
    "q_zorder" -> ((spark, dir) => {
      val o = Tables.t(spark, dir, "orders")
      val days = datediff(col("o_orderdate").cast("date"),
        lit(java.sql.Date.valueOf("1970-01-01"))).cast("long")
      o.select(col("o_orderkey"), col("o_custkey"), days.as("o_days"),
          graft.operators.ZOrder.zValue2(col("o_custkey"), days, 16).as("zval"))
        .withColumn("zbucket", expr("zval div 1048576"))
        .orderBy(col("o_orderkey"))
    }),
    // JSON field extraction from a string column
    "q_json_extract" -> ((spark, dir) => {
      Tables.t(spark, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val"))
        .orderBy(col("event_id"))
    }),
    // nested struct construction + dotted-path access + array indexing
    // (reference README feature list: nested access `struct.key`, array idx)
    "q_nested_access" -> ((spark, dir) => {
      Tables.t(spark, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"), col("o_totalprice").as("price")).as("info"),
          array(col("o_custkey"), col("o_orderkey")).as("keys"))
        .select(col("o_orderkey"), col("info.status").as("status"),
          element_at(col("keys"), 1).as("custkey"), col("info.price").as("price"))
        .filter(col("price") > 400000)
        .orderBy(col("o_orderkey"))
    }),
    // HLL approximate distinct. Sketch values are engine-specific, so the
    // oracle checks the bounded-error PROPERTY instead of the estimate:
    // Spark emits within_3rsd = |approx-exact|/exact <= 0.15 next to the
    // exact count; DuckDB emits literal TRUE. Hash-identical iff every
    // group's sketch honors the bound (round-12 verdict #2). The gate is
    // THREE times approx_count_distinct's default rsd (0.05): rsd is a
    // standard deviation, not a bound — a 1-sigma gate would fail
    // spuriously on a regenerated corpus with ~1/3 per-group probability
    // (review finding). ApproxDistinctSpec still pins the raw estimate at
    // 5% on the current sf0.001 fixture.
    "q_approx_distinct" -> ((spark, dir) => {
      Tables.t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")).cast("double") /
            col("exact_parts") <= 0.15).as("within_3rsd"))
        .orderBy(col("l_returnflag"))
    }),
    // Approximate percentiles (KLL/GK-style sketch). Like q_approx_distinct,
    // the sketch value is engine-specific, so the oracle checks the
    // bounded-error PROPERTY: percentile_approx at accuracy 10000 has rank
    // error <= 1e-4, so the returned data value must lie between the EXACT
    // interpolated percentiles at p +- 0.01 (a 100x margin — ~600 ranks at
    // this group size, far beyond any sketch wobble on corpus regen).
    // Exact group counts anchor the rows; DuckDB emits literal TRUE.
    "q_approx_quantile" -> ((spark, dir) => {
      Tables.t(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("ap50"),
          percentile_approx(col("l_extendedprice"), lit(0.9), lit(10000)).as("ap90"),
          percentile(col("l_extendedprice"), lit(0.49)).as("lo50"),
          percentile(col("l_extendedprice"), lit(0.51)).as("hi50"),
          percentile(col("l_extendedprice"), lit(0.89)).as("lo90"),
          percentile(col("l_extendedprice"), lit(0.91)).as("hi90"))
        .select(col("l_returnflag"), col("n"),
          (col("ap50").between(col("lo50"), col("hi50")) &&
            col("ap90").between(col("lo90"), col("hi90"))).as("within_tol"))
        .orderBy(col("l_returnflag"))
    }),
    // KV-store projection (reference: columnq/src/columnq.rs:275-331):
    // key must be string-typed; this is the table the driver-side Map is built from
    "q_kv_projection" -> ((spark, dir) => {
      Tables.t(spark, dir, "customer")
        .select(col("c_custkey").cast("string").as("key"), col("c_name").as("value"))
        .na.drop(Seq("key"))
        .orderBy(col("key"))
    })
  )

  val dfOracles: Map[String, String] = Map(
    // sink round-trip equality: the Spark side aggregates what the
    // writer+loader chain produced; the oracle aggregates the original
    "q_delta_sink_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_iceberg_sink_roundtrip" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_iceberg_transform_roundtrip" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // DML round-trip equality: the oracle replays the DELETE, the
    // partition-moving UPDATE, and the MERGE in pure SQL over the base
    // table; the Spark side aggregates what the DML writers + compaction
    // actually produced on disk
    "q_delta_dml_roundtrip" -> dmlOracleSql,
    "q_iceberg_dml_roundtrip" -> dmlOracleSql,
    // equality-delete upsert: pure replace-by-key over the base table
    "q_iceberg_eq_upsert" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), merged AS (
        |  SELECT * FROM orders
        |  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |  UNION ALL SELECT * FROM src
        |)
        |SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM merged GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the change STREAM the same DML sequence must record: delete
    // preimages, update pre+post images, merge delete+insert — per
    // change type, reconstructed in pure SQL
    "q_delta_cdf" ->
      """WITH afterdel AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        |), afterupd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    CASE WHEN o_orderstatus = 'P' THEN '9-MOVED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM afterdel
        |), src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), changes AS (
        |  SELECT 'delete' AS change_type, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        |  UNION ALL
        |  SELECT 'update_preimage', o_totalprice FROM afterdel
        |  WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'update_postimage', o_totalprice FROM afterdel
        |  WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterupd
        |  WHERE o_orderkey IN (SELECT o_orderkey FROM src)
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM src
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // synthesized change stream: updates legitimately surface as
    // delete+insert (no cdc files to correlate pre/post images)
    "q_delta_cdf_synth" ->
      """WITH afterdel AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        |), afterupd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    CASE WHEN o_orderstatus = 'P' THEN '9-MOVED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM afterdel
        |), src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), changes AS (
        |  SELECT 'delete' AS change_type, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterupd
        |  WHERE o_orderkey IN (SELECT o_orderkey FROM src)
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM src
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // the shuffle leg reads the SAME stream — identical oracle
    "q_delta_cdf_synth_dist" ->
      """WITH afterdel AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        |), afterupd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    CASE WHEN o_orderstatus = 'P' THEN '9-MOVED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM afterdel
        |), src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), changes AS (
        |  SELECT 'delete' AS change_type, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterupd
        |  WHERE o_orderkey IN (SELECT o_orderkey FROM src)
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM src
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // the tailed sink holds exactly the synthesized change stream —
    // batching, restart replay, and the exactly-once landing must be
    // invisible in the aggregate
    "q_cdf_tail" ->
      """WITH afterdel AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        |), afterupd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    CASE WHEN o_orderstatus = 'P' THEN '9-MOVED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM afterdel
        |), src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), changes AS (
        |  SELECT 'delete' AS change_type, o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterupd
        |  WHERE o_orderkey IN (SELECT o_orderkey FROM src)
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM src
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // the tailed iceberg sink = exactly the two later appends' rows
    "q_iceberg_tail" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // net-change changelog across the equality-delete upsert: the
    // replaced keys' pre-image rows as deletes, both appends as inserts
    "q_iceberg_changes_eq" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), changes AS (
        |  SELECT 'insert' AS change_type, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM src
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM orders WHERE o_orderkey % 997 = 1
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // truncate-and-replace changelog: the first append in, then out
    // again as synthesized whole-file deletes, the replacement in
    "q_iceberg_changes_ovw" ->
      """WITH changes AS (
        |  SELECT 'insert' AS change_type, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM orders WHERE o_orderkey % 3 <> 0
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // the iceberg changelog: the synth-CDF stream PLUS the initial
    // append's inserts (changesBetween(-1) covers table creation)
    "q_iceberg_changes" ->
      """WITH afterdel AS (
        |  SELECT * FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000)
        |), afterupd AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
        |    CASE WHEN o_orderstatus = 'P' THEN '9-MOVED'
        |         ELSE o_orderpriority END AS o_orderpriority
        |  FROM afterdel
        |), src AS (
        |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
        |    0.0 AS o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 1
        |  UNION ALL
        |  SELECT o_orderkey + 50000000, o_custkey, 'N', o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 = 2
        |), changes AS (
        |  SELECT 'insert' AS change_type, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM orders
        |  WHERE o_orderstatus = 'F' AND o_totalprice < 100000
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM afterdel WHERE o_orderstatus = 'P'
        |  UNION ALL
        |  SELECT 'delete', o_totalprice FROM afterupd
        |  WHERE o_orderkey IN (SELECT o_orderkey FROM src)
        |  UNION ALL
        |  SELECT 'insert', o_totalprice FROM src
        |)
        |SELECT change_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM changes GROUP BY 1 ORDER BY 1""".stripMargin,
    // the served view after the refresh sequence = base slices, minus
    // the deleted urgent rows, with the high-priority status rewrite
    "q_serve_delta_refresh" ->
      """SELECT CASE WHEN o_orderpriority = '2-HIGH' AND o_orderkey % 7 = 0
        |            THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderkey % 7 IN (0, 1)
        |  AND NOT (o_orderpriority = '1-URGENT' AND o_orderkey % 7 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // field-id projection across the rename: values of the pre-rename
    // files' o_orderstatus must ride into o_status — a null-filled
    // column zeroes the length sum and hash-mismatches
    "q_iceberg_rename_incr" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(LENGTH(o_orderstatus)) AS BIGINT) AS status_len
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // the incremental read = exactly the rows of the two later appends
    "q_iceberg_incr" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 3 <> 0
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // pruned z-ordered scan equality (the q_colindex_scan shape, 2-D)
    "q_zorder_scan" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_partkey <= 200 AND l_suppkey <= 20
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // pruned-scan equality: the Spark side reads only index-survivor files
    "q_colindex_scan" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-06-01'
        |  AND l_shipdate < TIMESTAMP '1995-09-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // bounded-error property check: the oracle asserts the exact counts and
    // that every group's HLL estimate landed within 3x its advertised rsd
    // (the Spark side computes within_3rsd from its own sketch)
    "q_approx_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_3rsd
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // bounded-error property for the percentile sketch (see the queries()
    // scaladoc): exact counts anchor the rows, the tolerance flag is TRUE
    "q_approx_quantile" ->
      """SELECT l_returnflag, COUNT(*) AS n, TRUE AS within_tol
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // pivot spelled as CASE aggregation (DuckDB's PIVOT names differ)
    "q_pivot" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS F,
        |  CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS O,
        |  CAST(SUM(CASE WHEN l_linestatus = 'P' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS P
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // unpivot spelled as UNION ALL (metric values = source column names)
    "q_unpivot" ->
      """SELECT p_partkey, 'size_v' AS metric, CAST(p_size AS DOUBLE) AS val FROM part
        |UNION ALL
        |SELECT p_partkey, 'price_v' AS metric, p_retailprice AS val FROM part
        |ORDER BY p_partkey, metric""".stripMargin,
    // array scalars: 1-based indexing both engines; float equality is
    // bit-identical so list_position agrees
    "q_array_funcs" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS n,
        |  CAST(embedding[1] AS DOUBLE) AS first_v,
        |  CAST(embedding[-1] AS DOUBLE) AS last_v,
        |  CAST(list_position(embedding, embedding[1]) AS BIGINT) AS first_pos
        |FROM embeddings WHERE vec_id < 100
        |ORDER BY vec_id""".stripMargin,
    // posexplode spelled as zipped unnests
    "q_explode_embedding" ->
      """SELECT vec_id,
        |  CAST(unnest(range(0, len(embedding))) AS BIGINT) AS pos,
        |  unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS val
        |FROM embeddings WHERE vec_id < 10
        |ORDER BY vec_id, pos""".stripMargin,
    "rest_filter_eq" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_returnflag = 'R' AND l_quantity >= 48
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |LIMIT 100""".stripMargin,
    "rest_range_page" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 400000 AND o_totalprice <= 500000
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 20 OFFSET 20""".stripMargin,
    "rest_filter_like" ->
      """SELECT p_partkey, p_name, p_brand
        |FROM part
        |WHERE p_name LIKE 'red%' AND p_brand LIKE 'Brand#1_'
        |ORDER BY p_partkey
        |LIMIT 50""".stripMargin,
    "rest_filter_in" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation
        |WHERE n_name IN ('NATION_3', 'NATION_7', 'NATION_12') AND n_nationkey < 20
        |ORDER BY n_name""".stripMargin,
    "graphql_parts" ->
      """SELECT p_partkey, p_name, p_retailprice, p_size
        |FROM part
        |WHERE p_size >= 10 AND p_size < 20 AND p_brand = 'Brand#15'
        |ORDER BY p_retailprice DESC, p_partkey
        |LIMIT 25""".stripMargin,
    "q_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 2
        |ORDER BY o_custkey, rn""".stripMargin,
    "q_window_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
        |FROM lineitem
        |ORDER BY l_suppkey, l_orderkey, l_linenumber, running_qty""".stripMargin,
    "q_window_lag" ->
      """SELECT user_id, event_id, value,
        |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,
    "q_sessionize" ->
      """SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events FROM (
        |  SELECT user_id,
        |    CASE WHEN prev_ms IS NULL OR epoch_ms(ts) - prev_ms > 1800000 THEN 1 ELSE 0 END AS new_session
        |  FROM (
        |    SELECT user_id, ts,
        |      LAG(epoch_ms(ts), 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ms
        |    FROM events) t1
        |) t2 GROUP BY user_id ORDER BY user_id""".stripMargin,
    // gap-chain rebuild of Spark's session_window: a session BREAKS when
    // the gap is >= 30 min (event windows [ts, ts+gap) merge iff they
    // overlap, i.e. strictly less); end = last event + gap
    "q_session_window" ->
      """WITH o AS (SELECT user_id, ts, value,
        |  LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (SELECT user_id, ts, value,
        |  CASE WHEN prev IS NULL OR ts - prev >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        |  FROM o),
        |g AS (SELECT user_id, ts, value,
        |  SUM(ns) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q_event_funnel" ->
      """WITH f AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS v,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS c,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS p
        |  FROM events GROUP BY user_id)
        |SELECT CAST(count(v) AS BIGINT) AS n_view,
        |  CAST(count(CASE WHEN c > v THEN 1 END) AS BIGINT) AS n_view_click,
        |  CAST(count(CASE WHEN c > v AND p > c THEN 1 END) AS BIGINT) AS n_view_click_purchase,
        |  CAST(count(CASE WHEN c > v THEN 1 END) AS DOUBLE) / CAST(count(v) AS DOUBLE) AS click_rate,
        |  CAST(count(CASE WHEN c > v AND p > c THEN 1 END) AS DOUBLE) / CAST(count(v) AS DOUBLE) AS purchase_rate
        |FROM f""".stripMargin,
    "q_gap_fill" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS hr, event_type FROM events),
        |c AS (SELECT hr, event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM e),
        |hrs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |t AS (SELECT DISTINCT event_type FROM e)
        |SELECT hrs.hr, t.event_type, coalesce(c.n, CAST(0 AS BIGINT)) AS n
        |FROM hrs CROSS JOIN t LEFT JOIN c ON hrs.hr = c.hr AND c.event_type = t.event_type
        |ORDER BY hrs.hr, t.event_type""".stripMargin,
    "q_windowed_funnel" ->
      """WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id, ts AS click_ts FROM events WHERE event_type = 'click'),
        |conv AS (SELECT DISTINCT v.user_id, v.view_id FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.click_ts > v.view_ts AND c.click_ts <= v.view_ts + INTERVAL 30 MINUTE)
        |SELECT v.user_id, CAST(count(*) AS BIGINT) AS n_views,
        |  CAST(count(conv.view_id) AS BIGINT) AS n_converted,
        |  CAST(count(conv.view_id) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conv_rate
        |FROM v LEFT JOIN conv ON v.user_id = conv.user_id AND v.view_id = conv.view_id
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,
    "q_rate_anomaly" ->
      """WITH e AS (SELECT date_trunc('hour', ts) AS hr, event_type FROM events),
        |c AS (SELECT hr, event_type, CAST(count(*) AS BIGINT) AS n FROM e GROUP BY 1, 2),
        |b AS (SELECT min(hr) AS lo, max(hr) AS hi FROM e),
        |hrs AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr FROM b),
        |t AS (SELECT DISTINCT event_type FROM e),
        |g AS (SELECT hrs.hr, t.event_type, coalesce(c.n, CAST(0 AS BIGINT)) AS n
        |  FROM hrs CROSS JOIN t LEFT JOIN c ON hrs.hr = c.hr AND c.event_type = t.event_type),
        |wn AS (SELECT hr, event_type, n,
        |  CAST(coalesce(SUM(n) OVER (PARTITION BY event_type ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS trailing_n,
        |  COUNT(*) OVER (PARTITION BY event_type ORDER BY hr ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING) AS th
        |  FROM g)
        |SELECT hr, event_type, n, CAST(trailing_n AS DOUBLE) / 24.0 AS trailing_mean,
        |  (CAST(n AS DOUBLE) * 12.0 > CAST(trailing_n AS DOUBLE) AND n >= 4) AS is_anomaly
        |FROM wn WHERE th = 24 ORDER BY hr, event_type""".stripMargin,
    "q_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_retention" ->
      """WITH firsts AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort FROM events GROUP BY user_id),
        |active AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events),
        |cs AS (SELECT cohort, CAST(count(*) AS BIGINT) AS n_cohort FROM firsts GROUP BY cohort),
        |r AS (SELECT f.cohort, CAST(date_diff('day', f.cohort, a.wk) // 7 AS BIGINT) AS week_n,
        |  CAST(count(*) AS BIGINT) AS n_active
        |  FROM firsts f JOIN active a ON f.user_id = a.user_id
        |  GROUP BY 1, 2)
        |SELECT r.cohort, r.week_n, r.n_active, cs.n_cohort,
        |  CAST(r.n_active AS DOUBLE) / CAST(cs.n_cohort AS DOUBLE) AS retention
        |FROM r JOIN cs ON r.cohort = cs.cohort
        |ORDER BY r.cohort, r.week_n""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
        |FROM events
        |ORDER BY event_id""".stripMargin,
    "q_nested_access" ->
      """SELECT o_orderkey, o_orderstatus AS status, o_custkey AS custkey,
        |  o_totalprice AS price
        |FROM orders
        |WHERE o_totalprice > 400000
        |ORDER BY o_orderkey""".stripMargin,
    "q_kv_projection" ->
      """SELECT CAST(c_custkey AS VARCHAR) AS key, c_name AS value
        |FROM customer
        |ORDER BY key""".stripMargin,
    // DuckDB has native ASOF JOIN — it pins the same backward semantics the
    // union+window plan implements
    "q_asof_join" ->
      """WITH r AS (SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ots,
        |             max(o_orderkey) AS last_ok, count(*) AS n_orders
        |           FROM orders GROUP BY 1, 2),
        |     l AS (SELECT event_id, user_id, ts FROM events WHERE user_id < 200)
        |SELECT l.event_id, l.user_id, l.ts, r.last_ok, r.n_orders
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ots
        |ORDER BY l.event_id""".stripMargin,
    // same Morton interleave in integer SQL: bit b of custkey -> 2b, of
    // epoch-day -> 2b+1, low 16 bits each
    "q_zorder" ->
      """WITH d AS (SELECT o_orderkey, o_custkey,
        |  CAST(datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS o_days
        |  FROM orders),
        |z AS (SELECT o_orderkey, o_custkey, o_days,
        |  CAST(list_sum(list_transform(range(0, 16), b ->
        |    ((o_custkey // (CAST(1 AS BIGINT) << b)) % 2) * (CAST(1 AS BIGINT) << (2*b))
        |    + ((o_days // (CAST(1 AS BIGINT) << b)) % 2) * (CAST(1 AS BIGINT) << (2*b+1)))) AS BIGINT) AS zval
        |  FROM d)
        |SELECT o_orderkey, o_custkey, o_days, zval, zval // 1048576 AS zbucket
        |FROM z ORDER BY o_orderkey""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts)//1000000 AS pt FROM events
        |           WHERE event_type IN ('click','view')),
        |     i AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts)//1000000 AS s
        |           FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, i.purchase_id
        |FROM p JOIN i ON p.user_id = i.user_id AND p.pt >= i.s AND p.pt <= i.s + 86400
        |ORDER BY p.event_id, i.purchase_id""".stripMargin
  )

  val queries: Map[String, Q] =
    (sqlBoth ++ sqlBothExtra).map { case (name, text) => name -> sqlQ(text) } ++ dfQueries

  val oracles: Map[String, String] = sqlBoth ++ sqlBothExtra ++ dfOracles
}
