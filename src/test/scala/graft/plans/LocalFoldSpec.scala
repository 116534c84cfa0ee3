package graft.plans

import org.apache.spark.sql.execution.LocalTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftSession, RefFixtures}

/** The serving-path local folds: Sort/Limit over a LocalRelation complete
  * at optimization time, with semantics identical to the distributed
  * operators (ordering, null placement, ties, limit), and the fold never
  * touches distributed (file-scan) plans. */
class LocalFoldSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()
  import spark.implicits._

  private def localDf = Seq(
    ("c", Some(3.0)), ("a", Some(1.0)), ("d", None: Option[Double]),
    ("b", Some(2.0)), ("e", Some(2.0))).toDF("k", "v")

  test("ORDER BY + LIMIT over a local relation folds to a bare LocalTableScan") {
    localDf.createOrReplaceTempView("lf_t")
    val df = spark.sql(
      "SELECT k, v FROM lf_t WHERE v IS NOT NULL ORDER BY v DESC, k LIMIT 3")
    val plan = df.queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], plan.toString)
    assert(df.collect().map(_.getString(0)).toSeq == Seq("c", "b", "e"))
  }

  test("fold preserves null ordering, desc/asc mix, and tie stability") {
    localDf.createOrReplaceTempView("lf_t")
    // every ordering is TOTAL (k is unique): "v DESC" alone would leave the
    // (b, e) tie unspecified, where the distributed side's answer depends
    // on partition read order — not a fold bug, an under-specified query
    for (order <- Seq("v DESC NULLS FIRST, k", "v ASC NULLS LAST, k DESC",
                      "v DESC, k DESC", "k")) {
      val sql = s"SELECT k, v FROM lf_t ORDER BY $order"
      val folded = spark.sql(sql).collect().map(_.getString(0)).toSeq
      // reference: the same sort over a DISTRIBUTED copy of the rows (a
      // parquet round-trip defeats the LocalRelation pattern)
      val dir = java.nio.file.Files.createTempDirectory("lfold").toString
      localDf.write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).createOrReplaceTempView("lf_dist")
      val dist = spark.sql(s"SELECT k, v FROM lf_dist ORDER BY $order")
      assert(!dist.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
      assert(folded == dist.collect().map(_.getString(0)).toSeq, s"order=$order")
    }
  }

  test("GROUP BY aggregate over a local relation folds to a LocalTableScan") {
    localDf.createOrReplaceTempView("lf_t")
    val df = spark.sql(
      "SELECT k, count(*) AS n, sum(v) AS s FROM lf_t GROUP BY k ORDER BY k")
    assert(df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
      df.queryExecution.executedPlan.toString)
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows == Seq("a" -> 1L, "b" -> 1L, "c" -> 1L, "d" -> 1L, "e" -> 1L))
  }

  test("aggregate fold matches distributed execution across shapes") {
    // a richer local table: repeated keys, nulls, negatives
    val rich = Seq(
      ("x", Some(3.0), 1L), ("x", None: Option[Double], 2L), ("y", Some(-1.5), 3L),
      ("y", Some(2.5), 4L), ("y", Some(2.5), 5L), ("z", None: Option[Double], 6L)
    ).toDF("k", "v", "id")
    rich.createOrReplaceTempView("lf_rich")
    val dir = java.nio.file.Files.createTempDirectory("lfagg").toString
    rich.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("lf_rich_dist")
    val shapes = Seq(
      // null-skipping sum/avg/min/max, count(*) vs count(v)
      "SELECT k, count(*) AS n, count(v) AS nv, sum(v) AS s, avg(v) AS a, " +
        "min(v) AS mn, max(v) AS mx FROM %s GROUP BY k ORDER BY k",
      // DISTINCT (on a non-float input) and FILTER clauses
      "SELECT k, count(DISTINCT id) AS dv, sum(v) FILTER (WHERE v > 0) AS sp " +
        "FROM %s GROUP BY k ORDER BY k",
      // expression over aggregates + grouping expr in a computed projection
      "SELECT upper(k) AS uk, sum(v) / count(*) AS ratio FROM %s GROUP BY k, upper(k) ORDER BY uk",
      // GLOBAL aggregate (no grouping), and over an empty filter result
      "SELECT count(*) AS n, sum(v) AS s FROM %s",
      "SELECT count(*) AS n, sum(v) AS s FROM %s WHERE id > 100")
    shapes.foreach { tpl =>
      val local = spark.sql(tpl.format("lf_rich"))
      assert(local.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec],
        s"not folded: $tpl\n${local.queryExecution.executedPlan}")
      val dist = spark.sql(tpl.format("lf_rich_dist"))
      assert(!dist.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
      assert(local.collect().toSeq == dist.collect().toSeq, s"shape: $tpl")
    }
    // unsupported function (typed-imperative percentile) falls through to
    // normal execution with correct results — the fold must never capture
    // what it cannot evaluate
    val pct = spark.sql(
      "SELECT k, percentile(v, 0.5) AS p FROM lf_rich GROUP BY k ORDER BY k")
    assert(!pct.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec])
    assert(pct.collect().length == 3)
    // float grouping keys and float DISTINCT inputs stay on normal
    // execution: the fold groups/dedups on raw bytes, which would split
    // -0.0 from 0.0 where NormalizeFloatingNumbers merges them
    Seq("SELECT v, count(*) AS n FROM lf_rich GROUP BY v",
        "SELECT k, count(DISTINCT v) AS dv FROM lf_rich GROUP BY k").foreach { q =>
      assert(!spark.sql(q).queryExecution.executedPlan
        .isInstanceOf[LocalTableScanExec], q)
    }
    // and the -0.0 case concretely: one group either path
    Seq(("a", 0.0), ("a", -0.0)).toDF("k", "v").createOrReplaceTempView("lf_zero")
    val z = spark.sql("SELECT v, count(*) AS n FROM lf_zero GROUP BY v").collect()
    assert(z.length == 1 && z.head.getLong(1) == 2L, z.mkString(","))
  }

  test("a literal-only SELECT serves through the engine without a Spark job") {
    import graft.server.Engine
    val e = new Engine(spark, readOnly = true)
    val df = e.querySql("SELECT 1 AS one, upper('x') AS s, 2 + 3 AS five")
    assert(df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      df.queryExecution.logical.getClass.toString)
    val t = spark.sparkContext.statusTracker
    val before = t.getJobIdsForGroup(null).length
    val row = df.collect().head
    assert(t.getJobIdsForGroup(null).length == before, "a job was launched")
    assert(row.getInt(0) == 1 && row.getString(1) == "X" && row.getInt(2) == 5)
  }

  test("the engine re-pins small tables locally; use_memory_table=false opts out") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    import graft.server.Engine
    import graft.sources.TableSource
    val csv = RefFixtures.path("uk_cities_with_headers.csv")
    val e = new Engine(spark, readOnly = true)
    e.registerTable(TableSource("lf_cities", csv))
    val plan = e.querySql(
      "SELECT city FROM lf_cities WHERE lat > 51 ORDER BY lat DESC LIMIT 5")
      .queryExecution.executedPlan
    assert(plan.isInstanceOf[LocalTableScanExec], plan.toString)
    e.registerTable(TableSource("lf_cities_fs", csv,
      options = Map("use_memory_table" -> "false")))
    val scan = e.querySql("SELECT city FROM lf_cities_fs ORDER BY lat LIMIT 5")
      .queryExecution.executedPlan.toString
    assert(scan.contains("FileScan"), scan)
    // identical results either way
    val a = e.querySql("SELECT city, lat FROM lf_cities ORDER BY lat DESC LIMIT 5")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val b = e.querySql("SELECT city, lat FROM lf_cities_fs ORDER BY lat DESC LIMIT 5")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(a == b)
    e.dropTable("lf_cities"); e.dropTable("lf_cities_fs")
  }

  test("REST in/like filters fold job-free on pinned tables (literal commas)") {
    assume(RefFixtures.present("uk_cities_with_headers.csv"))
    import graft.server.Engine
    import graft.sources.TableSource
    val csv = RefFixtures.path("uk_cities_with_headers.csv")
    val e = new Engine(spark, readOnly = true)
    e.registerTable(TableSource("lf_inlike", csv))
    // quoted in-list values carry LITERAL commas through the comma-separated
    // list; the pinned-local plan folds to a LocalRelation (no Spark job)
    val inDf = e.queryRest("lf_inlike", Map(
      "filter[city]in" -> "'London, UK','Oxford, Oxfordshire, UK'",
      "columns" -> "city", "sort" -> "city"))
    assert(inDf.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      inDf.queryExecution.logical.getClass.toString)
    assert(inDf.collect().map(_.getString(0)).toSeq ==
      Seq("London, UK", "Oxford, Oxfordshire, UK"))
    val likeDf = e.queryRest("lf_inlike", Map(
      "filter[city]like" -> "Sw%", "columns" -> "city", "sort" -> "city"))
    assert(likeDf.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(likeDf.collect().map(_.getString(0)).toSeq ==
      Seq("Swansea, Swansea, UK", "Swindon, Swindon, UK"))
    e.dropTable("lf_inlike")
  }
}
