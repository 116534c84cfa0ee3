package graft.plans

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{Literal, Nondeterministic, Rand, Randn}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.SparkSpec
import graft.server.Engine
import graft.sources.TableSource

/** The ad-hoc serving path compiles each query shape once: filter and
  * projection literals travel in the generated class's references, so two
  * requests that differ only in their values share one class, with every
  * answer unchanged. Runs on a table served distributed
  * (`use_memory_table=false`), where the rule matters. */
class HoistLiteralsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val day0 = LocalDate.parse("2024-01-01")
  private val n = 300

  /** One parquet file (one partition, rows in file order) of
    * (i int, d date, ts timestamp, x double, s string). */
  private lazy val engine = {
    val dir = java.nio.file.Files.createTempDirectory("hoist").toString
    val s = spark
    import s.implicits._
    (0 until n).map { i =>
      (i, Date.valueOf(day0.plusDays(i % 60)),
        Timestamp.from(day0.atStartOfDay().plusHours(i).toInstant(ZoneOffset.UTC)),
        i * 0.25, s"s$i")
    }.toDF("i", "d", "ts", "x", "s").coalesce(1).write.mode("overwrite").parquet(dir)
    val e = new Engine(spark, true)
    e.registerTable(TableSource("hl_t", dir, Some("parquet"), memTable = Some(false)))
    e
  }
  private lazy val input: Seq[Row] =
    engine.querySql("SELECT i, d, ts, x, s FROM hl_t").collect().toSeq.sortBy(_.getInt(0))
  private def date(r: Row): LocalDate = r.getDate(1).toLocalDate
  private def ts(r: Row): LocalDateTime =
    LocalDateTime.ofInstant(r.getTimestamp(2).toInstant, ZoneOffset.UTC)

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def hoisted(df: DataFrame): Int =
    collect(df.queryExecution.executedPlan)(p =>
      p.expressions.flatMap(_.collect { case h: HoistedLiteral => h })).size

  private def window(from: Int, to: Int, hours: Int, over: Int): String =
    s"SELECT i, d, i * 3 AS j FROM hl_t WHERE d >= DATE '${day0.plusDays(from)}' " +
      s"AND d < DATE '${day0.plusDays(to)}' " +
      s"AND ts < TIMESTAMP '${day0.atStartOfDay().plusHours(hours).toString.replace('T', ' ')}:00' " +
      s"AND i > $over"

  private def expectedWindow(from: Int, to: Int, hours: Int, over: Int): Seq[(Int, String, Int)] =
    input.filter { r =>
      val d = date(r)
      !d.isBefore(day0.plusDays(from)) && d.isBefore(day0.plusDays(to)) &&
        ts(r).isBefore(day0.atStartOfDay().plusHours(hours)) && r.getInt(0) > over
    }.map(r => (r.getInt(0), date(r).toString, r.getInt(0) * 3)).sortBy(_._1)

  private def rows(df: DataFrame): Seq[(Int, String, Int)] =
    df.collect().toSeq.map(r => (r.getInt(0), r.getDate(1).toString, r.getInt(2))).sortBy(_._1)

  test("two requests differing only in DATE, TIMESTAMP and INT literals compile once") {
    val first = engine.querySql(window(5, 40, 200, 10))
    assert(rows(first) === expectedWindow(5, 40, 200, 10))
    assert(hoisted(first) > 0, first.queryExecution.executedPlan.toString)
    val before = compiles
    val second = engine.querySql(window(12, 31, 150, 33))
    val got = rows(second)
    assert(compiles === before, "the second request of a shape must not compile")
    assert(got === expectedWindow(12, 31, 150, 33))
    assert(got.nonEmpty && got != rows(first))
    // an aggregate shape, two stages under AQE, shares its classes too
    def agg(from: Int, to: Int) = engine.querySql(s"SELECT count(*) AS c, sum(i) AS t FROM hl_t " +
      s"WHERE d >= DATE '${day0.plusDays(from)}' AND d < DATE '${day0.plusDays(to)}' AND i % 2 = 1")
    def aggExpected(from: Int, to: Int) = {
      val xs = input.filter { r =>
        val d = date(r)
        !d.isBefore(day0.plusDays(from)) && d.isBefore(day0.plusDays(to)) && r.getInt(0) % 2 == 1
      }.map(_.getInt(0).toLong)
      (xs.size.toLong, xs.sum)
    }
    val a1 = agg(3, 20).head()
    assert((a1.getLong(0), a1.getLong(1)) === aggExpected(3, 20))
    val before2 = compiles
    val a2 = agg(21, 50).head()
    assert(compiles === before2, "the second aggregate of a shape must not compile")
    assert((a2.getLong(0), a2.getLong(1)) === aggExpected(21, 50))
  }

  test("rand and randn in WHERE keep Spark's per-partition sequence") {
    // one file, so one partition (index 0) read in file order
    val parts = engine.querySql("SELECT spark_partition_id() AS p FROM hl_t")
      .collect().map(_.getInt(0)).distinct
    assert(parts.toSeq === Seq(0))
    def draws(e: Nondeterministic) = {
      e.initialize(0)
      input.map(r => (r.getInt(0), e.eval().asInstanceOf[Double]))
    }
    val fileOrder = engine.querySql("SELECT i FROM hl_t").collect().map(_.getInt(0)).toSeq
    assert(fileOrder === input.map(_.getInt(0)))
    val keepRand = draws(Rand(Literal(7))).filter(_._2 < 0.5).map(_._1)
    val keepRandn = draws(Randn(Literal(3))).filter(_._2 > 0.0).map(_._1)
    assert(engine.querySql("SELECT i FROM hl_t WHERE rand(7) < 0.5")
      .collect().map(_.getInt(0)).toSeq === keepRand)
    assert(engine.querySql("SELECT i FROM hl_t WHERE randn(3) > 0.0")
      .collect().map(_.getInt(0)).toSeq === keepRandn)
  }

  test("projection, IN-list and window shapes keep their results") {
    val df = engine.querySql("SELECT i, substring(s, 2, 3) AS sub, round(x, 1) AS rx, " +
      "date_add(d, 3) AS d3, element_at(array(i, i + 1), 2) AS e, d + INTERVAL 1 DAY AS d1, " +
      "pmod(i - 150, 7) AS pm FROM hl_t WHERE i IN (3, 5, 150, 251, 299)")
    val got = df.collect().toSeq.map(r =>
      (r.getInt(0), r.getString(1), r.getDouble(2), r.get(3).toString, r.getInt(4),
        r.get(5).toString, r.getInt(6))).sortBy(_._1)
    val want = input.filter(r => Set(3, 5, 150, 251, 299)(r.getInt(0))).map { r =>
      val i = r.getInt(0)
      (i, r.getString(4).slice(1, 4),
        BigDecimal(r.getDouble(3)).setScale(1, BigDecimal.RoundingMode.HALF_UP).toDouble,
        date(r).plusDays(3).toString, i + 1, date(r).plusDays(1).toString,
        Math.floorMod(i - 150, 7))
    }
    assert(got === want)
    assert(hoisted(df) > 0)

    val w = engine.querySql("SELECT i, sum(i) OVER (ORDER BY i ROWS BETWEEN 2 PRECEDING " +
      "AND CURRENT ROW) AS w FROM hl_t WHERE i < 40")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(w === (0 until 40).map(i => (i, (math.max(0, i - 2) to i).map(_.toLong).sum)))
  }

  test("division by zero still raises DIVIDE_BY_ZERO under ANSI") {
    val prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try {
      val err = intercept[Exception](
        engine.querySql("SELECT i / 0 AS q FROM hl_t WHERE i > 2").collect())
      val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("DIVIDE_BY_ZERO")), err.toString)
    } finally spark.conf.set("spark.sql.ansi.enabled", prev)
  }

  test("EXPLAIN and the executed plan still show the literal values") {
    val sql = "SELECT i + 41 AS k FROM hl_t WHERE d >= DATE '2024-01-17' AND i > 123"
    val explained = engine.querySql("EXPLAIN " + sql).collect().map(_.getString(0)).mkString
    assert(explained.contains("2024-01-17") && explained.contains("123"), explained)
    val df = engine.querySql(sql)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(hoisted(df) > 0, plan)
    Seq("2024-01-17", "> 123", "+ 41").foreach(v => assert(plan.contains(v), plan))
    assert(!plan.contains("HoistedLiteral"), plan)
  }
}
