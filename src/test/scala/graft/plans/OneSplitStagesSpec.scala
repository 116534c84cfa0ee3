package graft.plans

import java.sql.{Date, Timestamp}
import java.time.{LocalDate, ZoneOffset}
import java.util.UUID
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec

import graft.SparkSpec
import graft.server.Engine
import graft.sources.TableSource

/** A query over a one-split file scan runs as one Spark stage: the serving
  * benchmark's aggregate shapes over a one-file table return the rows the
  * same data gives as four files, with no shuffle and one job (the
  * broadcast join two); every case the rule must leave alone keeps its
  * exchanges. Tables are served distributed (`use_memory_table=false`). */
class OneSplitStagesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val day0 = LocalDate.parse("2024-01-01")

  /** Writes `df` as `files` parquet files and serves it as `name`. */
  private def serve(e: Engine, name: String, df: DataFrame, files: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("onesplit").toString
    df.repartition(files).write.mode("overwrite").parquet(dir)
    assert(new java.io.File(dir).list().count(_.endsWith(".parquet")) === files)
    e.registerTable(TableSource(name, dir, Some("parquet"), memTable = Some(false)))
  }

  /** lineitem-, events-, orders- and customer-shaped tables, each once as
    * one file (`<name>1`) and once as four (`<name>4`). */
  private lazy val engine = {
    val s = spark
    import s.implicits._
    val li = (0 until 2000).map { i =>
      (Seq("A", "N", "R")(i % 3), Seq("F", "O")(i % 7 % 2), BigDecimal(i % 50 + 1),
        BigDecimal(i) * BigDecimal("1.25"), Date.valueOf(day0.plusDays(i % 365)))
    }.toDF("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_shipdate")
    val ev = (0 until 2000).map { i =>
      (Seq("view", "click", "buy", "share")(i % 4), (i * 37 % 101).toLong,
        Timestamp.from(day0.atStartOfDay().plusMinutes(i * 17L).toInstant(ZoneOffset.UTC)))
    }.toDF("e_type", "e_value", "e_ts")
    val ord = (0 until 1500).map { i =>
      (i % 300, BigDecimal(i) * BigDecimal("3.5"), Date.valueOf(day0.plusDays(i % 365)))
    }.toDF("o_custkey", "o_totalprice", "o_orderdate")
    val cust = (0 until 300).map(i => (i, Seq("AUTO", "BUILD", "FURN", "HOUSE", "MACH")(i % 5)))
      .toDF("c_custkey", "c_mktsegment")
    val e = new Engine(spark, true)
    for ((name, df) <- Seq("li" -> li, "ev" -> ev, "ord" -> ord, "cust" -> cust); files <- Seq(1, 4))
      serve(e, s"$name$files", df, files)
    e
  }

  private def liAgg(t: String) = "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
    s"sum(l_quantity) AS q, sum(l_extendedprice) AS p FROM $t " +
    "WHERE l_shipdate >= DATE '2024-02-01' AND l_shipdate < DATE '2024-09-15' " +
    "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
  private def evAgg(t: String) = s"SELECT e_type, count(*) AS n, sum(e_value) AS v FROM $t " +
    "WHERE e_ts >= TIMESTAMP '2024-01-03 05:00:00' AND e_ts < TIMESTAMP '2024-01-17 00:00:00' " +
    "GROUP BY e_type ORDER BY e_type"
  private def ordSeg(o: String, c: String) = "SELECT c_mktsegment, count(*) AS n, " +
    s"sum(o_totalprice) AS tp FROM $o JOIN $c ON o_custkey = c_custkey " +
    "WHERE o_orderdate >= DATE '2024-03-01' AND o_orderdate < DATE '2024-07-01' " +
    "GROUP BY c_mktsegment ORDER BY c_mktsegment"

  private def shuffles(p: SparkPlan): Seq[ShuffleExchangeLike] = collect(p) { case s: ShuffleExchangeLike => s }
  private def planned(df: DataFrame): Seq[ShuffleExchangeLike] = shuffles(df.queryExecution.executedPlan)

  /** Runs `body` and counts the Spark jobs it started. A marker job run
    * after it is seen last, as the listener bus delivers in order. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = "one-split-" + UUID.randomUUID
    val counted, markers = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties).map(_.getProperty("spark.job.tags", "")).getOrElse("")
        if (tags.split(",").contains(tag)) counted.incrementAndGet()
        if (tags.split(",").contains(tag + "-end")) markers.incrementAndGet()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      val out = try body finally sc.removeJobTag(tag)
      sc.addJobTag(tag + "-end")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(tag + "-end")
      val deadline = System.nanoTime() + 20000000000L
      while (markers.get == 0 && System.nanoTime() < deadline) Thread.sleep(5)
      assert(markers.get === 1, "the listener never saw the marker job")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def rows(sql: String): (Seq[Row], Seq[ShuffleExchangeLike], Int) = {
    val df = engine.querySql(sql)
    val (out, n) = jobs(df.collect().toSeq)
    (out, shuffles(df.queryExecution.executedPlan), n)
  }

  test("li_agg and ev_agg over one file: the four-file rows, no shuffle, one job") {
    for ((shape, name) <- Seq((liAgg _, "li"), (evAgg _, "ev"))) {
      val (one, oneShuffles, oneJobs) = rows(shape(s"${name}1"))
      val (four, fourShuffles, _) = rows(shape(s"${name}4"))
      assert(one.nonEmpty && one === four, name)
      assert(oneShuffles.isEmpty, name)
      assert(oneJobs === 1, name)
      assert(fourShuffles.size === 2, s"$name over four files keeps the hash and the range exchange")
    }
  }

  test("ord_seg (broadcast join) over one file: the four-file rows, the broadcast plus one job") {
    val (one, oneShuffles, oneJobs) = rows(ordSeg("ord1", "cust1"))
    val (four, fourShuffles, _) = rows(ordSeg("ord4", "cust4"))
    assert(one.nonEmpty && one === four)
    assert(oneShuffles.isEmpty)
    assert(oneJobs === 2)
    assert(fourShuffles.nonEmpty)
  }

  test("the split count is the one the scan's read RDD plans") {
    val want = rows(liAgg("li4"))._1
    // defaults: one file one partition, four files four; a one-byte open
    // cost cuts the one file into pieces; with one partition wanted as well,
    // the four files pack into one
    for ((openCost, minParts, one) <- Seq(("4194304", None, Set("li1")), ("1", None, Set.empty[String]),
      ("1", Some("1"), Set("li1", "li4"))); t <- Seq("li1", "li4")) {
      val keys = Seq("spark.sql.files.openCostInBytes", "spark.sql.files.minPartitionNum")
      val prev = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys.head, openCost)
      minParts.foreach(spark.conf.set(keys(1), _))
      try {
        val df = engine.querySql(liAgg(t))
        val parts = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
          .map(_.inputRDD.getNumPartitions)
        assert(df.collect().toSeq === want)
        val ctx = s"$t open cost $openCost min partitions $minParts: $parts"
        assert((parts === Seq(1)) === one(t), ctx)
        assert(shuffles(df.queryExecution.executedPlan).isEmpty === one(t), ctx)
      } finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("nondeterministic expressions, sort-merge joins and repartitions keep their exchanges") {
    def kept(sql: String): Seq[Row] = {
      val (out, sh, _) = rows(sql)
      assert(sh.exists(_.shuffleOrigin == ENSURE_REQUIREMENTS), s"$sql\n$sh")
      out
    }
    assert(kept("SELECT l_returnflag, count(*) AS n FROM li1 WHERE rand(7) < 0.5 " +
      "GROUP BY l_returnflag ORDER BY l_returnflag").map(_.getLong(1)).sum < 2000)
    kept("SELECT l_returnflag, first(l_quantity) AS f FROM li1 GROUP BY l_returnflag")
    assert(kept("SELECT l_returnflag, count(*) AS n FROM (SELECT *, monotonically_increasing_id() " +
      "AS id FROM li1) WHERE id >= 0 GROUP BY l_returnflag").map(_.getLong(1)).sum === 2000)
    val ordered = rows(ordSeg("ord4", "cust4"))._1
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = engine.querySql(ordSeg("ord1", "cust1"))
      assert(df.collect().toSeq === ordered)
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case j: SortMergeJoinExec => j }.nonEmpty, plan.toString)
      assert(shuffles(plan).count(_.shuffleOrigin == ENSURE_REQUIREMENTS) >= 2, plan.toString)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    val rep = engine.querySql("SELECT /*+ REPARTITION(3) */ l_returnflag, count(*) AS n FROM li1 " +
      "GROUP BY l_returnflag")
    assert(rep.collect().map(_.getLong(1)).sum === 2000)
    val repShuffles = shuffles(rep.queryExecution.executedPlan)
    assert(repShuffles.exists(_.shuffleOrigin == ENSURE_REQUIREMENTS), repShuffles.toString)
    assert(repShuffles.exists(_.shuffleOrigin != ENSURE_REQUIREMENTS), repShuffles.toString)
  }

  test("planning a one-file aggregate starts no job and creates no broadcast") {
    val sc = spark.sparkContext
    val df = engine.querySql(liAgg("li1"))
    // a job broadcasts its task binary, so broadcasts are counted apart from jobs
    val before = sc.broadcast(0)
    val sh = planned(df)
    val after = sc.broadcast(0)
    try {
      assert(sh.isEmpty)
      assert(after.id === before.id + 1, "planning created a broadcast")
    } finally { before.destroy(); after.destroy() }
    assert(jobs(planned(engine.querySql(liAgg("li1"))))._2 === 0)
  }
}
