package servebench

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One request: a kind with its parameters, sent over one transport with one
  * ACCEPT. Its text and its expected answer both derive from the
  * parameters, so the request list never needs to be stored. */
final case class Req(id: Int, kind: String, transport: String, accept: String,
                     a: Long, b: Long, c: Long)

/** The wire form of a request: an HTTP call, or SQL for pg / Flight. */
final case class Call(method: String, target: String, body: String, sql: String,
                      ordered: Boolean)

/** A workload: a seeded request generator plus an oracle for its answers. */
trait Workload {
  def req(i: Int): Req
  def call(r: Req): Call
  /** Computed outside the timed window, from the raw parquet through the
    * DataFrame API; never through the engine, the frontends or Encoders. */
  def prepareOracle(spark: SparkSession, data: Data): Unit
  def expected(r: Req): Answer
}

object Workload {
  def mix(seed: Long, i: Long): Long = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L

  val Json = "application/json"
  val Csv = "application/csv"
  val Arrow = "application/vnd.apache.arrow.stream"

  def enc(s: String): String = URLEncoder.encode(s, UTF_8)

  def date(days: Long): String = LocalDate.parse(Data.Epoch).plusDays(days).toString

  def sqlCall(sql: String, ordered: Boolean): Call =
    Call("POST", "/api/sql", sql, sql, ordered)
}

/** Many independent API users doing small lookups: REST filter+limit,
  * GraphQL, SQL point/aggregate and KV gets over HTTP/1.1, h2c and pg wire.
  *
  * Kinds follow a fixed 24-slot rotation in which each interface (REST,
  * GraphQL, SQL, KV) gets a quarter of the requests, split equally among its
  * kinds. Within a kind, key popularity is Zipf with exponent 0.99, YCSB's
  * default request distribution. The sequence of popularity ranks comes from
  * a fixed generator and is the same in every run, so the number of requests
  * that find a key not asked for before (the cache misses) does not depend
  * on the seed; the seed decides which key holds each rank. */
final class ServeHot(seed: Long) extends Workload {
  import Workload._

  /** (kind, slots out of 24, size of its key space) */
  private val kinds = Seq(("rest_cust", 3, 250), ("rest_part", 3, 250),
    ("gql_supp", 6, 250), ("sql_point", 2, Data.Suppliers.toInt), ("sql_agg", 2, 2500),
    ("sql_nation", 2, 125), ("kv", 6, Data.Customers.toInt))
  val ZipfExponent = 0.99

  private val slots = new scala.util.Random(42).shuffle(
    kinds.flatMap { case (k, w, _) => Seq.fill(w)(k) }).toIndexedSeq
  /** (the kind's index, the number of its slots before slot s) for each slot */
  private val slotPos = slots.indices.map { s =>
    (kinds.indexWhere(_._1 == slots(s)), slots.take(s).count(_ == slots(s)))
  }
  /** rank -> key: a seeded permutation of each kind's key space */
  private val keys: IndexedSeq[Array[Int]] = kinds.zipWithIndex.map { case ((_, _, n), j) =>
    new scala.util.Random(seed * 31 + j).shuffle((0 until n).toIndexedSeq).toArray
  }.toIndexedSeq
  /** Zipf cumulative distribution over each kind's ranks */
  private val cdf: IndexedSeq[Array[Double]] = kinds.map { case (_, _, n) =>
    val c = (1 to n).map(r => math.pow(r, -ZipfExponent)).scanLeft(0.0)(_ + _).tail.toArray
    c.map(_ / c.last)
  }.toIndexedSeq

  /** Popularity rank (0 = most popular) of the `o`-th request of kind `k`:
    * the same in every run. */
  def rank(k: Int, o: Int): Int = {
    val u = new SplittableRandom(mix(42 + k, o)).nextDouble()
    val i = java.util.Arrays.binarySearch(cdf(k), u)
    math.min(if (i >= 0) i else -i - 1, cdf(k).length - 1)
  }

  def req(i: Int): Req = {
    val (k, before) = slotPos(i % slots.size)
    val kind = kinds(k)._1
    val o = (i / slots.size) * kinds(k)._2 + before
    val trs = if (kind.startsWith("sql")) Seq("http1", "h2c", "pg") else Seq("http1", "h2c")
    withKey(i, kind, trs((i + i / slots.size) % trs.size), keys(k)(rank(k, o)))
  }

  private def withKey(i: Int, kind: String, tr: String, k: Int): Req = kind match {
    case "kv" | "sql_point" => Req(i, kind, tr, Json, k + 1, 0, 0)
    case "rest_part" => Req(i, kind, tr, Json, k % Data.Sizes + 1, k / Data.Sizes, 0)
    case "rest_cust" | "gql_supp" | "sql_agg" => Req(i, kind, tr, Json, k % Data.Nations, k / Data.Nations, 0)
    case "sql_nation" => Req(i, kind, tr, Json, k % Data.Regions, k / Data.Regions, 0)
  }

  def custName(k: Long): String = f"Customer_$k%07d"

  def call(r: Req): Call = r.kind match {
    case "rest_cust" =>
      Call("GET", s"/api/tables/customer?${enc("filter[c_nationkey]eq")}=${r.a}" +
        s"&${enc("filter[c_acctbal]gt")}=${r.b * 1000}" +
        "&sort=c_custkey&limit=5&columns=c_custkey,c_name,c_acctbal", null, null, ordered = true)
    case "rest_part" =>
      Call("GET", s"/api/tables/part?${enc("filter[p_size]eq")}=${r.a}" +
        s"&${enc("filter[p_retailprice]gt")}=${PartPriceFloor + r.b * 200}" +
        "&sort=p_partkey&limit=5&columns=p_partkey,p_name,p_retailprice", null, null,
        ordered = true)
    case "gql_supp" =>
      val q = s"""{ supplier(filter: {s_nationkey: {eq: ${r.a}}, s_acctbal: {gt: ${r.b * 1000}}},""" +
        """ sort: [{field: "s_suppkey"}], limit: 5) { s_suppkey s_name s_acctbal } }"""
      Call("POST", "/api/graphql", q, null, ordered = true)
    case "sql_point" =>
      sqlCall(s"SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_suppkey = ${r.a}", false)
    case "sql_agg" =>
      sqlCall("SELECT count(*) AS n, sum(s_acctbal) AS bal, max(s_suppkey) AS mx " +
        s"FROM supplier WHERE s_nationkey = ${r.a} AND s_acctbal > ${r.b * 100}", false)
    case "sql_nation" =>
      sqlCall(s"SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = ${r.a} " +
        s"AND n_nationkey >= ${r.b} ORDER BY n_nationkey", true)
    case "kv" => Call("GET", s"/api/kv/cust_bal/${custName(r.a)}", null, null, ordered = false)
  }

  private val PartPriceFloor = 900

  /** A supplier or a customer */
  private final case class Acct(key: Int, name: String, nation: Int, bal: java.math.BigDecimal)
  private final case class Part(key: Int, name: String, size: Int, price: java.math.BigDecimal)
  private var supp: IndexedSeq[Acct] = _
  private var cust: IndexedSeq[Acct] = _
  private var custByKey: Map[Int, Acct] = _
  private var part: IndexedSeq[Part] = _
  private var nation: IndexedSeq[(Int, String, Int)] = _

  def prepareOracle(spark: SparkSession, data: Data): Unit = {
    def rows(t: String, cols: String*) = spark.read.parquet(data.path(t)).select(cols.map(col): _*).collect()
    def accts(t: String, key: String, p: String) = rows(t, key, s"${p}name", s"${p}nationkey", s"${p}acctbal")
      .map(r => Acct(r.getInt(0), r.getString(1), r.getInt(2), r.getDecimal(3))).toIndexedSeq.sortBy(_.key)
    supp = accts("supplier", "s_suppkey", "s_")
    cust = accts("customer", "c_custkey", "c_")
    custByKey = cust.map(c => c.key -> c).toMap
    part = rows("part", "p_partkey", "p_name", "p_size", "p_retailprice")
      .map(r => Part(r.getInt(0), r.getString(1), r.getInt(2), r.getDecimal(3)))
      .toIndexedSeq.sortBy(_.key)
    nation = rows("nation", "n_nationkey", "n_name", "n_regionkey")
      .map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toIndexedSeq.sortBy(_._1)
  }

  private def ans(ordered: Boolean, rows: Seq[Seq[Any]]): Answer =
    Answer(rows.map(_.map(Check.norm).toIndexedSeq).toIndexedSeq, ordered)

  /** The first five accounts of nation `r.a` with a balance above `r.b` thousand */
  private def richest5(accts: IndexedSeq[Acct], r: Req): Answer = {
    val lim = java.math.BigDecimal.valueOf(r.b * 1000)
    ans(true, accts.filter(s => s.nation == r.a && s.bal.compareTo(lim) > 0).take(5)
      .map(s => Seq(s.key, s.name, s.bal)))
  }

  def expected(r: Req): Answer = r.kind match {
    case "rest_cust" => richest5(cust, r)
    case "rest_part" =>
      val lim = java.math.BigDecimal.valueOf(PartPriceFloor + r.b * 200)
      ans(true, part.filter(p => p.size == r.a && p.price.compareTo(lim) > 0).take(5)
        .map(p => Seq(p.key, p.name, p.price)))
    case "gql_supp" => richest5(supp, r)
    case "sql_point" =>
      ans(false, supp.filter(_.key == r.a).map(s => Seq(s.key, s.name, s.bal)))
    case "sql_agg" =>
      val lim = java.math.BigDecimal.valueOf(r.b * 100)
      val ss = supp.filter(s => s.nation == r.a && s.bal.compareTo(lim) > 0)
      ans(false, Seq(Seq(ss.size.toLong,
        if (ss.isEmpty) null else ss.map(_.bal).reduce(_ add _),
        if (ss.isEmpty) null else ss.map(_.key).max)))
    case "sql_nation" =>
      ans(true, nation.filter(n => n._3 == r.a && n._1 >= r.b).map(n => Seq(n._1, n._2)))
    case "kv" => ans(false, custByKey.get(r.a.toInt).toSeq.map(c => Seq(c.bal)))
  }
}

/** Ad-hoc analytical requests on the distributed tables: date windows,
  * group keys and limits vary by seed, ACCEPT is spread over JSON, CSV and
  * Arrow stream, Arrow also over Flight SQL. A unique comment makes every
  * request text unique, so the plan and result caches are bypassed. */
final class ServeScan(seed: Long) extends Workload {
  import Workload._

  private val LiDays = Data.Days + 120
  private val EvHours = (Data.EventSpanSec / 3600).toInt

  def req(i: Int): Req = {
    // kinds, transports, formats, window lengths and limits rotate through
    // fixed steps, so every run asks for the same amount of work (a short run
    // holds few requests, and a seeded mix moved latency by 15% between
    // seeds); where each window starts is seeded
    val rnd = new SplittableRandom(mix(seed, i))
    val kind = Seq("li_agg", "ord_seg", "li_rows", "ev_agg")(i % 4)
    val tr = Seq("http1", "h2c", "flight")((i / 4) % 3)
    val accept = if (tr == "flight") Arrow else Seq(Json, Csv, Arrow)((i / 12) % 3)
    val step = (i / 4 + i / 12) % 3
    kind match {
      case "li_agg" =>
        val len = Seq(30, 120, 365)(step); val a = rnd.nextInt(LiDays - len)
        Req(i, kind, tr, accept, a, a + len, 0)
      case "ord_seg" =>
        val len = Seq(30, 120, 365)(step); val a = rnd.nextInt(Data.Days - len)
        Req(i, kind, tr, accept, a, a + len, 0)
      case "li_rows" =>
        val len = Seq(20, 45, 90)(step); val a = rnd.nextInt(LiDays - len)
        Req(i, kind, tr, accept, a, a + len, Seq(100, 500, 2000, 8000)((i / 12) % 4))
      case _ =>
        val len = Seq(24, 168, 720)(step); val a = rnd.nextInt(EvHours - len)
        Req(i, kind, tr, accept, a, a + len, 0)
    }
  }

  private def hour(h: Long): String =
    java.time.LocalDateTime.parse(Data.Epoch + "T00:00:00").plusHours(h).toString.replace('T', ' ') + ":00"

  def call(r: Req): Call = {
    val tag = s"/* q${r.id} */ "
    r.kind match {
      case "li_agg" => sqlCall(tag + "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "sum(l_quantity) AS q, sum(l_extendedprice) AS p FROM lineitem " +
        s"WHERE l_shipdate >= DATE '${date(r.a)}' AND l_shipdate < DATE '${date(r.b)}' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus", true)
      case "ord_seg" => sqlCall(tag + "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS tp " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        s"WHERE o_orderdate >= DATE '${date(r.a)}' AND o_orderdate < DATE '${date(r.b)}' " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment", true)
      case "li_rows" => sqlCall(tag + "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice " +
        s"FROM lineitem WHERE l_shipdate >= DATE '${date(r.a)}' AND l_shipdate < DATE '${date(r.b)}' " +
        s"ORDER BY l_orderkey, l_linenumber LIMIT ${r.c}", true)
      case "ev_agg" => sqlCall(tag + "SELECT e_type, count(*) AS n, sum(e_value) AS v FROM events " +
        s"WHERE e_ts >= TIMESTAMP '${hour(r.a)}' AND e_ts < TIMESTAMP '${hour(r.b)}' " +
        "GROUP BY e_type ORDER BY e_type", true)
    }
  }

  // day/hour -> per-group (count, sums); rows of lineitem in key order
  private var liDay: Map[Int, Seq[(String, String, Long, java.math.BigDecimal, java.math.BigDecimal)]] = _
  private var ordDay: Map[Int, Seq[(String, Long, java.math.BigDecimal)]] = _
  private var evHour: Map[Int, Seq[(String, Long, Long)]] = _
  private var liRows: Array[(Int, Long, Int, java.math.BigDecimal, java.math.BigDecimal)] = _

  def prepareOracle(spark: SparkSession, data: Data): Unit = {
    val epoch = lit(java.sql.Date.valueOf(Data.Epoch))
    val li = spark.read.parquet(data.path("lineitem"))
    liDay = li.groupBy(datediff(col("l_shipdate"), epoch).as("d"), col("l_returnflag"),
        col("l_linestatus"))
      .agg(count(lit(1)), sum("l_quantity"), sum("l_extendedprice")).collect()
      .groupBy(_.getInt(0)).map { case (d, rs) =>
        d -> rs.toSeq.map(r => (r.getString(1), r.getString(2), r.getLong(3), r.getDecimal(4), r.getDecimal(5)))
      }
    ordDay = spark.read.parquet(data.path("orders"))
      .join(spark.read.parquet(data.path("customer")), col("o_custkey") === col("c_custkey"))
      .groupBy(datediff(col("o_orderdate"), epoch).as("d"), col("c_mktsegment"))
      .agg(count(lit(1)), sum("o_totalprice")).collect()
      .groupBy(_.getInt(0)).map { case (d, rs) =>
        d -> rs.toSeq.map(r => (r.getString(1), r.getLong(2), r.getDecimal(3)))
      }
    evHour = spark.read.parquet(data.path("events"))
      .groupBy(floor((unix_seconds(col("e_ts")) - lit(Data.EpochSec)) / 3600).cast("int").as("h"),
        col("e_type"))
      .agg(count(lit(1)), sum("e_value")).collect()
      .groupBy(_.getInt(0)).map { case (h, rs) =>
        h -> rs.toSeq.map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
      }
    liRows = li.select(datediff(col("l_shipdate"), epoch), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"))
      .orderBy("l_orderkey", "l_linenumber").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDecimal(3), r.getDecimal(4)))
  }

  private def ans(rows: Seq[Seq[Any]]): Answer =
    Answer(rows.map(_.map(Check.norm).toIndexedSeq).toIndexedSeq, ordered = true)

  def expected(r: Req): Answer = r.kind match {
    case "li_agg" =>
      val g = (r.a until r.b).flatMap(d => liDay.getOrElse(d.toInt, Nil))
        .groupBy(x => (x._1, x._2)).toSeq.sortBy(_._1)
      ans(g.map { case ((rf, ls), xs) =>
        Seq(rf, ls, xs.map(_._3).sum, xs.map(_._4).reduce(_ add _), xs.map(_._5).reduce(_ add _))
      })
    case "ord_seg" =>
      val g = (r.a until r.b).flatMap(d => ordDay.getOrElse(d.toInt, Nil)).groupBy(_._1).toSeq.sortBy(_._1)
      ans(g.map { case (seg, xs) => Seq(seg, xs.map(_._2).sum, xs.map(_._3).reduce(_ add _)) })
    case "li_rows" =>
      ans(liRows.iterator.filter(x => x._1 >= r.a && x._1 < r.b).take(r.c.toInt)
        .map(x => Seq(x._2, x._3, x._4, x._5)).toSeq)
    case "ev_agg" =>
      val g = (r.a until r.b).flatMap(h => evHour.getOrElse(h.toInt, Nil)).groupBy(_._1).toSeq.sortBy(_._1)
      ans(g.map { case (t, xs) => Seq(t, xs.map(_._2).sum, xs.map(_._3).sum) })
  }
}

/** The freshness reader beside serve_scan: `max(batch), count(*), sum(v)` of
  * the two refresh tables, checked against the refresh invariant. A unique
  * comment per read keeps it off the caches, as the scan is. */
final class RefreshReads extends Workload {
  import Workload._

  def req(i: Int): Req = Req(i, "rt_read", Seq("http1", "h2c", "pg")((i / 2) % 3), Json, i % 2, 0, 0)

  def call(r: Req): Call = sqlCall(s"/* r${r.id} */ SELECT max(batch) AS b, count(*) AS n, " +
    s"sum(v) AS s FROM ${Data.RefreshTables(r.a.toInt)}", false)

  def prepareOracle(spark: SparkSession, data: Data): Unit = ()
  def expected(r: Req): Answer = throw new UnsupportedOperationException("refresh reads check an invariant")
}
