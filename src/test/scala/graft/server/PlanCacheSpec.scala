package graft.server

import graft.SparkSpec
import graft.sources.TableSource

/** Serving-side analyzed-plan reuse (reference: FlightSQL's per-handle plan
  * cache, roapi/src/server/flight_sql.rs:109-110,820-857 — here keyed on SQL
  * text, shared by every frontend that goes through Engine.querySql). */
class PlanCacheSpec extends SparkSpec {

  private def newEngine(readOnly: Boolean = true) = {
    val e = new Engine(spark, readOnly)
    e.registerTable(TableSource("pc_region", s"$sf0001/region.parquet", Some("parquet")))
    e.registerTable(TableSource("pc_nation", s"$sf0001/nation.parquet", Some("parquet")))
    e
  }

  test("repeated SQL text reuses the analyzed plan (no re-analysis)") {
    val e = newEngine()
    val sql = "SELECT r_name FROM pc_region ORDER BY r_regionkey"
    val h0 = e.planCacheHits.get()
    val df1 = e.querySql(sql)
    val df2 = e.querySql(sql)
    assert(df2 eq df1, "second call must return the cached DataFrame instance")
    assert(e.planCacheHits.get() === h0 + 1)
    // and the cached plan still executes correctly
    assert(df2.collect().map(_.getString(0)).sorted.length === 5)
  }

  test("repeated distributed SQL hits the cache with a fresh, unexecuted DataFrame") {
    val e = newEngine()
    e.registerTable(TableSource("pc_nation_dist", s"$sf0001/nation.parquet",
      Some("parquet"), memTable = Some(false)))
    val want = spark.read.parquet(s"$sf0001/nation.parquet").collect().toSeq
      .groupBy(_.getAs[Number]("n_regionkey").longValue)
      .map { case (k, rs) => (k, rs.size.toLong) }.toSeq.sorted
    val sql = "SELECT n_regionkey, count(*) AS n FROM pc_nation_dist " +
      "GROUP BY n_regionkey ORDER BY n_regionkey"
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(r => (r.getAs[Number](0).longValue, r.getLong(1)))
    val h0 = e.planCacheHits.get()
    val df1 = e.querySql(sql)
    assert(rows(df1) === want)
    val df2 = e.querySql(sql)
    val df3 = e.querySql(sql)
    assert(e.planCacheHits.get() === h0 + 2)
    assert(!(df2 eq df1) && !(df3 eq df2), "a distributed hit must not hand out an executed plan")
    // the hit reuses the analysis, not the execution
    assert(df2.queryExecution.analyzed eq df1.queryExecution.analyzed)
    assert(rows(df2) === want && rows(df3) === want)
    // a pinned (re-pinned small table) or folded statement stays one instance
    val pinned = "SELECT n_name FROM pc_nation WHERE n_regionkey = 1"
    assert(e.querySql(pinned) eq e.querySql(pinned))
    assert(e.querySql("SELECT 7 AS k") eq e.querySql("SELECT 7 AS k"))
  }

  test("registry changes invalidate the cache (no stale view resolution)") {
    val e = newEngine(readOnly = false)
    val sql = "SELECT count(*) AS n FROM pc_tmp"
    e.registerTable(TableSource("pc_tmp", s"$sf0001/region.parquet", Some("parquet")))
    val df1 = e.querySql(sql)
    assert(df1.head().getLong(0) === 5L)
    // re-register the same name over a different source: the cached plan
    // would still read region — the invalidation must drop it
    e.registerTable(TableSource("pc_tmp", s"$sf0001/nation.parquet", Some("parquet")))
    val df2 = e.querySql(sql)
    assert(!(df2 eq df1))
    assert(df2.head().getLong(0) === 25L)
    // drop also invalidates: the next call must fail analysis, not serve stale
    e.dropTable("pc_tmp")
    intercept[Exception](e.querySql(sql).collect())
  }

  test("SQL-level DDL is never cached and clears the cache (no stale views)") {
    val e = newEngine()
    e.querySql("CREATE OR REPLACE TEMP VIEW pc_ddl AS SELECT 1 AS x")
    assert(e.querySql("SELECT x FROM pc_ddl").head().getInt(0) === 1)
    // the replace must not be swallowed by a cache hit, and the cached
    // SELECT must not keep serving the first view definition
    e.querySql("CREATE OR REPLACE TEMP VIEW pc_ddl AS SELECT 2 AS x")
    assert(e.querySql("SELECT x FROM pc_ddl").head().getInt(0) === 2)
  }

  test("nondeterministic queries bypass the cache (fresh seed per request)") {
    val e = newEngine()
    val sql = "SELECT rand() AS r FROM pc_region LIMIT 1"
    val a = e.querySql(sql)
    val b = e.querySql(sql)
    assert(!(a eq b), "rand() query must not return the cached instance")
    // deterministic queries still cache around it
    val s2 = "SELECT r_regionkey FROM pc_region ORDER BY r_regionkey"
    assert(e.querySql(s2) eq e.querySql(s2))
  }

  test("nondeterminism inside a subquery also bypasses the cache") {
    val e = newEngine()
    // Expression.find does not descend into subquery plans — a regression
    // here caches the frozen rand() seed and replays it per request
    val sql = "SELECT r_regionkey FROM pc_region " +
      "WHERE r_regionkey > (SELECT rand() - 1.0)"
    val a = e.querySql(sql)
    val b = e.querySql(sql)
    assert(!(a eq b), "subquery rand() must not return the cached instance")
    val tsql = "SELECT r_regionkey FROM pc_region " +
      "WHERE r_regionkey >= (SELECT min(r_regionkey) FROM pc_region)"
    assert(e.querySql(tsql) eq e.querySql(tsql),
      "deterministic subqueries must still cache")
  }

  test("information_schema queries bypass the cache (snapshot-per-call)") {
    val e = newEngine(readOnly = false)
    val sql = "SELECT count(*) AS n FROM information_schema.tables"
    val n1 = e.querySql(sql).head().getLong(0)
    e.registerTable(TableSource("pc_extra", s"$sf0001/region.parquet", Some("parquet")))
    val n2 = e.querySql(sql).head().getLong(0)
    assert(n2 === n1 + 1)
  }

  test("cached plans skip analysis: p50 latency reported (informational)") {
    val e = newEngine()
    val sql = "SELECT r.r_name, count(*) AS n FROM pc_region r JOIN pc_nation n " +
      "ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name"
    def p50(runs: Int)(body: Int => Unit): Double = {
      val ts = (1 to runs).map { i =>
        val t0 = System.nanoTime(); body(i); (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(runs / 2)
    }
    // unique text per call -> cache miss -> full parse+analysis every time
    val uncached = p50(11)(i => e.querySql(sql + s" -- v$i"))
    val cachedEngineWarm = e.querySql(sql) // populate
    val cached = p50(11)(_ => e.querySql(sql))
    info(f"querySql p50: uncached(analyze)=$uncached%.2f ms, cached=$cached%.2f ms")
    assert(cachedEngineWarm != null)
    // no timing assert (machine-load-dependent); the instance-reuse test
    // above pins the behavior, this records the magnitude
  }

  test("cache is bounded: distinct statements do not accumulate past the cap") {
    val e = newEngine()
    (1 to 200).foreach(i => e.querySql(s"SELECT $i AS k"))
    // re-running the most recent statement hits; the eldest was evicted
    val h0 = e.planCacheHits.get()
    e.querySql("SELECT 200 AS k")
    assert(e.planCacheHits.get() === h0 + 1)
    e.querySql("SELECT 1 AS k") // evicted -> re-analyzed, no hit
    assert(e.planCacheHits.get() === h0 + 1)
  }
}
