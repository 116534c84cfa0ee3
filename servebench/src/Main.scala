package servebench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.encoding.Encoders
import graft.server.{Engine, Http2App, HttpApp, PostgresServer, Routes}
import graft.server.flight.FlightSqlServer
import graft.sources.TableSource

/** The engine and its four transports, set up the way a deployment would:
  * every table registered, the KV store loaded, all transports listening. */
final class Server(val spark: SparkSession, val engine: Engine,
                   val registerMs: Map[String, Double],
                   /** nanoTime each refresh table's tick schedule started */
                   val tickEpoch: Map[String, Long]) {
  val http = new HttpApp(engine, 0).start()
  val h2 = new Http2App(engine, 0).start()
  val pg = new PostgresServer(engine, 0).start()
  val flight = new FlightSqlServer(engine, 0).start()

  def stop(): Unit = { flight.stop(); pg.stop(); h2.stop(); http.stop(); engine.close() }
}

object Server {
  val Kv = "cust_bal"

  /** `refresh`: also the two Delta tables with their 1 s refresh ticks */
  def setUp(spark: SparkSession, data: Data, refresh: Boolean): Server = {
    val engine = new Engine(spark)
    val ms = mutable.LinkedHashMap[String, Double]()
    def timed(name: String)(f: => Unit): Unit = {
      val t = System.nanoTime(); f; ms(name) = Stats.ms(System.nanoTime() - t)
    }
    Data.Tables.foreach(t => timed(t)(engine.registerTable(TableSource(t, data.path(t)))))
    // Refresh tables register on their own thread tagged as a refresh origin:
    // the engine's tick scheduler thread starts here and inherits the tag,
    // so tick jobs are told apart from request jobs.
    val epochs = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val refreshTables = if (refresh) Data.RefreshTables else Nil
    val reg = new Thread(() => {
      spark.sparkContext.setLocalProperty(JobListener.Origin, "refresh")
      refreshTables.foreach { t =>
        timed(t)(engine.registerTable(TableSource(t, data.refreshDir(t), format = Some("delta"),
          reloadIntervalSec = Some(1L))))
        epochs.put(t, System.nanoTime())
      }
    })
    reg.start(); reg.join()
    require(epochs.size == refreshTables.size, "refresh table registration failed")
    timed("kv")(engine.registerKv(Kv, TableSource(Kv, data.path("customer")), "c_name", "c_acctbal"))
    new Server(spark, engine, ms.toMap, epochs.asScala.toMap)
  }
}

/** What one request produced. Latency runs from `due` (the schedule slot in
  * an open loop, the send time in a closed loop) to `end`. */
final case class Sample(r: Req, due: Long, start: Long, end: Long, measured: Boolean,
                        digest: Digest, answer: Answer, error: String, span: Long) {
  def latMs: Double = Stats.ms(end - due)
}

final case class Commit(table: String, batch: Int, start: Long, end: Long, error: String)

final class Main(wlName: String, seed: Long, seconds: Int, trace: Boolean, cpus: Int,
                 work: String, traceDir: String) {
  private val tracer = new Tracer(trace)
  private val wl: Workload = wlName match {
    case "serve_hot" => new ServeHot(seed)
    case "serve_scan" => new ServeScan(seed)
  }
  private val nextId = new AtomicInteger(0)
  /** The tail percentile each workload reports. serve_scan completes 45 to
    * 70 ad-hoc queries in a 20 s run, so its tail is p70 (ten samples beyond
    * it need 34, which a host a third slower still gives). On serve_hot p95
    * falls among the requests that run a Spark job (8% of the window); p99
    * fell among the slowest few of them, where two misses meeting or a
    * collection pause decide, and spread by a quarter between runs of the
    * same code. */
  private val tailQ = if (wlName == "serve_scan") 0.7 else 0.95
  private val born = System.nanoTime()
  private def note(msg: String): Unit =
    System.err.println(f"[servebench] ${(System.nanoTime() - born) / 1e9}%7.2f s  $msg")
  private val SetupReps = 3
  /** Only serve_scan writes and reads the refresh tables; serve_hot sets up
    * without them (and without their ticks). */
  private val refresh = wlName == "serve_scan"
  private val refreshTables = if (refresh) Data.RefreshTables else Nil

  private def newSession(): SparkSession = {
    val s = graft.GraftSession.builder(cpus.toString).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Sleeps until `SpinNs` before `t`, then spins: a parked thread woke up
    * a millisecond or more late on a busy host (the open loop's requests
    * are timed from when they were due, so that lateness counted as
    * latency). */
  private def waitUntil(t: Long): Unit = {
    var now = System.nanoTime()
    while (now < t - SpinNs) { LockSupport.parkNanos(t - SpinNs - now); now = System.nanoTime() }
    while (now < t) { Thread.onSpinWait(); now = System.nanoTime() }
  }
  private val SpinNs = 2000000L

  private val threadErrors = new ConcurrentLinkedQueue[Throwable]()

  /** A daemon thread whose uncaught failure fails the run. */
  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.setDaemon(true)
    t.setUncaughtExceptionHandler((_, e) => { threadErrors.add(e); () })
    t.start()
    t
  }

  // ---- clients ---------------------------------------------------------------

  /** One API user: its own HTTP/1.1, h2c and pg connections. */
  private final class Worker(server: Server) {
    val h1 = new H1Client(server.http.boundPort)
    private var h20: H2Conn = _
    private var pg0: PgClient = _
    def h2: H2Conn = { if (h20 == null) h20 = new H2Conn(server.h2.boundPort); h20 }
    def pg: PgClient = { if (pg0 == null) pg0 = new PgClient(server.pg.boundPort); pg0 }
    def close(): Unit = { h1.close(); if (h20 != null) h20.close(); if (pg0 != null) pg0.close() }
  }
  private var flightConn: H2Conn = _
  private var flight: FlightClient = _

  private def decode(r: Req, c: Call, body: Array[Byte]): Answer =
    if (r.kind == "kv") Answer(IndexedSeq(IndexedSeq(Check.normText(new String(body, UTF_8)))), false)
    else r.accept match {
      case Workload.Csv => Check.fromCsv(body, c.ordered)
      case Workload.Arrow => Check.fromArrow(body, c.ordered)
      case _ => Check.fromJson(body, c.ordered)
    }

  /** The first reply to each question (a request without its id) and its
    * digest. A reply byte for byte equal to it has the same digest, so
    * replayed questions are not decoded again: the benchmark's own parsing
    * would otherwise take more of the hit path's cpu than the server. */
  private val firstReply = new java.util.concurrent.ConcurrentHashMap[Req, (AnyRef, Digest)]()

  private def digestOf(r: Req, reply: AnyRef, decode: => Answer): (Digest, Answer) = {
    val key = r.copy(id = 0)
    val seen = if (r.kind == "rt_read") null else firstReply.get(key)
    val same = seen != null && ((seen._1, reply) match {
      case (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.equals(a, b)
      case (a, b) => a == b
    })
    if (same) (seen._2, null)
    else {
      val answer = decode
      if (r.kind != "rt_read") firstReply.putIfAbsent(key, (reply, answer.digest))
      (answer.digest, answer)
    }
  }

  private def perform(w: Worker, load: Workload, r: Req, due: Long, measured: Boolean): Sample = {
    val c = load.call(r)
    val start = System.nanoTime()
    var end = 0L
    var digest: Digest = null
    var answer: Answer = null
    var error: String = null
    try r.transport match {
      case "http1" | "h2c" =>
        val body = if (c.body == null) null else c.body.getBytes(UTF_8)
        val resp = if (r.transport == "http1") w.h1.send(c.method, c.target, r.accept, body)
          else w.h2.send(c.method, c.target, r.accept, body)
        end = System.nanoTime()
        if (resp.status != 200)
          error = s"HTTP ${resp.status}: ${new String(resp.body.take(300), UTF_8)}"
        else { val d = digestOf(r, resp.body, decode(r, c, resp.body)); digest = d._1; answer = d._2 }
      case "pg" =>
        val rows = w.pg.query(c.sql)
        end = System.nanoTime()
        val d = digestOf(r, rows, Check.fromText(rows, c.ordered)); digest = d._1; answer = d._2
      case "flight" =>
        val bytes = flight.query(c.sql)
        end = System.nanoTime()
        val d = digestOf(r, bytes, Check.fromArrow(bytes, c.ordered)); digest = d._1; answer = d._2
    } catch {
      case e: Throwable =>
        if (end == 0L) end = System.nanoTime()
        error = e.toString.take(300)
    }
    val span = tracer.record(0, r.id, "transport." + r.transport, start, end)
    val keep = if (r.kind == "rt_read") answer else null
    Sample(r, due, start, end, measured, digest, keep, error, span)
  }

  // ---- load loops ------------------------------------------------------------

  /** Open loop: request j is due at t0 + j/rate whatever the server does. */
  private def openLoop(workers: Seq[Worker], n: Int, rate: Double, measured: Boolean,
                       load: Workload = wl): (Seq[Sample], Seq[Double]) = {
    val first = nextId.getAndAdd(n)
    val next = new AtomicInteger(0)
    val out = new ConcurrentLinkedQueue[Sample]()
    val late = new ConcurrentLinkedQueue[java.lang.Double]()
    val t0 = System.nanoTime() + 20000000L
    val step = 1e9 / rate
    workers.zipWithIndex.map { case (w, i) => thread(s"bench-open-$i") {
      var j = next.getAndIncrement()
      while (j < n) {
        val due = t0 + (j * step).toLong
        waitUntil(due)
        late.add(Stats.ms(System.nanoTime() - due))
        out.add(perform(w, load, load.req(first + j), due, measured))
        j = next.getAndIncrement()
      }
    }}.foreach(_.join())
    (out.asScala.toSeq, late.asScala.toSeq.map(_.doubleValue))
  }

  /** Closed loop: each worker sends its next request when the last returns,
    * for `secs` seconds or `limit` requests, whichever ends first. Requests
    * are fresh ones from the workload, or `replay` cycled. */
  private def closedLoop(workers: Seq[Worker], secs: Double, measured: Boolean,
                         replay: IndexedSeq[Req] = IndexedSeq.empty,
                         limit: Int = Int.MaxValue, load: Workload = wl): (Seq[Sample], Double) = {
    val out = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    val deadline = t0 + (secs * 1e9).toLong
    val k = new AtomicInteger(0)
    workers.zipWithIndex.map { case (w, i) => thread(s"bench-closed-$i") {
      var j = k.getAndIncrement()
      while (j < limit && System.nanoTime() < deadline) {
        val r = if (replay.isEmpty) load.req(nextId.getAndIncrement()) else replay(j % replay.size)
        out.add(perform(w, load, r, System.nanoTime(), measured))
        j = k.getAndIncrement()
      }
    }}.foreach(_.join())
    val s = out.asScala.toSeq
    (s, if (s.isEmpty) secs else Stats.ms(s.map(_.end).max - t0) / 1000)
  }

  /** One writer thread committing a batch every `periodMs`, round-robin over
    * `tables`, for `secs` seconds. */
  private def writer(data: Data, tables: Seq[String], periodMs: Long, secs: Double,
                     out: ConcurrentLinkedQueue[Commit]): Thread = thread("bench-writer") {
    data.spark.sparkContext.setLocalProperty(JobListener.Origin, "writer")
    val batches = mutable.Map[String, Int]().withDefaultValue(0)
    val t0 = System.nanoTime()
    var i = 0
    var due = t0
    while (due - t0 <= secs * 1e9) {
      waitUntil(due)
      val t = tables(i % tables.size)
      val k = batches(t) + 1
      val s = System.nanoTime()
      val err = try { data.writeRefreshBatch(t, k); null } catch { case e: Throwable => e.toString.take(300) }
      out.add(Commit(t, k, s, System.nanoTime(), err))
      batches(t) = k
      i += 1
      due = t0 + i * periodMs * 1000000L
    }
  }

  /** Waits (at most 5 s) until a read of each refresh table sees its last
    * commit, so no refresh of those commits runs into the next phase. */
  private def awaitRefreshed(engine: Engine, commits: ConcurrentLinkedQueue[Commit]): Unit = {
    val last = commits.asScala.filter(_.error == null).groupBy(_.table).map { case (t, cs) => t -> cs.map(_.batch).max }
    val deadline = System.nanoTime() + 5000000000L
    def seen(t: String): Long =
      engine.querySql(s"/* await ${System.nanoTime()} */ SELECT max(batch) FROM $t").head().getLong(0)
    while (last.exists { case (t, b) => seen(t) < b } && System.nanoTime() < deadline)
      LockSupport.parkNanos(100000000L)
  }

  // ---- the run ---------------------------------------------------------------

  def run(): Unit = {
    val dataDir = work + "/data"
    // set-up, several times: SparkSession creation to the first good
    // request. On serve_scan the first session also writes the Delta tables
    // (not timed).
    val setupSecs = mutable.ArrayBuffer[Double]()
    var server: Server = null
    var spark: SparkSession = null
    for (rep <- 1 to SetupReps) {
      val t0 = System.nanoTime()
      spark = newSession()
      val sessionNs = System.nanoTime() - t0
      if (rep == 1 && refresh) {
        new Data(spark, seed, dataDir).generate()
        note("tables written")
      }
      val t1 = System.nanoTime()
      server = Server.setUp(spark, new Data(spark, seed, dataDir), refresh)
      val h1 = new H1Client(server.http.boundPort)
      val first = try h1.send("GET", "/api/tables/region?limit=1", Workload.Json, null) finally h1.close()
      require(first.status == 200, s"first request failed: HTTP ${first.status}")
      setupSecs += (sessionNs + System.nanoTime() - t1) / 1e9
      note(f"set-up ${setupSecs.last}%.3f s")
      if (rep < SetupReps) { server.stop(); stopSession(spark) }
    }
    val data = new Data(spark, seed, dataDir)
    val engine = server.engine

    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)
    val routesLog = new ConcurrentLinkedQueue[(String, Long, Long)]() // thread, end ns, micros
    Routes.accessLog =
      if (!trace) (_ => ())
      else line => {
        val end = System.nanoTime()
        val us = line.substring(line.lastIndexOf(' ') + 1).stripSuffix("us").toLong
        routesLog.add((Thread.currentThread().getName, end, us))
      }

    flightConn = new H2Conn(server.flight.boundPort)
    flight = new FlightClient(flightConn)
    val workers = (1 to 4).map(_ => new Worker(server))

    val samples = mutable.ArrayBuffer[Sample]()
    val commits = new ConcurrentLinkedQueue[Commit]()
    var late: Seq[Double] = Nil
    var throughput = 0.0
    val ticks0 = refreshTables.map(engine.refreshStats)
    val tickTimes = new ConcurrentLinkedQueue[java.lang.Double]()
    @volatile var monitoring = trace
    val monitor = if (!trace) null else thread("bench-tick-monitor") {
      var last = refreshTables.map(engine.refreshStats)
      while (monitoring) {
        LockSupport.parkNanos(1000000L)
        val now = refreshTables.map(engine.refreshStats)
        val t = System.nanoTime()
        now.zip(last).zip(refreshTables).foreach { case ((a, b), table) =>
          if (a != b) {
            val since = (t - server.tickEpoch(table)) % 1000000000L
            tickTimes.add(Stats.ms(since))
          }
        }
        last = now
      }
    }
    def cacheHits(name: String): Long =
      engine.getClass.getMethod(name).invoke(engine).asInstanceOf[AtomicLong].get()
    var hits0 = (0L, 0L)
    var hits1 = (0L, 0L)
    var gc0 = (0L, 0L)
    var gc1 = (0L, 0L)
    def gcNow(): (Long, Long) = {
      val bs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
    }
    var w0 = 0L
    var w1 = 0L
    def markStart(): Unit = {
      hits0 = (cacheHits("resultCacheHits"), cacheHits("planCacheHits")); gc0 = gcNow(); w0 = System.nanoTime()
    }
    var rssPeakMb = 0.0
    var liveMb = 0.0
    def markEnd(): Unit = {
      hits1 = (cacheHits("resultCacheHits"), cacheHits("planCacheHits")); gc1 = gcNow(); w1 = System.nanoTime()
      // before the checker's own work
      rssPeakMb = peakRssMb()
      liveMb = liveMemoryMb()
    }

    wlName match {
      case "serve_hot" =>
        val rate = ServeHotRate
        // warm-up: a history as long as the window, sent flat out (the
        // caches fill with the popular keys as a deployment's would; after a
        // history half as long, the window's first quarter held twice the
        // Spark-job misses of its last, which queued behind each other)
        val open = seconds * ServeHotOpenShare
        val history = (0 until (rate * open).toInt).map(_ => wl.req(nextId.getAndIncrement()))
        samples ++= closedLoop(workers, 3600, measured = false, replay = history, limit = history.size)._1
        note("warm-up done")
        markStart()
        // saturation: two clients replaying the history's HTTP/1.1 and h2c
        // requests flat out, every answer in the result cache by then, so
        // throughput is the hit path's. The rate climbs while the hit path
        // compiles, for the first 30-35 thousand replies, so a warm part of
        // HitWarmReqs replies comes first, unmeasured. It is counted in
        // replies rather than seconds: on a host busy with other guests, 8 s
        // were not enough to reach the plateau.
        val hits = history.filter(_.transport != "pg")
        val (warm, warmSecs) = closedLoop(workers.take(2), HitWarmCapSecs, measured = false, replay = hits,
          limit = HitWarmReqs)
        val (s2, el) = closedLoop(workers.take(2), seconds - open, measured = false, replay = hits)
        throughput = s2.count(_.error == null) / el
        val t0s = warm.map(_.start).min
        note(f"saturation: warm part $warmSecs%.1f s; per 1 s: " +
          (warm ++ s2).groupBy(x => (x.end - t0s) / 1000000000L).toSeq.sortBy(_._1).map(_._2.size).mkString(" "))
        samples ++= warm
        // the window's requests that ask for a key not seen before are the
        // misses, as many in every run
        val (s1, l1) = openLoop(workers, (rate * open).toInt, rate, measured = true)
        late = l1
        markEnd()
        samples ++= s1 ++ s2
      case "serve_scan" =>
        val scanners = workers.take(2)
        samples ++= closedLoop(scanners, 3.0, measured = false)._1
        // reads beside writes, before the scan window: one writer committing
        // to the two refresh tables and a freshness reader reading them at a
        // fixed rate. They run apart from the scan because their open-loop
        // reads and the refresh ticks, timed at random against the scans,
        // moved scan latency by a quarter between runs of the same code.
        val refreshSecs = seconds * RefreshShare
        val wt = writer(data, Data.RefreshTables, WriterPeriodMs, refreshSecs, commits)
        samples ++= openLoop(workers.slice(2, 3), (RefreshReadRate * refreshSecs).toInt, RefreshReadRate,
          measured = false, load = new RefreshReads)._1
        wt.join()
        awaitRefreshed(engine, commits)
        markStart()
        val (s1, el) = closedLoop(scanners, seconds - refreshSecs, measured = true)
        markEnd()
        throughput = s1.count(_.error == null) / el
        samples ++= s1
    }

    monitoring = false
    if (monitor != null) monitor.join()

    if (!threadErrors.isEmpty) throw threadErrors.peek()
    note("window done")

    // ---- checks (outside the timed window) ---------------------------------
    wl.prepareOracle(spark, data)
    val failures = mutable.ArrayBuffer[String]()
    val refreshReads = mutable.ArrayBuffer[(String, Check.Read, IndexedSeq[String])]()
    val memo = mutable.Map[Req, Digest]()
    samples.foreach { s =>
      if (s.error != null) failures += s"${s.r.kind}#${s.r.id} over ${s.r.transport}: ${s.error}"
      else if (s.r.kind == "rt_read") {
        val row = s.answer.rows.headOption.getOrElse(IndexedSeq.empty)
        val table = Data.RefreshTables(s.r.a.toInt)
        if (row.size != 3 || row.contains("NULL"))
          failures += s"rt_read#${s.r.id} on $table: unexpected answer ${s.answer.rows}"
        else refreshReads += ((table, Check.Read(s.r.id, s.start, s.end, row(0).toLong), row))
      } else {
        val key = s.r.copy(id = 0, transport = "", accept = "")
        val exp = memo.getOrElseUpdate(key, wl.expected(s.r).digest)
        if (!exp.sameAs(s.digest)) {
          val c = wl.call(s.r)
          failures += s"${s.r.kind}#${s.r.id} over ${s.r.transport} (${s.r.accept}): " +
            s"${c.target} ${Option(c.body).getOrElse("")} -> got ${s.digest.rows} rows " +
            s"[${s.digest.preview}], expected ${exp.rows} rows [${exp.preview}]"
        }
      }
    }
    // the refresh invariant, staleness and freshness
    val commitList = commits.asScala.toSeq
    commitList.filter(_.error != null).foreach(c => failures += s"commit ${c.table}#${c.batch}: ${c.error}")
    val lags = mutable.ArrayBuffer[Double]()
    refreshTables.foreach { t =>
      val cs = commitList.filter(c => c.table == t && c.error == null).sortBy(_.batch)
      val cum = (0 to (0 +: cs.map(_.batch)).max).scanLeft(Check.Totals(0, 0)) { (acc, k) =>
        val (n, v) = data.batchTotals(t, k)
        Check.Totals(acc.rows + n, acc.sum + v)
      }.tail
      val reads = refreshReads.collect { case (`t`, r, row) =>
        Check.refreshRead(r.batch, row(1).toLong, row(2).toLong, cum)
          .foreach(f => failures += s"rt_read#${r.id} on $t: $f")
        r
      }.toSeq
      Check.staleReads(reads, (0L +: cs.map(_.end)).toIndexedSeq, StaleLimitNs).foreach {
        case (r, f) => failures += s"rt_read#${r.id} on $t: $f"
      }
      val byDone = reads.sortBy(_.doneNs)
      cs.foreach { c =>
        byDone.find(r => r.doneNs >= c.end && r.batch >= c.batch)
          .foreach(r => lags += Stats.ms(r.doneNs - c.end))
      }
    }
    val attempted = samples.size + commitList.size
    note("checked")
    samples.filter(_.measured).groupBy(s => (s.r.kind, s.r.transport)).toSeq.sortBy(_._1).foreach {
      case (k, ss) =>
        val l = ss.map(s => Stats.ms(s.end - s.start)).toSeq
        note(f"$k%-24s n=${ss.size}%5d service p50=${Stats.median(l)}%8.2f ms max=${l.max}%8.1f ms")
    }
    val inOrder = samples.filter(_.measured).sortBy(_.start)
    if (inOrder.nonEmpty)
      note("window quarters, median latency: " + inOrder.grouped(math.max(1, (inOrder.size + 3) / 4))
        .map(q => f"${Stats.median(q.map(_.latMs).toSeq)}%.2f ms").mkString(" "))
    failures.take(20).foreach(f => System.err.println("[servebench] FAILED " + f))

    // ---- metrics -------------------------------------------------------------
    val measured = samples.filter(_.measured).toSeq
    val windowMs = seconds * 1000.0
    val lat: Seq[Double] = measured.map(s => if (s.error != null) windowMs else s.latMs)
    val commitMs = commitList.filter(_.error == null).map(c => Stats.ms(c.end - c.start))
    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val e2e = Seq(
      "setup_s" -> (Stats.median(setupSecs.toSeq), "s"),
      "lat_geomean_ms" -> (Stats.geomean(lat), "ms"),
      "lat_tail_ms" -> (tail(lat, tailQ), "ms"),
      "throughput_rps" -> (throughput, "1/s"),
      "mem_live_mb" -> (liveMb, "MB"))
    val counts = Map("lat_samples" -> lat.size, "lat_tail_pct" -> math.round(tailQ * 100), "setup_samples" -> setupSecs.size,
      "fresh_lag_samples" -> lags.size, "commit_samples" -> commitMs.size, "gen_late_samples" -> late.size)

    if (!trace) metrics ++= e2e
    else {
      metrics ++= layerMetrics(server, workers, measured,
        samples.filter(s => s.start >= w0 && s.start <= w1).toSeq, listener, routesLog.asScala.toSeq,
        w0, w1, hits0, hits1, gc0, gc1, late, tickTimes.asScala.toSeq.map(_.doubleValue),
        ticks0, commitMs, lags.toSeq)
      metrics("jvm.rss_peak_mb") = (rssPeakMb, "MB")
      metrics("trace.lat_geomean_ms") = (Stats.geomean(lat), "ms")
      metrics("trace.lat_tail_ms") = (tail(lat, tailQ), "ms")
      tracer.write(java.nio.file.Paths.get(traceDir, s"$wlName-seed$seed.jsonl"))
    }

    workers.foreach(_.close())
    flightConn.close()
    server.stop()
    stopSession(spark)

    note("stopped")
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString
    println("""{"samples":{""" + counts.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")
    println("""{"failures":[""" + failures.take(20).map(f => "\"" + jsonEsc(f) + "\"").mkString(",") + "]}")
    println(s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":${failures.size},""" +
      """"metrics":{""" + metrics.map { case (k, (v, u)) =>
        s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") + "}}")
  }

  private def jsonEsc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => " "
    case c => c.toString
  }

  /** Percentile `q` of `xs`; a run with too few samples for it fails rather
    * than report something else under the percentile's name. */
  private def tail(xs: Seq[Double], q: Double): Double = Stats.pctl(xs, q).getOrElse(
    throw new IllegalStateException(
      f"${xs.size} samples are too few for p${q * 100}%.0f (ten must lie beyond it): run longer"))

  /** Memory the process still holds when the window's garbage is gone: heap
    * in use after a full collection, plus metaspace and code cache, plus
    * direct and mapped buffers. Unlike the resident set, it does not follow
    * how far the collector chose to grow the heap. */
  private def liveMemoryMb(): Double = {
    import java.lang.management.{BufferPoolMXBean, ManagementFactory}
    System.gc()
    val m = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  private def peakRssMb(): Double = {
    val st = scala.io.Source.fromFile("/proc/self/status")
    try st.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally st.close()
  }

  private val ServeHotRate = 50.0
  /** The share of serve_hot's run in the open loop; saturation takes the rest */
  private val ServeHotOpenShare = 0.7
  /** Unmeasured start of serve_hot's saturation phase: replies, and a cap in seconds */
  private val HitWarmReqs = 40000
  private val HitWarmCapSecs = 16.0
  private val WriterPeriodMs = 2000L
  /** The share of serve_scan's run taken by the refresh phase */
  private val RefreshShare = 0.25
  private val RefreshReadRate = 4.0
  private val StaleLimitNs = 5000000000L

  // ---- per-layer metrics (traced run) ----------------------------------------

  private def layerMetrics(server: Server, workers: Seq[Worker], measured: Seq[Sample],
                           window: Seq[Sample],
                           listener: JobListener, routesLog: Seq[(String, Long, Long)],
                           w0: Long, w1: Long, hits0: (Long, Long), hits1: (Long, Long),
                           gc0: (Long, Long), gc1: (Long, Long), late: Seq[Double],
                           tickMs: Seq[Double], ticks0: Seq[Engine#RefreshStats],
                           commitMs: Seq[Double], lags: Seq[Double]): Seq[(String, (Double, String))] = {
    val engine = server.engine
    val out = mutable.ArrayBuffer[(String, (Double, String))]()
    def p50(xs: Seq[Double]) = Stats.median(xs)

    // the routes span inside each HTTP request's transport span, matched by
    // time from the access log (the log line fires when the response is
    // ready, before a streamed body is written)
    val routesBy = routesLog.groupBy { case (th, _, _) =>
      if (th.startsWith("graft-http-worker")) "http1" else "h2c" }
    Seq("http1", "h2c").foreach { t =>
      val recs = routesBy.getOrElse(t, Nil).map { case (_, end, us) => (end - us * 1000, end) }
        .sortBy(_._1).toArray
      val used = new Array[Boolean](recs.length)
      var from = 0
      measured.filter(s => s.r.transport == t && s.error == null).sortBy(_.start).foreach { s =>
        while (from < recs.length && recs(from)._1 < s.start) from += 1
        var i = from
        var hit = -1
        while (hit < 0 && i < recs.length && recs(i)._1 <= s.end) {
          if (!used(i) && recs(i)._2 <= s.end) hit = i
          i += 1
        }
        if (hit >= 0) {
          used(hit) = true
          tracer.record(s.span, s.r.id, "routes", recs(hit)._1, recs(hit)._2)
        }
      }
    }
    val routeSpans = tracer.all.filter(_.name == "routes")
    val routesMs = routeSpans.map(s => Stats.ms(s.dur))
    // HTTP transport self time: each request's client span minus its routes child
    val withRoutes = routeSpans.map(_.parent).toSet
    val httpSpans = tracer.all.filter(s => withRoutes.contains(s.id)) ++ routeSpans
    val httpSelf = Tracer.selfTimes(httpSpans)
    val selfByTransport = httpSpans.filter(s => withRoutes.contains(s.id))
      .groupBy(_.name.stripPrefix("transport.")).map { case (t, ss) => t -> ss.map(s => Stats.ms(httpSelf(s.id))) }

    val probe = probeLayers(server, workers.head)
    Seq("http1", "h2c", "pg", "flight").foreach { t =>
      val self = if (t == "pg" || t == "flight") probe.transportSelf.getOrElse(t, Nil)
        else selfByTransport.getOrElse(t, Nil)
      out += s"transport.$t.self_ms_p50" -> (p50(self), "ms")
    }
    out += "routes.handle_ms_p50" -> (p50(routesMs), "ms")
    out += "engine.query_build_ms_p50" -> (p50(probe.buildMs), "ms")
    out += "frontend.translate_ms_p50" -> (p50(probe.translateMs), "ms")
    Seq("analysis", "optimization", "planning").foreach { ph =>
      out += s"plan.${ph}_ms_p50" -> (p50(probe.phaseMs.getOrElse(ph, Nil)), "ms")
    }

    // caches over the window (for serve_hot including its saturation phase)
    val inWindow = window
    val httpCached = inWindow.count(s => (s.r.transport == "http1" || s.r.transport == "h2c") &&
      s.r.kind != "kv")
    val sqlReqs = inWindow.count(s => s.r.kind == "rt_read" || wl.call(s.r).sql != null)
    out += "engine.result_hit_share" -> (share(hits1._1 - hits0._1, httpCached), "share")
    out += "engine.result_hit_base" -> (httpCached.toDouble, "count")
    out += "engine.plan_hit_share" -> (share(hits1._2 - hits0._2, sqlReqs), "share")
    out += "engine.plan_hit_base" -> (sqlReqs.toDouble, "count")
    out += "engine.fold_share" -> (share(probe.folded, probe.ops), "share")
    out += "engine.fold_base" -> (probe.ops.toDouble, "count")

    // Spark over the measured window, request jobs only
    Thread.sleep(300) // let the listener bus deliver the window's events
    val jobs = listener.jobs.values.asScala.toSeq.filter(j => j.origin == "request" &&
      j.start >= w0 && j.start <= w1)
    val jobIds = jobs.map(_.id).toSet
    val tasks = listener.tasks.asScala.toSeq.filter(t => jobIds.contains(t.job))
    val ops = math.max(1, inWindow.size)
    out += "spark.jobs_per_op" -> (jobs.size.toDouble / ops, "count")
    out += "spark.tasks_per_op" -> (tasks.size.toDouble / ops, "count")
    out += "spark.job_ms_p50" -> (p50(jobs.filter(_.end > 0).map(j => Stats.ms(j.end - j.start))), "ms")
    out += "spark.sched_delay_ms_p50" -> (p50(tasks.map(_.schedDelayMs.toDouble)), "ms")
    out += "spark.shuffle_mb_per_op" -> (tasks.map(_.shuffleBytes).sum / 1e6 / ops, "MB")
    out += "spark.input_mb_per_op" -> (tasks.map(_.inputBytes).sum / 1e6 / ops, "MB")

    out += "encoding.ms_p50" -> (p50(probe.encodeMs), "ms")
    out += "encoding.bytes_per_op" -> (if (probe.ops == 0) 0.0 else probe.encodeBytes.toDouble / probe.ops, "B")
    out += "encoding.mb_per_s" -> (if (probe.encodeMs.isEmpty) 0.0
      else probe.encodeBytes / 1e6 / (probe.encodeMs.sum / 1000), "MB/s")

    (Data.Tables ++ Data.RefreshTables :+ "kv").foreach { t =>
      out += s"sources.register_ms.$t" -> (server.registerMs.getOrElse(t, 0.0), "ms")
    }
    val ticks1 = refreshTables.map(engine.refreshStats)
    def dTicks(f: Engine#RefreshStats => Long) = ticks1.zip(ticks0).map { case (a, b) => f(a) - f(b) }.sum.toDouble
    out += "sources.tick_ms_p50" -> (p50(tickMs), "ms")
    out += "sources.ticks_noop" -> (dTicks(_.noopTicks), "count")
    out += "sources.ticks_applied" -> (dTicks(_.deltaApplied), "count")
    out += "sources.ticks_swapped" -> (dTicks(_.snapshotSwaps), "count")
    out += "sources.commit_ms_p50" -> (p50(commitMs), "ms")
    out += "sources.fresh_lag_ms_p50" -> (p50(lags), "ms")

    out += "jvm.gc_ms" -> ((gc1._1 - gc0._1).toDouble, "ms")
    out += "jvm.gc_count" -> ((gc1._2 - gc0._2).toDouble, "count")
    // 0 where no open loop is measured (serve_scan): gen_late_samples is 0 there
    out += "gen.late_ms_p95" -> (if (late.isEmpty) 0.0 else tail(late, 0.95), "ms")
    out.toSeq
  }

  private def share(n: Long, base: Int): Double = if (base == 0) 0.0 else n.toDouble / base

  private final case class Probe(ops: Int, folded: Int, buildMs: Seq[Double], translateMs: Seq[Double],
                                 phaseMs: Map[String, Seq[Double]], encodeMs: Seq[Double],
                                 encodeBytes: Long, transportSelf: Map[String, Seq[Double]])

  /** `c` made unique by `tag` without changing its answer: a SQL comment, an
    * unused REST parameter, a GraphQL comment. Unique text misses the plan
    * and result caches. */
  private def tagged(c: Call, tag: String): Call =
    if (c.sql != null) c.copy(body = c.body + s" /* $tag */", sql = c.sql + s" /* $tag */")
    else if (c.method == "GET") c.copy(target = c.target + s"&probe=$tag")
    else c.copy(body = c.body + s"\n# $tag\n")

  /** Sequential in-process pass over fresh requests of the workload.
    *  1. Cold: spans around the frontend translation, the engine's query
    *     build and the encoder; Spark jobs attributed by time; the
    *     `queryExecution.tracker` phases.
    *  2. For pg and Flight, whose servers have no access log: a fresh
    *     question executed once, then timed in-process the way its server
    *     handles it (`querySql` then collect, or Arrow IPC bytes for Flight)
    *     and over the socket, the same text both times, so planning and
    *     caching are the same on both legs. The difference is the
    *     transport's own cost. */
  private def probeLayers(server: Server, w: Worker): Probe = {
    val engine = server.engine
    val spark = server.spark
    val reqs = (0 until ProbeOps).map(_ => wl.req(nextId.getAndIncrement())).filter(_.kind != "kv")
    var folded = 0
    val build, translate, encode = mutable.ArrayBuffer[Double]()
    val phases = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val selfMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    var bytes = 0L
    val listener = new JobListener
    spark.sparkContext.addSparkListener(listener)
    def params(c: Call): Map[String, String] =
      c.target.dropWhile(_ != '?').drop(1).split('&').filter(_.nonEmpty).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, UTF_8) -> java.net.URLDecoder.decode(v, UTF_8)
      }.toMap
    reqs.foreach { r =>
      val c = tagged(wl.call(r), s"probe-a-${r.id}")
      val ct = Encoders.fromAccept(Some(r.accept), Encoders.Json)
      val table = c.target.stripPrefix("/api/tables/").takeWhile(_ != '?')
      val t0 = System.nanoTime()
      if (c.sql == null) {
        val a = System.nanoTime()
        if (c.method == "GET") graft.frontend.RestQuery.table(spark, table, params(c))
        else graft.frontend.GraphQl.queryParsed(spark, graft.frontend.GraphQl.parse(c.body))
        val b = System.nanoTime()
        tracer.record(0, r.id, "frontend.translate", a, b)
        translate += Stats.ms(b - a)
      }
      val a = System.nanoTime()
      val df =
        if (c.sql != null) engine.querySql(c.sql)
        else if (c.method == "GET") engine.queryRest(table, params(c))
        else engine.queryGraphQl(c.body)
      val b = System.nanoTime()
      val out = Encoders.encode(df, ct)
      val e = System.nanoTime()
      Thread.sleep(20) // listener delivery
      val jobs = listener.jobs.values.asScala.filter(j => j.origin == "request" && j.start >= b && j.start <= e)
      if (jobs.isEmpty) folded += 1
      val root = tracer.record(0, r.id, "probe", t0, e)
      tracer.record(root, r.id, "engine.query_build", a, b)
      val enc = tracer.record(root, r.id, "encoding", b, e)
      jobs.foreach(j => tracer.record(enc, r.id, "spark.job", j.start, math.max(j.start, j.end)))
      build += Stats.ms(b - a)
      encode += Stats.ms(Tracer.selfTimes(tracer.all.filter(s => s.id == enc || s.parent == enc))(enc))
      bytes += out.length
      df.queryExecution.tracker.phases.foreach { case (ph, sum) =>
        phases.getOrElseUpdate(ph, mutable.ArrayBuffer()) += sum.durationMs.toDouble
      }

      // 2. pg and Flight: in-process server handling vs the socket
      if (r.transport == "pg" || r.transport == "flight") {
        val sql = tagged(wl.call(r), s"probe-b-${r.id}").sql
        def inProcess(): Unit =
          if (r.transport == "pg") engine.querySql(sql).collect()
          else org.apache.spark.sql.GraftArrowBridge.toIpcStreamBytes(engine.querySql(sql))
        inProcess()
        val i0 = System.nanoTime()
        inProcess()
        val s0 = System.nanoTime()
        if (r.transport == "pg") w.pg.query(sql) else flight.query(sql)
        val s1 = System.nanoTime()
        selfMs.getOrElseUpdate(r.transport, mutable.ArrayBuffer()) += Stats.ms(s1 - s0) - Stats.ms(s0 - i0)
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    Probe(reqs.size, folded, build.toSeq, translate.toSeq, phases.map { case (k, v) => k -> v.toSeq }.toMap,
      encode.toSeq, bytes, selfMs.map { case (k, v) => k -> v.toSeq }.toMap)
  }

  /** Probe requests: serve_scan's take over a second each. */
  private val ProbeOps = if (wlName == "serve_scan") 12 else 24
}

object Main {
  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val code =
      try {
        new Main(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
          m("cpus").toInt, m("work"), m("traces")).run()
        0
      } catch {
        case e: Throwable => e.printStackTrace(); 1
      }
    System.out.flush()
    System.exit(code)
  }
}
