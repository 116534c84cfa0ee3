package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the oracle-sensitive session contract. Several correctness
  * arguments elsewhere in the repo DEPEND on these values — if any drifts
  * (a Spark upgrade flipping a default, a refactor dropping a builder
  * line), the failure should name the contract, not surface as scattered
  * hash mismatches:
  *   - UTC session TZ: the NTZ→LTZ casts in q_sessionize/q_range_join are
  *     pure type changes ONLY under UTC.
  *   - ANSI mode ON: long-sum overflow (gramMatrixGrid's cross-partition
  *     half, kmeansUpdate, BPE pair counts) errors loudly instead of
  *     wrapping.
  *   - shuffle.partitions matches the cpu count (the local[32] bench
  *     contract from the builder prompt).
  *   - nanosAsLong: events.parquet historically carried TIMESTAMP(NANOS);
  *     the conf must stay on so either testdata generation reads.
  */
class SessionConfigSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.get()

  test("oracle-sensitive session settings hold") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "ANSI off would let distributed long sums wrap silently — " +
        "gramMatrixGrid/kmeansUpdate overflow arguments assume loud failure")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    // the builder couples this to the cpu count; in a shared test JVM the
    // session may have been created by a suite with a different core count
    // (getOrCreate applies dynamic confs onto the existing session), so pin
    // the actual contract: small-cluster-sized, never Spark's 200 default
    val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(sp >= 1 && sp <= 64, s"shuffle.partitions=$sp — not the local contract")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.conf.get("spark.locality.wait") == "0")
  }
}
