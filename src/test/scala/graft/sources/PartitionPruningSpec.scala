package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

import graft.{RefFixtures, SparkSpec}

/** Plan-level proof that hive-partitioned listing tables prune: the reference
  * pins this behavior in roapi/tests/partitioned_table_test.rs:56-78 (a
  * `WHERE year = ...` query over partitioned_csv); here the assert goes one
  * level deeper — the partition predicate must reach the scan as a
  * PartitionFilter and reduce the files actually read (round-3 verdict #5). */
class PartitionPruningSpec extends SparkSpec {

  private lazy val table = Loaders.load(spark, TableSource("pp_csv",
    RefFixtures.path("partitioned_csv"), format = Some("csv")))

  /** Execute and dig the file scan out of the (possibly adaptive) plan. */
  private def executedScan(df: DataFrame): FileSourceScanExec = {
    df.collect()
    def find(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => find(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(find)
    }
    val scans = find(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, s"no file scan in plan:\n${df.queryExecution.executedPlan}")
    scans.head
  }

  test("unfiltered scan reads every partition file") {
    assume(RefFixtures.present("partitioned_csv"))
    val scan = executedScan(table)
    assert(scan.metrics("numFiles").value === 2)
  }

  test("a year= predicate becomes a PartitionFilter and halves the files read") {
    assume(RefFixtures.present("partitioned_csv"))
    val scan = executedScan(table.filter(col("year") === 2023))
    assert(scan.partitionFilters.nonEmpty,
      "partition predicate must reach the scan as a PartitionFilter, not a data Filter")
    assert(scan.metrics("numFiles").value === 1)
    // and the filter is partition-only: no residual data filter on `year`
    assert(!scan.dataFilters.exists(_.references.exists(_.name == "year")))
  }

  test("year+month predicates prune through nested partition dirs") {
    assume(RefFixtures.present("partitioned_csv"))
    val scan = executedScan(table.filter(col("year") === 2022 && col("month") === 12))
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.metrics("numFiles").value === 1)
  }

  test("pruning holds through the SQL/serving route (temp view)") {
    assume(RefFixtures.present("partitioned_csv"))
    Loaders.register(spark, TableSource("pp_csv_view",
      RefFixtures.path("partitioned_csv"), format = Some("csv")))
    val scan = executedScan(
      spark.sql("SELECT * FROM pp_csv_view WHERE year = 2023"))
    assert(scan.partitionFilters.nonEmpty)
    assert(scan.metrics("numFiles").value === 1)
  }
}
