package graft.sources

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hive-style partition layout: a filter on the partition column must
  * prune at PLANNING time — the scan's selected partition count, not a
  * post-scan filter, is what keeps a 100 TB table's query from
  * touching 100 TB. */
class PartitionPruningSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def scanOf(plan: SparkPlan): FileSourceScanExec = plan match {
    case a: AdaptiveSparkPlanExec => scanOf(a.executedPlan)
    case f: FileSourceScanExec => f
    case other =>
      other.children.collectFirst {
        case c if collectScan(c).isDefined => collectScan(c).get
      }.getOrElse(fail(s"no FileSourceScanExec in:\n$plan"))
  }
  private def collectScan(plan: SparkPlan): Option[FileSourceScanExec] =
    plan.collectFirst { case f: FileSourceScanExec => f }

  test("partition-column filter prunes partitions at the scan") {
    val out = graft.TestSpark.tempDir("graft-partitioned-") + "/documents_by_source"
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    docs.write.partitionBy("source").parquet(out)

    val nSources = docs.select("source").distinct().count()
    val read = spark.read.parquet(out).filter(col("source") === "src0")
    val expected = docs.filter(col("source") === "src0").count()
    assert(read.count() == expected)

    val scan = scanOf(read.queryExecution.executedPlan)
    val selected = scan.metadata.get("PartitionFilters")
    assert(selected.exists(_.contains("src0")),
      s"partition filter not pushed to scan metadata: ${scan.metadata}")
    // the scan must read ONE partition directory, not all of them
    val scannedPartitions = scan.selectedPartitions.partitionCount
    assert(scannedPartitions == 1,
      s"expected 1 of $nSources partitions scanned, got $scannedPartitions")
  }

  test("non-partition filter still prunes row groups via pushed filters") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val filtered = docs.filter(col("n_chars") > 300)
    val scan = scanOf(filtered.queryExecution.executedPlan)
    val pushed = scan.metadata.get("PushedFilters")
    assert(pushed.exists(_.contains("GreaterThan(n_chars,300)")),
      s"expected n_chars pushdown, got: $pushed")
  }
}
