package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Partitioning.spreadBy]]: a frame is hash-redistributed on its key
  * only when its planned parallelism is below the cluster's. */
class PartitioningSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private def target = spark.sparkContext.defaultParallelism

  test("a frame with at least defaultParallelism partitions comes back unchanged") {
    val df = spark.range(0, 100, 1, target).toDF("k")
    val out = Partitioning.spreadBy(df, "k")
    assert(out eq df)
  }

  test("a one-partition frame is hash-repartitioned by the key to defaultParallelism partitions") {
    assume(target > 1, "a one-core session has nothing to spread to")
    val df = spark.range(0, 100, 1, 1).toDF("k")
    val out = Partitioning.spreadBy(df, "k")
    assert(out.rdd.getNumPartitions == target)
    // every row sits in the partition Spark's hash partitioning on `k`
    // assigns it: pmod(murmur3(k), target)
    val misplaced = out
      .select(spark_partition_id().as("p"), pmod(hash(col("k")), lit(target)).as("h"))
      .filter(col("p") =!= col("h"))
      .count()
    assert(misplaced == 0)
    assert(out.count() == 100)
  }
}
