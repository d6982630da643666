package graft

import org.scalatest.funsuite.AnyFunSuite

class SessionsSpec extends AnyFunSuite {

  test("SPARK_GRAFT_CPUS unset: one local thread per available processor") {
    assert(Sessions.cpusFrom(Map.empty) == Runtime.getRuntime.availableProcessors)
  }

  test("SPARK_GRAFT_CPUS set: its value") {
    assert(Sessions.cpusFrom(Map("SPARK_GRAFT_CPUS" -> "4")) == 4)
  }

  test("SPARK_GRAFT_CPUS not a positive integer: an error naming the variable") {
    for (bad <- Seq("0", "abc")) {
      val e = intercept[IllegalArgumentException](
        Sessions.cpusFrom(Map("SPARK_GRAFT_CPUS" -> bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(s"'$bad'"))
    }
  }

  test("the RocksDB state store writes changelog checkpoints, as perfbench's session does") {
    val key = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert(TestSpark.spark.conf.get(key) == "true", "a base setting of Sessions.builder")
  }

  test("Tables.load leaves the session's nanos-as-long setting as it is") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    assert(TestSpark.spark.conf.get(key) == "true", "a base setting of Sessions.builder")
    val s = TestSpark.spark.newSession()
    s.conf.set(key, "false")
    assert(Tables(s, "/root/testdata/sf0.001", "region").count() > 0)
    assert(s.conf.get(key) == "false")
  }
}
