package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ecosystem surfaces (P5/P6/X1/X2): batch semantics + a streaming
  * smoke through MemoryStream (stateless transforms need no timers, so
  * processAllAvailable is safe here). */
class EcosystemStreamsSpec extends AnyFunSuite with graft.StreamingSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("P5: regex filter keeps .edu emails only (key match)") {
    val df = Seq(
      ("alice@uni.edu", "v1"), ("bob@corp.com", "v2"), ("eve@dept.school.edu", "v3"))
      .toDF("key", "value")
    val got = EcosystemStreams.regexFilter(df, EcosystemStreams.EduPattern)
      .select("key").as[String].collect().toSeq
    assert(got == Seq("alice@uni.edu", "eve@dept.school.edu"))
  }

  test("P5: value match mode") {
    val df = Seq(("k1", "mail alice@uni.edu here"), ("k2", "no email")).toDF("key", "value")
    assert(EcosystemStreams.regexFilter(df, EcosystemStreams.EduPattern,
      matchValue = true).count() == 1)
  }

  test("X1+X2: fake profiles fan out into 1 login + 1-3 txns") {
    val profiles = EcosystemStreams.fakeProfiles(spark.range(0, 30).toDF("id"))
    assert(profiles.columns.contains("preferences"))
    val prefs = profiles.select("preferences.language").distinct().count()
    assert(prefs == 6)
    val out = EcosystemStreams.fanout(profiles)
    val perUser = out.groupBy("user_id").count()
    // user_id % 3 + 1 txns + 1 login => 2..4 rows
    assert(perUser.filter(col("count") < 2 || col("count") > 4).count() == 0)
    val logins = out.filter(col("record_type") === "login")
    assert(logins.count() == 30)
    assert(out.filter(col("topic") === "transactions").count() ==
      out.count() - 30)
  }

  test("P6: routing column feeds the per-row topic") {
    val df = Seq((1L, "signup"), (2L, "purchase")).toDF("user_id", "event_type")
    val routed = EcosystemStreams.routeByColumn(df,
      concat(lit("events-"), col("event_type")))
    assert(routed.select("topic").as[String].collect().toSet ==
      Set("events-signup", "events-purchase"))
  }

  test("P5/X2 run identically as a stream (stateless transforms)") {
    val input = MemoryStream[(String, String)]
    val stream = EcosystemStreams.regexFilter(
      input.toDF().toDF("key", "value"), EcosystemStreams.EduPattern)
    val q = stream.writeStream.format("memory").queryName("edu_out")
      .outputMode("append").start()
    try {
      input.addData(Seq(("a@x.edu", "v1"), ("b@y.com", "v2"), ("c@z.edu", "v3")))
      q.processAllAvailable()
      assert(spark.table("edu_out").count() == 2)
    } finally q.stop()
  }

  test("float_dot is registered as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT float_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d")
      .as[Double].collect().head
    assert(r == 11.0)
  }

  test("word_shingles is registered as a SQL function") {
    graft.functions.GraftFunctions.register(spark)
    val r = spark.sql("SELECT word_shingles('a b c d', 2) AS s")
      .as[Seq[String]].collect().head
    assert(r == Seq("a b", "b c", "c d"))
    val err = intercept[Exception](
      spark.sql("SELECT word_shingles('a b', length('xx'))").collect())
    assert(err.getMessage.contains("literal"))
  }
}
