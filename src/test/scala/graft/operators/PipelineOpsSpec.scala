package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit coverage for the training-pipeline operators added in round 2:
  * deterministic sampling, as-of join, connected components. */
class PipelineOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  test("hash sampling is deterministic, consistent, and near the target rate") {
    val df = spark.range(10000).toDF("id")
    val a = Sampling.hashSample(df, col("id"), 0.2)
    val b = Sampling.hashSample(df, col("id"), 0.2)
    val nA = a.count()
    assert(nA == b.count())                       // reproducible
    assert(a.except(b).isEmpty)                   // same rows, not just same count
    assert(math.abs(nA - 2000) < 200, s"rate off: $nA")
    // consistency: the 10% sample is a subset of the 20% sample
    val small = Sampling.hashSample(df, col("id"), 0.1)
    assert(small.except(a).isEmpty)
  }

  test("stratified sampling applies per-stratum rates") {
    val df = spark.range(6000)
      .select(col("id"), (pmod(col("id"), lit(2)) === 0).as("even"))
      .withColumn("cls", when(col("even"), lit("a")).otherwise(lit("b")))
    val s = Sampling.stratifiedHashSample(df, col("id"), col("cls"),
      Map("a" -> 0.1), defaultFraction = 0.9)
    val byCls = s.groupBy("cls").count().as[(String, Long)].collect().toMap
    assert(byCls("a") < 600, s"a: ${byCls("a")}")
    assert(byCls("b") > 2200, s"b: ${byCls("b")}")
  }

  test("weighted sampling: monotone in weight, exact at the extremes") {
    val df = spark.range(5000).toDF("id")
    // weight 1.0 keeps everything; weight 0.0 keeps nothing
    assert(Sampling.weightedHashSample(df, col("id"), lit(1.0)).count() == 5000)
    assert(Sampling.weightedHashSample(df, col("id"), lit(0.0)).count() == 0)
    // monotone: a row kept at weight w stays kept at any w' >= w
    val low = Sampling.weightedHashSample(df, col("id"), lit(0.2))
    val high = Sampling.weightedHashSample(df, col("id"), lit(0.6))
    assert(low.except(high).isEmpty)
    val (nLow, nHigh) = (low.count(), high.count())
    assert(math.abs(nLow - 1000) < 150, s"low rate off: $nLow")
    assert(math.abs(nHigh - 3000) < 250, s"high rate off: $nHigh")
  }

  test("as-of join picks the latest right row at or before the left ts") {
    val left = Seq(
      ("k1", 10L, "e1"), ("k1", 20L, "e2"), ("k1", 5L, "e0"),
      ("k2", 10L, "e3")).toDF("k", "t", "ev")
    val right = Seq(
      ("k1", 10L, "r10"), ("k1", 15L, "r15"), ("k3", 1L, "rX"))
      .toDF("k", "t", "v")
    val out = AsofJoin.asofJoin(left, right, "k", "k", "t", "t", Seq("v"))
      .select(col("ev"), col("_asof").getField("v").as("v"))
      .as[(String, Option[String])].collect().toMap
    assert(out == Map(
      "e0" -> None,        // before any right row
      "e1" -> Some("r10"), // inclusive match at equal ts
      "e2" -> Some("r15"), // latest preceding, not first
      "e3" -> None))       // no right rows for k2
  }

  test("connected components label every node with its component minimum") {
    // components: {1,2,3,4} (chain), {7,9}, {5,6}
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (9L, 7L), (5L, 6L))
      .toDF("da", "db")
    val got = Clusters.connectedComponents(pairs, "da", "db")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L, 5L -> 5L, 6L -> 5L))
  }

  test("connected components handle a long chain within maxIter") {
    val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("da", "db")
    val got = Clusters.connectedComponents(pairs, "da", "db", maxIter = 20)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 13 && got.values.forall(_ == 0L))
  }

  test("connected components throw, not mislabel, when maxIter is too few") {
    // a 60-node path needs 59 hops; the default 10 rounds run 21
    val pairs = (0L until 59L).map(i => (i, i + 1)).toDF("da", "db")
    val e = intercept[IllegalStateException](
      Clusters.connectedComponents(pairs, "da", "db"))
    assert(e.getMessage.contains("maxIter=10") &&
      e.getMessage.contains("10 rounds run"), e.getMessage)
  }

  test("lateAudit two-level prefix scan equals the sequential watermark replay") {
    // jittered arrivals: event times mostly increase with arr but with
    // planted out-of-order stragglers; tiny bucket size (4) forces the
    // bucket-seam paths (prefix max from earlier buckets, null head)
    val rnd = new scala.util.Random(42)
    val rows = (0L until 200L).map { arr =>
      val base = arr * 100L
      val tsm = if (rnd.nextInt(5) == 0) base - 700L - rnd.nextInt(500)
                else base
      (arr, tsm)
    }
    val delay = 300L
    val got = Unify.lateAudit(rows.toDF("arr", "tsm"), delay, bucketSize = 4)
      .select("arr", "wm", "late").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getBoolean(2)))
      .sortBy(_._1)
    // sequential replay: running max of everything strictly before
    var mx = Long.MinValue
    rows.sortBy(_._1).zip(got).foreach { case ((arr, tsm), (gArr, gWm, gLate)) =>
      assert(arr == gArr)
      val expWm = if (mx == Long.MinValue) None else Some(mx - delay)
      assert(gWm == expWm, s"arr=$arr wm $gWm != $expWm")
      assert(gLate == expWm.exists(tsm < _), s"arr=$arr late flag wrong")
      mx = math.max(mx, tsm)
    }
    assert(got.count(_._3) > 5, "test data must actually contain late events")
  }
}
