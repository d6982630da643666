package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the round-7 additions: DSIR hashed-ngram
  * importance scoring/resampling and the weak-supervision LF panel. */
class Round7Spec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = Registry.all.find(_.name == name).get

  /** Minimal documents table with the full production schema. */
  private def writeDocs(rows: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val tmp = graft.TestSpark.tempDir("r7docs")
    rows.map { case (id, text, lang, source) =>
      (id, text, lang, source, text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  test("q_dsir_score: ratios positive, target counts bounded by raw") {
    import spark.implicits._
    val rows = q("q_dsir_score").run(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { case (bucket, nT, nR, ratio) =>
      assert(bucket >= 0 && bucket < 256)
      assert(nT <= nR, "target tokens are a subset of raw tokens")
      assert(ratio > 0, "add-one smoothing keeps every ratio positive")
    }
    // descending by ratio (the registered deterministic order)
    assert(rows.map(_._4).sliding(2).forall(w => w.head >= w.last))
  }

  test("q_dsir_score: an all-target corpus scores every bucket exactly 10^6") {
    import spark.implicits._
    val tmp = writeDocs(Seq(
      (1L, "alpha beta gamma", "en", "s0"),
      (2L, "delta epsilon alpha", "en", "s1")))
    val rows = q("q_dsir_score").run(spark, tmp)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nT, nR, ratio) =>
      assert(nT == nR)
      assert(ratio == 1000000L,
        "n_t = n_r for every bucket => smoothed ratio is exactly 1e6")
    }
  }

  test("q_dsir_resample: funnel bounds hold per source") {
    import spark.implicits._
    val rows = q("q_dsir_resample").run(spark, dir)
      .as[(String, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nDocs, avg, nKept, keptSum) =>
      assert(nDocs > 0 && avg > 0)
      assert(nKept >= 0 && nKept <= nDocs)
      assert(keptSum >= 0 && keptSum <= avg * nDocs + nDocs,
        "kept mass cannot exceed total score mass (integer-floor slack)")
    }
  }

  test("q_dsir_resample: a uniform-importance corpus keeps every document") {
    import spark.implicits._
    val tmp = writeDocs(Seq(
      (1L, "alpha beta gamma", "en", "s0"),
      (2L, "delta epsilon alpha", "en", "s0"),
      (3L, "beta gamma delta", "en", "s1")))
    val rows = q("q_dsir_resample").run(spark, tmp)
      .as[(String, Long, Long, Long, Long)].collect()
    // every score equals s_max (=1e6), so u*s_max < s*1e6 for all u<1e6
    rows.foreach { case (_, nDocs, avg, nKept, _) =>
      assert(avg == 1000000L)
      assert(nKept == nDocs, "score = s_max everywhere => acceptance p = 1")
    }
  }

  test("q_weak_labels: panel identities hold on the real corpus") {
    import spark.implicits._
    val rows = q("q_weak_labels").run(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).toSeq ==
      Seq("lf_digit", "lf_len", "lf_rep", "lf_stop"))
    rows.foreach { case (_, nVotes, nPos, nNeg, nOv, nConf, nAgainst) =>
      assert(nPos + nNeg == nVotes, "votes split exactly into +1/-1")
      assert(nOv <= nVotes && nConf <= nOv,
        "conflict requires overlap, overlap requires a vote")
      assert(nAgainst <= nVotes)
    }
  }

  test("q_profile_tcloseness: EMD bands bounded, totals consistent") {
    import spark.implicits._
    val rows = q("q_profile_tcloseness").run(spark, dir)
      .as[(String, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val validBands = Set("0.0-0.1", "0.1-0.2", "0.2-0.3", "0.3+")
    rows.foreach { case (band, nGroups, nUsers, maxEmd) =>
      assert(validBands(band))
      assert(nGroups > 0 && nUsers >= nGroups,
        "every group holds at least one user")
      assert(maxEmd >= 0 && maxEmd <= 1000000L,
        "normalized EMD is a ppm fraction in [0, 1]")
    }
    // band ceilings actually bound their members' max EMD
    rows.foreach {
      case ("0.0-0.1", _, _, mx) => assert(mx <= 100000L)
      case ("0.1-0.2", _, _, mx) => assert(mx > 100000L && mx <= 200000L)
      case ("0.2-0.3", _, _, mx) => assert(mx > 200000L && mx <= 300000L)
      case ("0.3+", _, _, mx) => assert(mx > 300000L)
      case _ => ()
    }
  }

  test("q_holt_trend: recursion replayed in plain Scala matches the HOF state") {
    import spark.implicits._
    val rows = q("q_holt_trend").run(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    // independent recompute of the recurrence from the raw series
    val monthly = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        (year(col("ts")) * 12 + month(col("ts"))).cast("long").as("idx"))
      .agg(expr("sum(cast(floor(value * 100 + 0.5) as bigint))").as("y"))
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    rows.foreach { case (et, nMonths, level, trend, f1, f2, f3) =>
      val ys = monthly(et)
      assert(nMonths == ys.length.toLong)
      var l = ys.head; var b = 0L
      ys.tail.foreach { y =>
        val l2 = (y + l + b) / 2 // Long / truncates toward zero like div
        b = (b + l2 - l) / 2
        l = l2
      }
      assert(level == l && trend == b, s"$et: recursion must match")
      assert(f1 == l + b && f2 == l + 2 * b && f3 == l + 3 * b)
    }
  }

  test("q_dsir_budget: greedy prefix respects the budget and score order") {
    import spark.implicits._
    val rows = q("q_dsir_budget").run(spark, dir)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, budget, nDocs, nKept, keptTokens, floor) =>
      assert(nKept <= nDocs)
      assert(keptTokens <= budget, "the greedy prefix never overshoots")
      assert(budget > 0)
      if (nKept > 0) assert(floor.exists(_ > 0))
    }
  }

  test("q_weak_labels: handcrafted corpus pins every LF's vote") {
    import spark.implicits._
    // doc 1: 6 tokens (<8 => lf_len -1), no digits (lf_digit +1),
    //        3 stopwords (lf_stop +1), 3 uniq of 6 (lf_rep 0: 6 !< 6)
    //        majority = +1, so lf_len votes against the majority.
    // doc 2: 50% digit chars (lf_digit -1), 2 tokens (lf_len -1),
    //        0 stopwords (lf_stop -1), no repetition (lf_rep 0)
    //        majority = -1, nobody against.
    val tmp = writeDocs(Seq(
      (1L, "the and of the and of", "en", "s0"),
      (2L, "12345 x", "en", "s0")))
    val rows = q("q_weak_labels").run(spark, tmp)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    // conflict only where an opposite-sign vote coexists: doc 2 is
    // all-negative, so its three -1 votes never conflict.
    assert(rows("lf_digit") == ("lf_digit", 2L, 1L, 1L, 2L, 1L, 0L))
    assert(rows("lf_len") == ("lf_len", 2L, 0L, 2L, 2L, 1L, 1L))
    assert(rows("lf_rep") == ("lf_rep", 0L, 0L, 0L, 0L, 0L, 0L))
    assert(rows("lf_stop") == ("lf_stop", 2L, 1L, 1L, 2L, 1L, 0L))
  }
}
