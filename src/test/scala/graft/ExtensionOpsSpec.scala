package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the round-4 extension batch: RFM segmentation,
  * A/B stats, time-weighted averages, PMI, tokenizer fertility, graph
  * node similarity / k-core, edit-distance dedup and the epoch plan. */
class ExtensionOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = Registry.all.find(_.name == name).get

  test("q_rfm_segments: census partitions customers, scores in 1..4") {
    import spark.implicits._
    val rows = q("q_rfm_segments").run(spark, dir)
      .select(col("r_score"), col("f_score"), col("m_score"), col("n_custs"))
      .as[(Int, Int, Int, Long)].collect()
    val nCust = Tables.orders(spark, dir)
      .select(col("o_custkey")).distinct().count()
    assert(rows.map(_._4).sum == nCust, "every ordering customer is scored once")
    rows.foreach { case (r, f, m, _) =>
      assert(r >= 1 && r <= 4); assert(f >= 1 && f <= 4); assert(m >= 1 && m <= 4)
    }
  }

  test("q_abtest_stats: arms partition events, t finite") {
    import spark.implicits._
    val rows = q("q_abtest_stats").run(spark, dir)
      .select(col("event_type"), col("n_a") + col("n_b"), col("welch_t"))
      .as[(String, Long, Double)].collect()
    val perType = Tables.events(spark, dir)
      .groupBy(col("event_type")).agg(count(lit(1)))
      .as[(String, Long)].collect().toMap
    rows.foreach { case (t, n, wt) =>
      assert(n == perType(t), s"arm counts must tie out for $t")
      assert(!wt.isNaN && !wt.isInfinite)
    }
  }

  test("q_abtest_stats: a 0/1-event arm yields NULL t, never NaN/divide-by-zero") {
    import spark.implicits._
    val tmp = graft.TestSpark.tempDir("abtest_degenerate")
    // (event_id, user_id, event_type, value, ts): type "solo" has one
    // arm with a single event (n-1 = 0 variance denominator), type
    // "both" has 2+ events per arm
    Seq(
      (1L, 2L, "solo", 10.0), (2L, 2L, "solo", 12.5), (3L, 4L, "solo", 9.0),
      (4L, 1L, "solo", 11.0), // the single arm-B event
      (5L, 2L, "both", 1.0), (6L, 4L, "both", 2.0),
      (7L, 1L, "both", 3.0), (8L, 3L, "both", 4.5))
      .toDF("event_id", "user_id", "event_type", "value")
      .withColumn("ts", lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val rows = q("q_abtest_stats").run(spark, tmp)
      .select(col("event_type"), col("n_a"), col("n_b"), col("welch_t"))
      .collect()
    val solo = rows.find(_.getString(0) == "solo").get
    assert(solo.getLong(1) == 3 && solo.getLong(2) == 1)
    assert(solo.isNullAt(3), "degenerate arm must yield NULL t, not NaN")
    val both = rows.find(_.getString(0) == "both").get
    val t = both.getDouble(3)
    assert(!t.isNaN && !t.isInfinite, "well-populated arms keep a finite t")
  }

  test("q_time_weighted_avg: TWA bounded by the user's value range") {
    import spark.implicits._
    val twa = q("q_time_weighted_avg").run(spark, dir)
      .select(col("user_id"), col("twa_cents")).as[(Long, Long)].collect().toMap
    val bounds = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(min(floor(col("value") * 100 + 0.5).cast("long")).as("lo"),
        max(floor(col("value") * 100 + 0.5).cast("long")).as("hi"))
      .as[(Long, Long, Long)].collect()
    bounds.filter(b => twa.contains(b._1)).foreach { case (u, lo, hi) =>
      assert(twa(u) >= lo - 1 && twa(u) <= hi,
        s"user $u twa ${twa(u)} outside [$lo, $hi]")
    }
  }

  test("q_text_pmi: min count respected, PMI arithmetic replays") {
    import spark.implicits._
    val rows = q("q_text_pmi").run(spark, dir)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, cab, ca, cb, _) =>
      assert(cab >= 5); assert(ca >= cab); assert(cb >= cab)
    }
    // replay the PMI formula for the top row from its own counts
    val docs = Tables.documents(spark, dir).select(col("text")).as[String].collect()
    val nUni = docs.map(_.split("\\s+").length.toLong).sum
    val nBg = docs.map(t => math.max(0L, t.split("\\s+").length.toLong - 1)).sum
    val (_, cab, ca, cb, pmi) = rows.head
    val expect = math.log((cab.toDouble / nBg) /
      ((ca.toDouble / nUni) * (cb.toDouble / nUni)))
    assert(math.abs(pmi - expect) < 1e-5)
  }

  test("q_tokenizer_fertility: per-lang accounting positive and consistent") {
    import spark.implicits._
    val rows = q("q_tokenizer_fertility").run(spark, dir)
      .select(col("lang"), col("ws_tokens"), col("bpe_tokens"),
        col("fertility_micros")).as[(String, Long, Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length)
    rows.foreach { case (_, ws, bpe, fm) =>
      assert(ws > 0 && bpe > 0)
      assert(fm == bpe * 1000000L / ws)
    }
  }

  test("q_graph_jaccard: similarity bounded, ordered pairs") {
    import spark.implicits._
    val rows = q("q_graph_jaccard").run(spark, dir)
      .select(col("na"), col("nb"), col("common_nbrs"), col("jac_micros"))
      .as[(Long, Long, Long, Long)].collect()
    rows.foreach { case (a, b, c, j) =>
      assert(a < b); assert(c >= 2); assert(j >= 0 && j <= 1000000L)
    }
  }

  test("q_graph_kcore: trajectory shrinks monotonically") {
    import spark.implicits._
    val rows = q("q_graph_kcore").run(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rows.length == 3)
    rows.sliding(2).foreach { case Array((_, n1, e1), (_, n2, e2)) =>
      assert(n2 <= n1, "node count must not grow while peeling")
      assert(e2 <= e1, "edge count must not grow while peeling")
    }
    // every surviving round-3 edge endpoint had degree >= 3 in round 2
  }

  test("q_dedup_editdist: pairs respect block and threshold") {
    import spark.implicits._
    val rows = q("q_dedup_editdist").run(spark, dir)
      .as[(Long, Long, String, Long)].collect()
    rows.foreach { case (a, b, _, d) =>
      assert(a < b); assert(d >= 0 && d <= 3)
    }
    // replay one pair's distance imperatively
    if (rows.nonEmpty) {
      val (a, b, _, d) = rows.head
      val heads = Tables.documents(spark, dir)
        .filter(col("doc_id").isin(a, b))
        .select(col("doc_id"), substring(col("text"), 1, 40))
        .as[(Long, String)].collect().toMap
      def lev(s: String, t: String): Int = {
        val dp = Array.tabulate(s.length + 1)(i => Array.tabulate(t.length + 1)(j =>
          if (i == 0) j else if (j == 0) i else 0))
        for (i <- 1 to s.length; j <- 1 to t.length)
          dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
            dp(i - 1)(j - 1) + (if (s(i - 1) == t(j - 1)) 0 else 1))
        dp(s.length)(t.length)
      }
      assert(lev(heads(a), heads(b)).toLong == d)
    }
  }

  test("q_corpus_gini: bounds and top-share consistency") {
    import spark.implicits._
    val (n, total, gini, top1) = q("q_corpus_gini").run(spark, dir)
      .as[(Long, Long, Long, Long)].head()
    assert(n > 0 && total > 0)
    assert(gini >= 0 && gini < 1000000L)
    assert(top1 >= 1000000L / n, "top-1 share must be at least the uniform share")
    assert(top1 <= 1000000L)
  }

  test("q_boilerplate_spans: spans are 10-grams present in >= 2 docs") {
    import spark.implicits._
    val rows = q("q_boilerplate_spans").run(spark, dir)
      .as[(String, Long, Long)].collect()
    rows.foreach { case (span, occ, docs) =>
      assert(span.split(" ").length == 10)
      assert(docs >= 2)
      assert(occ >= docs, "occurrences dominate doc frequency")
    }
  }

  test("q_privacy_dpcounts: noise arithmetic replays, release consistent") {
    import spark.implicits._
    val rows = q("q_privacy_dpcounts").run(spark, dir)
      .select(col("true_n"), col("noise"), col("noisy_n"))
      .as[(Long, Double, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (tn, noise, noisy) =>
      assert(math.abs(noisy - math.rint((tn + noise) * 1e6) / 1e6) < 1e-9)
      // Laplace(2) noise: |noise| = 2*ln(1/(2*min(u,1-u))) <= 2*ln(10000)
      assert(math.abs(noise) <= 2.0 * math.log(10000.0) + 1e-9)
    }
  }

  test("q_source_entropy: bounded by ln(vocab), positive mass") {
    import spark.implicits._
    val rows = q("q_source_entropy").run(spark, dir)
      .as[(String, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, n, v, h) =>
      assert(n >= v && v > 0)
      assert(h >= -1e-6, "entropy cannot be negative")
      assert(h <= math.log(v.toDouble) + 1e-6,
        "entropy is maximized by the uniform distribution")
    }
  }

  test("q_window_ranks: pr in [0,1], cd in (0,1], monotone with cents") {
    import spark.implicits._
    val rows = q("q_window_ranks").run(spark, dir)
      .as[(Long, Long, Long, Double, Double)].collect()
    rows.foreach { case (_, _, _, pr, cd) =>
      assert(pr >= 0.0 && pr <= 1.0); assert(cd > 0.0 && cd <= 1.0)
    }
    rows.groupBy(_._1).values.foreach { grp =>
      val byCents = grp.sortBy(_._3)
      byCents.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4 <= b._4 + 1e-9); assert(a._5 <= b._5 + 1e-9)
        case _ => ()
      }
    }
  }

  test("q_daily_backlog: balance ties to totals and never goes negative-final") {
    import spark.implicits._
    val rows = q("q_daily_backlog").run(spark, dir)
      .select(col("n_opened"), col("n_closed"), col("open_backlog"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val last = rows.last._3
    assert(last == rows.map(_._1).sum - rows.map(_._2).sum,
      "final backlog equals opened minus closed")
    // running balance replays exactly
    var acc = 0L
    rows.foreach { case (o, c, b) => acc += o - c; assert(b == acc) }
  }

  test("q_text_readability: accounting positive, score replays") {
    import spark.implicits._
    val rows = q("q_text_readability").run(spark, dir)
      .as[(String, Long, Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, nd, w, s, syl, f) =>
      assert(nd > 0 && w > 0 && s >= nd, "each doc has at least one sentence")
      val expect = 206.835 - 1.015 * (w.toDouble / s) - 84.6 * (syl.toDouble / w)
      assert(math.abs(f - math.rint(expect * 1e6) / 1e6) < 1e-9)
    }
  }

  test("q_zipf_fit: slope negative (frequency decays with rank)") {
    import spark.implicits._
    val (n, slope) = q("q_zipf_fit").run(spark, dir)
      .as[(Long, Double)].head()
    assert(n > 1 && n <= 100, "top-k bounded (the sf0.001 vocab is tiny)")
    assert(slope < 0.0, s"rank-frequency slope must be negative, got $slope")
  }

  test("q_grouping_sets: three granularities, each conserving the corpus") {
    import spark.implicits._
    val rows = q("q_grouping_sets").run(spark, dir)
      .select(col("gid"), col("n_docs")).as[(Long, Long)].collect()
    val total = Tables.documents(spark, dir).count()
    val byGid = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(byGid.keySet == Set(1L, 2L, 3L),
      "exactly the (source), (lang) and () granularities")
    assert(byGid(1L) == total, "per-source cells partition the corpus")
    assert(byGid(2L) == total, "per-lang cells partition the corpus")
    assert(byGid(3L) == total, "the grand total row")
  }

  test("q_epoch_plan: caps and utilization arithmetic hold") {
    import spark.implicits._
    val rows = q("q_epoch_plan").run(spark, dir)
      .select(col("n_tokens"), col("desired_tokens"), col("epochs"),
        col("effective_tokens"), col("utilization_micros"))
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (nt, want, ep, eff, util) =>
      assert(ep >= 1 && ep <= 4)
      assert(eff == math.min(want, nt * 4))
      assert(util == eff * 1000000L / want)
      assert(util <= 1000000L)
    }
  }
}
