package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Span-exactness pins for `q_dedup_substring_spans`: adjacent
  * duplicated 10-gram positions must merge into ONE span with exact
  * token offsets; disjoint duplicated regions stay separate spans. */
class DedupSpansSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private def q = Registry.all.find(_.name == "q_dedup_substring_spans").get

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val tmp = graft.TestSpark.tempDir("spansdocs")
    rows.map { case (id, text) => (id, text, "en", "synth", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    tmp
  }

  private def toks(range: Range): String = range.map(i => s"t$i").mkString(" ")

  test("an 11-token shared run = two adjacent duplicated shingles = ONE merged span") {
    import spark.implicits._
    // doc 0: tokens t0..t19; doc 1 contains doc 0's tokens t3..t13
    // (11 tokens = shingle positions 3 and 4 duplicated) embedded in
    // otherwise-unique text
    val shared = toks(3 to 13)
    val dir = writeDocs(Seq(
      0L -> toks(0 to 19),
      1L -> (toks(100 to 104) + " " + shared + " " + toks(200 to 204))))
    val out = q.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // doc 0: one span covering positions 3..4, tokens 3..13
    assert(out.filter(_._1 == 0L).toSeq == Seq((0L, 3L, 13L, 2L)),
      s"doc 0 spans: ${out.mkString(", ")}")
    // doc 1: shared run starts at token offset 5 → positions 5..6,
    // tokens 5..15
    assert(out.filter(_._1 == 1L).toSeq == Seq((1L, 5L, 15L, 2L)))
  }

  test("duplicated positions at gap 1..n-1 merge into ONE span (no overlap double-count)") {
    import spark.implicits._
    // doc 0: tokens t0..t29. doc 1 shares t0..t9 (doc-0 shingle pos 0),
    // doc 2 shares t5..t14 (doc-0 shingle pos 5). Gap 5 is in 1..9: the
    // covered intervals [0,9] and [5,14] OVERLAP, so they must merge
    // into one span [0,14] — the old pos-minus-rank islands emitted two
    // overlapping spans whose summed length double-counted tokens 5..9.
    val dir = writeDocs(Seq(
      0L -> toks(0 to 29),
      1L -> (toks(100 to 104) + " " + toks(0 to 9) + " " + toks(200 to 204)),
      2L -> (toks(300 to 304) + " " + toks(5 to 14) + " " + toks(400 to 404))))
    val out = q.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.filter(_._1 == 0L).toSeq == Seq((0L, 0L, 14L, 2L)),
      s"doc 0 spans: ${out.mkString(", ")}")
    // summed span length for doc 0 = 15 tokens, not 20
    assert(out.filter(_._1 == 0L).map(s => s._3 - s._2 + 1).sum == 15L)
  }

  test("duplicated positions at gap exactly n (abutting intervals) merge into ONE span") {
    import spark.implicits._
    // doc 0: tokens t0..t29; doc 1 shares t0..t9 (pos 0), doc 2 shares
    // t10..t19 (pos 10). Intervals [0,9] and [10,19] abut → one span.
    val dir = writeDocs(Seq(
      0L -> toks(0 to 29),
      1L -> (toks(100 to 104) + " " + toks(0 to 9) + " " + toks(200 to 204)),
      2L -> (toks(300 to 304) + " " + toks(10 to 19) + " " + toks(400 to 404))))
    val out = q.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(out.filter(_._1 == 0L).toSeq == Seq((0L, 0L, 19L, 2L)),
      s"doc 0 spans: ${out.mkString(", ")}")
  }

  test("spans of one doc are pairwise disjoint and non-adjacent; removed_ppm <= 1e6") {
    import spark.implicits._
    // Adversarial layout: doc 0 carries duplicated shingle positions at
    // gaps 3, 7, 10 and 12 (via docs 1..4 each sharing one 10-gram) —
    // the first three merge, the gap-12 run starts a new span.
    val dir = writeDocs(Seq(
      0L -> toks(0 to 44),
      1L -> (toks(100 to 109) + " " + toks(0 to 9)),
      2L -> (toks(110 to 119) + " " + toks(3 to 12)),
      3L -> (toks(120 to 129) + " " + toks(10 to 19)),
      4L -> (toks(130 to 139) + " " + toks(20 to 29)),
      5L -> (toks(140 to 149) + " " + toks(32 to 41))))
    val out = q.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    val d0 = out.filter(_._1 == 0L).toSeq
    // positions {0,3,10,20} chain-merge (all gaps <= 10) into [0,29];
    // position 32 is gap 12 from 20 → its own span [32,41]
    assert(d0 == Seq((0L, 0L, 29L, 4L), (0L, 32L, 41L, 1L)),
      s"doc 0 spans: ${d0.mkString(", ")}")
    out.groupBy(_._1).foreach { case (_, spans) =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) => assert(b._2 > a._3 + 1,
          s"spans must be disjoint and non-adjacent: $a then $b")
        case _ => ()
      }
    }
    // total removed tokens can never exceed the doc's token count
    out.groupBy(_._1).foreach { case (id, spans) =>
      val removed = spans.map(s => s._3 - s._2 + 1).sum
      val nToks = if (id == 0L) 45L else 20L
      assert(removed <= nToks, s"doc $id removes $removed of $nToks")
    }
  }

  test("disjoint duplicated regions produce separate spans; unique docs none") {
    import spark.implicits._
    // doc 0 embeds two NON-adjacent copies of runs shared with docs 1/2
    val runA = toks(300 to 309) // exactly one 10-gram
    val runB = toks(400 to 409)
    val dir = writeDocs(Seq(
      0L -> (runA + " " + toks(0 to 4) + " " + runB),
      1L -> (toks(500 to 509) + " " + runA),
      2L -> (runB + " " + toks(600 to 609)),
      3L -> toks(700 to 720))) // fully unique: no spans
    val out = q.run(spark, dir)
      .as[(Long, Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    // doc 0: runA at positions 0 (tokens 0..9), runB at token offset 15
    assert(out.filter(_._1 == 0L).toSeq ==
      Seq((0L, 0L, 9L, 1L), (0L, 15L, 24L, 1L)))
    assert(out.filter(_._1 == 3L).isEmpty, "unique doc must have no spans")
    // every span is maximal: gaps between consecutive spans of a doc
    out.groupBy(_._1).foreach { case (_, spans) =>
      spans.sortBy(_._2).sliding(2).foreach {
        case Array(a, b) =>
          // next span's first duplicated position strictly beyond the
          // previous run's last position + 1 (else they'd have merged)
          val prevLastPos = a._2 + a._4 - 1
          assert(b._2 > prevLastPos + 1)
        case _ => ()
      }
    }
  }
}
