package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins for the STRIDED suffix array ([[SuffixArray.blocks]] +
  * [[SuffixArray.longestRepeatedStrided]]) — full-document repeat
  * discovery, the capability the plain first-`window`-chars table
  * cannot express:
  *  - a repeat whose occurrences start PAST position 128 is found with
  *    its exact length (and provably invisible to the unstrided walk);
  *  - every emitted pair is genuine (the claimed common prefix really
  *    is common at those GLOBAL positions);
  *  - the maximum emitted lcp equals the brute-force longest repeat
  *    when that repeat fits the guaranteed lookahead (≤ window−stride);
  *  - block-copy seam hits are reconciled: one row per unordered
  *    global pair, no self-pairs, canonical (lo ≤ hi) order;
  *  - determinism: two runs produce identical rows. */
class StridedSuffixSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  /** Operator output, plus the query-side LEFT-MAXIMALITY filter
    * (prior global chars differ — [[graft.queries.SuffixQueries]]
    * applies the same filter before ranking): without it a length-L
    * match legitimately drags its L-1 shadow suffixes behind it. */
  private def lrsStrided(docs: Seq[(Long, String)], w: Int, s: Int) = {
    import spark.implicits._
    val texts = docs.toMap
    val df = docs.toDF("doc_id", "text")
    val blk = SuffixArray.blocks(df, w, s)
    val last = SuffixArray.rankLevels(blk, w).last
    SuffixArray.longestRepeatedStrided(last, blk, s)
      .select("doc_a", "pos_a", "doc_b", "pos_b", "lcp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
      .filter(_._5 > 0)
      .filter { case (da, pa, db, pb, _) =>
        pa == 0 || pb == 0 ||
          texts(da).charAt(pa.toInt - 1) != texts(db).charAt(pb.toInt - 1)
      }
  }

  // repeat-free filler: strictly distinct code points, disjoint across
  // docs, so the ONLY repeated substring is the planted marker.
  private def filler(from: Int, n: Int): String =
    (from until from + n).map(_.toChar).mkString

  private val Marker = "THEQUICKBROWNFOXJUMPSOVERTHELAZYDOGNOW42" // 40 chars
  require(Marker.length == 40 && Marker.toSet.size > 1)

  test("repeat starting past position 128 is found, exact, global coords") {
    val docs = Seq(
      0L -> (filler(1000, 200) + Marker), // marker at global pos 200
      1L -> (filler(2000, 300) + Marker)) // marker at global pos 300
    val got = lrsStrided(docs, 128, 64)
    // the planted pair, at its exact length, in canonical order
    val hit = got.filter(p => p._1 == 0L && p._3 == 1L && p._5 >= 10)
    assert(hit.sorted == Seq((0L, 200L, 1L, 300L, 40L)),
      s"expected the planted 40-char repeat once, got $hit")
    // nothing longer exists anywhere
    assert(got.map(_._5).max == 40L)
    // and the UNSTRIDED first-128-chars walk cannot see it
    import spark.implicits._
    val df = docs.toDF("doc_id", "text")
    val plain = SuffixArray.longestRepeated(df, 128)
      .select("lcp").collect().map(_.getLong(0))
    assert(!plain.exists(_ >= 10),
      s"plain window should miss the pos-200/300 repeat, got lcps $plain")
  }

  test("marker crossing block seams: one canonical row, no self-pairs") {
    // stride 8, window 16: a 7-char marker planted at positions that
    // fall in different block phases, so its copies hit several seams
    val docs = Seq(
      0L -> (filler(1000, 13) + "MARKQZ!" + filler(1100, 11)),  // pos 13
      1L -> (filler(2000, 30) + "MARKQZ!" + filler(2100, 5)))   // pos 30
    val got = lrsStrided(docs, 16, 8)
    val cross = got.filter(p => p._1 != p._3)
    assert(cross.sorted == Seq((0L, 13L, 1L, 30L, 7L)),
      s"expected exactly one canonical cross-doc row, got $cross")
    // no self-pairs, no duplicate unordered pairs anywhere
    assert(!got.exists(p => p._1 == p._3 && p._2 == p._4))
    val keys = got.map(p => (p._1, p._2, p._3, p._4))
    assert(keys.distinct.size == keys.size)
    // canonical order: (doc_a, pos_a) <= (doc_b, pos_b)
    assert(got.forall(p => (p._1 < p._3) ||
      (p._1 == p._3 && p._2 <= p._4)))
  }

  test("every emitted pair is genuine; max lcp is the brute-force LRS") {
    def bruteForce(texts: Map[Long, String]): Int = {
      val all = for {
        (d, t) <- texts.toSeq; p <- 0 until t.length
      } yield (d, p, t.substring(p))
      (for {
        (da, pa, sa) <- all; (db, pb, sb) <- all
        if (da, pa) != (db, pb)
      } yield sa.zip(sb).takeWhile { case (x, y) => x == y }.size).max
    }
    def genuine(texts: Map[Long, String],
        got: Seq[(Long, Long, Long, Long, Long)]): Unit =
      got.foreach { case (da, pa, db, pb, l) =>
        val (ta, tb) = (texts(da), texts(db))
        assert(pa + l <= ta.length && pb + l <= tb.length,
          s"pair ($da,$pa,$db,$pb,$l) out of range")
        assert(ta.substring(pa.toInt, (pa + l).toInt)
          == tb.substring(pb.toInt, (pb + l).toInt),
          s"claimed prefix not common at ($da,$pa) vs ($db,$pb) len $l")
      }

    // (a) LRS within the guaranteed lookahead (≤ stride): exact
    val short = Map(
      0L -> "abraxas stones znq",
      1L -> "the stones went uphill",
      2L -> "entirely unrelated zq")
    val gotShort = lrsStrided(short.toSeq, 16, 8)
    genuine(short, gotShort)
    val bfShort = bruteForce(short)
    assert(bfShort <= 8, s"corpus (a) must keep LRS within stride, got $bfShort")
    assert(gotShort.map(_._5).max == bfShort.toLong,
      s"max emitted ${gotShort.map(_._5).max} != brute force $bfShort")

    // (b) LRS past the guaranteed lookahead: genuine, bounded, and at
    // least the stride-guaranteed floor
    val long = Map(
      0L -> "abracadabra stones and abracadabra bones",
      1L -> "the stones and bones catalogue")
    val gotLong = lrsStrided(long.toSeq, 16, 8)
    genuine(long, gotLong)
    val bfLong = bruteForce(long)
    assert(bfLong > 8, s"corpus (b) must exceed the stride, got $bfLong")
    val maxL = gotLong.map(_._5).max
    assert(maxL >= 8L && maxL <= bfLong.toLong,
      s"max emitted $maxL outside [8, $bfLong]")
  }

  test("determinism: two runs emit identical rows") {
    val docs = Seq(
      0L -> "abracadabra stones and abracadabra bones",
      1L -> "the stones and bones catalogue")
    val a = lrsStrided(docs, 16, 8).sorted
    val b = lrsStrided(docs, 16, 8).sorted
    assert(a == b)
  }
}
