package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The unigram-LM tokenizer build, pinned DIFFERENTIALLY: a plain
  * in-memory Scala replay of the full two-pass build (candidate
  * scores → exact-integer Viterbi → hard-EM re-estimation →
  * re-segmentation) must reproduce the DataFrame artifact's vocab and
  * decompositions bit-for-bit, plus the structural invariants every
  * segmentation must satisfy (reconstruction, totality, count
  * conservation) and build determinism. */
class UnigramVocabSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  import UnigramVocabArtifact.{B, MaxLen, PieceMax}

  private def corpusWords(): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    graft.Tables.documents(spark, dir)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= MaxLen)
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Independent reimplementation: Viterbi with the artifact's
    * lexicographic objective (fewest pieces, max score, shortest last
    * piece) via the same single-BIGINT encoding. */
  private def segment(w: String, scores: Map[String, Long]): Seq[String] = {
    val n = w.length
    val cost = Array.fill(n + 1)(Long.MaxValue)
    val bl = Array.fill(n + 1)(0)
    cost(0) = 0L
    for (j <- 1 to n; l <- 1 to math.min(PieceMax, j)) {
      scores.get(w.substring(j - l, j)).foreach { c =>
        val cand = cost(j - l) + B - c
        if (cand < cost(j) || (cand == cost(j) && l < bl(j))) {
          cost(j) = cand; bl(j) = l
        }
      }
    }
    var pos = n
    val out = List.newBuilder[String]
    val rev = scala.collection.mutable.ListBuffer.empty[String]
    while (pos > 0) { rev.prepend(w.substring(pos - bl(pos), pos)); pos -= bl(pos) }
    out ++= rev
    out.result()
  }

  /** The full two-pass build, replayed in plain Scala. Returns
    * (final vocab piece → usage, word → pieces). */
  private def replayBuild(words: Map[String, Long])
      : (Map[String, Long], Map[String, Seq[String]]) = {
    def substrScores(ws: Map[String, Long]): Map[String, Long] =
      ws.toSeq.flatMap { case (w, f) =>
        for {
          l <- 1 to math.min(PieceMax, w.length)
          i <- 0 to w.length - l
        } yield (w.substring(i, i + l), f)
      }.groupMapReduce(_._1)(_._2)(_ + _)
    def usage(ws: Map[String, Long], scores: Map[String, Long])
        : (Map[String, Long], Map[String, Seq[String]]) = {
      val segs = ws.keys.map(w => w -> segment(w, scores)).toMap
      val u = ws.toSeq.flatMap { case (w, f) => segs(w).map(_ -> f) }
        .groupMapReduce(_._1)(_._2)(_ + _)
      (u, segs)
    }
    val (u1, _) = usage(words, substrScores(words))
    val chars = words.keys.flatMap(_.map(_.toString)).toSet
    val vocab2 = u1.filter(_._1.length > 1) ++
      chars.map(c => c -> u1.getOrElse(c, 0L))
    usage(words, vocab2)
  }

  test("artifact matches the independent in-memory replay exactly") {
    UnigramVocabArtifact.materialize(spark, dir)
    val words = corpusWords()
    val (expVocab, expSegs) = replayBuild(words)

    val gotVocab = UnigramVocabArtifact.vocab(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(gotVocab.keySet == expVocab.keySet)
    expVocab.foreach { case (piece, c) =>
      assert(gotVocab(piece) == (piece.length.toLong, c),
        s"vocab mismatch for piece '$piece'")
    }

    val gotReprs = UnigramVocabArtifact.reprs(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(gotReprs.keySet == words.keySet)
    words.foreach { case (w, f) =>
      val (gf, gn, grepr) = gotReprs(w)
      assert(gf == f, s"frequency mismatch for '$w'")
      assert(grepr == expSegs(w).mkString(" "),
        s"segmentation mismatch for '$w'")
      assert(gn == expSegs(w).size.toLong)
    }
  }

  test("structural invariants: reconstruction, totality, conservation") {
    val reprs = UnigramVocabArtifact.reprs(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(reprs.nonEmpty)
    reprs.foreach { case (w, _, n, repr) =>
      val pieces = repr.split(" ").toSeq
      assert(pieces.mkString == w, s"pieces of '$w' don't reconstruct it")
      assert(pieces.size.toLong == n)
      assert(n <= w.length && n >= (w.length + PieceMax - 1) / PieceMax,
        s"piece count for '$w' outside [ceil(len/$PieceMax), len]")
    }
    // conservation: Σ_words f·n_pieces = Σ_vocab usage
    val lhs = reprs.map(r => r._2 * r._3).sum
    val rhs = UnigramVocabArtifact.vocab(spark, dir).collect()
      .map(_.getLong(2)).sum
    assert(lhs == rhs)
  }

  test("build is deterministic across rebuilds") {
    val v1 = UnigramVocabArtifact.vocab(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val r1 = UnigramVocabArtifact.reprs(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(3))).sortBy(_._1)
    // force a rebuild through the runtime: drop the root and its
    // cached relations, so the next read builds from scratch
    val root = UnigramVocabArtifact.path(dir)
    Artifacts.wipe(root)
    assert(!new java.io.File(root).exists())
    val v2 = UnigramVocabArtifact.vocab(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val r2 = UnigramVocabArtifact.reprs(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(3))).sortBy(_._1)
    assert(Artifacts.complete(root), "the read must have rebuilt the root")
    assert(v1.toSeq == v2.toSeq)
    assert(r1.toSeq == r2.toSeq)
  }
}
