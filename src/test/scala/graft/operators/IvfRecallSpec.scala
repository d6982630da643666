package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** ANN quality: multi-probe search over the Lloyd-refined IVF index
  * must not lose recall versus single-probe (same centroids ⇒ its
  * candidate set is a superset), and refinement keeps the index
  * usable. Ground truth is brute-force cosine top-k. */
class IvfRecallSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  private val (qMin, qMax, k) = (8L, 16L, 3)

  private def resultSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.select("qid", "vec_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap

  private def recall(found: Map[Long, Set[Long]],
                     truth: Map[Long, Set[Long]]): Double = {
    val hits = truth.map { case (q, t) =>
      (found.getOrElse(q, Set.empty) & t).size.toDouble / t.size
    }
    hits.sum / truth.size
  }

  test("multi-probe recall >= single-probe recall on the refined index") {
    val emb = graft.Tables.embeddings(spark, dir)
    // ground truth: brute force among the same candidate universe
    val truth = resultSet(
      Similarity.ivfSearch(emb, numCentroids = 8, qMin, qMax, k,
        probes = 8, iterations = 2)) // probing ALL cells = exact
    val single = resultSet(
      Similarity.ivfSearch(emb, numCentroids = 8, qMin, qMax, k,
        probes = 1, iterations = 2))
    val multi = resultSet(
      Similarity.ivfSearch(emb, numCentroids = 8, qMin, qMax, k,
        probes = 2, iterations = 2))
    val (rSingle, rMulti) = (recall(single, truth), recall(multi, truth))
    assert(rMulti >= rSingle,
      s"multi-probe recall $rMulti < single-probe $rSingle")
    assert(rMulti > 0.0)
    // supersets per query, by construction
    single.foreach { case (q, s) =>
      assert(s.nonEmpty || multi.getOrElse(q, Set.empty).nonEmpty || truth(q).isEmpty)
    }
  }

  test("auto-sized index (C ∝ √N): recall@5 holds at two scale factors") {
    // the one-knob contract: IvfArtifact.autoCentroids sizes C from
    // the corpus, and probing a fixed FRACTION of cells (¼) keeps
    // recall@5 above the floor at both corpus sizes — a resize that
    // silently trades recall away fails here, not in production
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.1")) {
      val emb = graft.Tables.embeddings(spark, d)
      val n = emb.count()
      val c = IvfArtifact.autoCentroids(n)
      assert(c >= 8 && c <= 4096 && c <= n)
      val (cents, inv) = Similarity.ivfIndex(emb, c, iterations = 2)
      val invP = inv.persist()
      val kk = 5
      // probing EVERY cell makes IVF exhaustive = brute-force truth
      val truth = resultSet(
        Similarity.ivfSearchIndexed(cents, invP, qMin, qMax, kk, probes = c))
      val probes = math.max(2, c / 4)
      val found = resultSet(
        Similarity.ivfSearchIndexed(cents, invP, qMin, qMax, kk, probes))
      val r = recall(found, truth)
      info(f"$d: N=$n C=$c probes=$probes recall@5=$r%.3f")
      assert(r >= 0.6, f"$d: recall@5 $r%.3f below floor (C=$c, probes=$probes)")
      invP.unpersist()
    }
    // the knob itself: √N with the clamps
    assert(IvfArtifact.autoCentroids(4) == 8)
    assert(IvfArtifact.autoCentroids(10000) == 100)
    assert(IvfArtifact.autoCentroids(100000000L) == 4096)
  }

  test("Lloyd refinement preserves the partition invariant (every vector in one cell)") {
    val emb = graft.Tables.embeddings(spark, dir)
    val n = emb.count()
    val assigned = Similarity.ivfAssign(emb, numCentroids = 8, iterations = 2)
    assert(assigned.count() == n)
    assert(assigned.select("vec_id").distinct().count() == n)
  }

  test("IVF-PQ: k results per query; best ADC is monotone in probes") {
    val emb = graft.Tables.embeddings(spark, dir)
    IvfArtifact(numCentroids = 8, iterations = 2).materialize(spark, dir)
    val cents = IvfArtifact.centroids(spark, dir, 8, 2)
    val inv = IvfArtifact.inverted(spark, dir, 8, 2)
    def bestAdc(probes: Int): Map[Long, Long] =
      Similarity.ivfPqSearch(cents, inv, qMin, qMax, k, probes)
        .filter(org.apache.spark.sql.functions.col("rnk") === 1)
        .select("qid", "adc").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rows = Similarity.ivfPqSearch(cents, inv, qMin, qMax, k, probes = 2)
      .select("qid").collect().groupBy(_.getLong(0))
    assert(rows.nonEmpty && rows.values.forall(_.length == k))
    val (p1, p2) = (bestAdc(1), bestAdc(2))
    // probes=2 candidates are a superset, so the best (lowest) ADC
    // per query can only improve or stay
    p1.foreach { case (q, a1) => assert(p2(q) <= a1) }
  }
}
