package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the materialized layout artifacts (edge list, IVF
  * index, eval shingle set): lazy build on first read, results
  * identical to the from-scratch plan, fingerprint keying that
  * isolates different source dirs, and search-over-index equivalence
  * to the monolithic search. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("edge artifact builds lazily and matches the from-scratch plan") {
    val p = new java.io.File(EdgeArtifact.path(dir))
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(del); f.delete()
    }
    del(p)
    assert(!p.exists())
    val fromArtifact = EdgeArtifact.edges(spark, dir)
      .select("pa", "pb", "support").collect().map(_.toSeq).toSet
    assert(p.exists(), "first read must materialize the artifact")
    // independent recomputation from the fact table
    val b = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey")).distinct()
    val fresh = b.select(col("okey"), col("l_partkey").as("pa"))
      .join(b.select(col("okey"), col("l_partkey").as("pb")), Seq("okey"))
      .filter(col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 2)
      .collect().map(_.toSeq).toSet
    assert(fromArtifact == fresh)
  }

  test("edge artifact marginals agree with direct basket aggregates") {
    val basket = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("okey"), col("l_partkey")).distinct()
    val freqFresh = basket.groupBy("l_partkey")
      .agg(count(lit(1)).as("f")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val freqArt = EdgeArtifact.nodeFreq(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(freqArt == freqFresh)
    val nOrders = EdgeArtifact.meta(spark, dir).head().getLong(0)
    assert(nOrders == basket.select("okey").distinct().count())
  }

  test("artifact paths are fingerprint-keyed per source dir") {
    val a = Artifacts.path("/root/testdata/sf0.001", "lineitem", "cooccur")
    val b2 = Artifacts.path("/root/testdata/sf0.01", "lineitem", "cooccur")
    assert(a != b2)
    // stable across calls for the same (unchanged) input
    assert(a == Artifacts.path("/root/testdata/sf0.001", "lineitem", "cooccur"))
  }

  test("every artifact root is its source table's path plus its pinned key") {
    val roots = Seq(
      (AppendGraphArtifact.path(dir), "embeddings", "nndappend", "_b4_h3_l1_n8"),
      (BeamWalkArtifact.path(dir), "embeddings", "beamwalk", "_q8_16_b4_h4_e0"),
      (BpeVocabArtifact.path(dir), "documents", "bpevocab", "_r8"),
      (ClusterArtifact(0.5, 2).path(dir), "documents", "dedupcc", "_t50_d2"),
      (EdgeArtifact.path(dir), "lineitem", "cooccur", ""),
      (EvalSetArtifact.path(dir), "documents", "evalsh", ""),
      (HeadPairsArtifact.path(dir), "documents", "headpairs", ""),
      (HllArtifact.path(dir), "documents", "hllregs", "_sh5"),
      (IvfArtifact(8, 2).path(dir), "embeddings", "ivf", "_c8_i2"),
      (IvfBaseArtifact.path(dir), "embeddings", "ivfbase", "_c8_i2_n8"),
      (KnnEdgesArtifact.path(dir), "embeddings", "knnedges", "_c8_i2_k5"),
      (MediaArtifact.path(dir), "documents", "media_v6", ""),
      (NbScoresArtifact.path(dir), "documents", "nbscores", "_bp8000_v256"),
      (NndGraphArtifact.path(dir), "embeddings", "nndgraph", "_k10_r3_s10"),
      (PairsArtifact(0.5, 2).path(dir), "documents", "ndpairs", "_t50_d2"),
      (PlainLrsPairsArtifact.path(dir), "documents", "suffixplainpairs", "_w128"),
      (PqCodebookArtifact(2).path(dir), "embeddings", "pqcb", "_i2"),
      (PrefDuelArtifact.path(dir), "events", "prefduel", ""),
      (ProfileArtifact.path(dir), "events", "profile", ""),
      (RocchioPredsArtifact.path(dir), "documents", "rcpreds", "_bp8000_v256"),
      (StridedLrsPairsArtifact.path(dir), "documents", "suffixpairs",
        "_w128_s64_b1048576"),
      (StridedSuffixArtifact.path(dir), "documents", "suffixstrided",
        "_w128_s64_b1048576"),
      (TeacherArtifact.path(dir), "documents", "teacher", "_profile_bp8000"),
      (TermIndexArtifact.path(dir), "documents", "termidx", "_cap10"),
      (TopicArtifact.path(dir), "documents", "topics", ""),
      (UnigramVocabArtifact.path(dir), "documents", "unigramvocab", "_l10p5"))
    roots.foreach { case (root, table, tag, key) =>
      assert(root == Artifacts.path(dir, table, tag) + key, tag)
    }
  }

  test("indexed IVF search equals the monolithic search") {
    val emb = graft.Tables.embeddings(spark, dir)
    val monolithic = Similarity.ivfSearch(emb, numCentroids = 8,
      qMinId = 8, qMaxId = 16, k = 3, probes = 2, iterations = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    val indexed = Similarity.ivfSearchIndexed(
      IvfArtifact.centroids(spark, dir, 8, 2),
      IvfArtifact.inverted(spark, dir, 8, 2),
      qMinId = 8, qMaxId = 16, k = 3, probes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(indexed == monolithic)
  }

  test("pairs artifact equals a fresh capped-Jaccard pair run") {
    val fresh = Dedup.jaccardPairs(graft.Tables.documents(spark, dir), 0.5,
        maxDf = Some(64))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val art = PairsArtifact.pairs(spark, dir, 0.5, 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(art == fresh)
  }

  test("cluster-label artifact equals a fresh pairs->CC run") {
    val fresh = Clusters.connectedComponents(
        Dedup.jaccardPairs(graft.Tables.documents(spark, dir), 0.5,
          maxDf = Some(64)).select(col("da"), col("db")), "da", "db")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val art = ClusterArtifact.labels(spark, dir, 0.5, 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(art == fresh)
  }

  test("eval shingle artifact equals the from-scratch distinct set") {
    val fresh = Dedup.docShingles(
        graft.Tables.documents(spark, dir).filter(col("source") === "src0"), 5)
      .select("shingle").distinct().collect().map(_.getString(0)).toSet
    val art = EvalSetArtifact.shingles(spark, dir)
      .collect().map(_.getString(0)).toSet
    assert(art == fresh)
  }

  test("topic artifact: lazy build, total assignment, seed-labeled topics") {
    val p = new java.io.File(TopicArtifact.path(dir))
    def del(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(del); f.delete()
    }
    del(p)
    assert(!p.exists())
    val assign = TopicArtifact.assign(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(p.exists(), "first read must materialize the artifact")
    // every doc with at least one token carries exactly one label
    val tokenBearing = TopicArtifact.tf(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(assign.keySet == tokenBearing)
    // topic ids are doc ids of members (label-by-representative: the
    // seed doc of a stratum labels its cluster)
    val topics = assign.values.toSet
    assert(topics.subsetOf(tokenBearing))
  }

  test("topic centroids: pos-ranked by (count desc, term), bounded to 256") {
    val cent = TopicArtifact.centroids(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    cent.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 256)
      val byPos = rows.sortBy(_._2)
      assert(byPos.map(_._2).toSeq == byPos.indices.toSeq, "dense pos")
      // (c desc, term asc) ordering encoded by pos
      val key = byPos.map(r => (-r._4, r._3)).toSeq
      assert(key == key.sorted, "centroid order must be (c desc, term)")
    }
  }
}
