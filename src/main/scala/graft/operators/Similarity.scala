package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline; IVF centroid
  * partitioning (Lloyd-refined, multi-probe) as the recall/latency
  * scale path; signed-random-projection LSH for near-duplicate
  * pairing; int8 scalar quantization and product quantization as the
  * memory scale paths, each with an oracled quality gauge.
  *
  * Scale design: brute-force is O(queries × corpus) — fine for small
  * query sets because the corpus side stays partitioned and the tiny
  * query side broadcasts. The IVF path cuts the searched corpus to one
  * cell per query (centroid assignment is a broadcast join against C
  * centroids; cells are co-partitioned by `repartition(cell)` for
  * repeated probes). All arithmetic is promoted to double with a fixed
  * evaluation order so results are reproducible across engines.
  */
object Similarity {

  /** Sequential-order dot product of two float arrays, in double —
    * the fused native expression ([[graft.functions.FloatDotProduct]],
    * whole-stage-codegen'd tight loop). Accumulation order matches the
    * `aggregate(zip_with(...))` built-in formulation bit-for-bit. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.floatDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity rounded to 6 dp (ranking happens on the rounded
    * value so cross-engine ties resolve identically). */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (norm(a) * norm(b)), 6)

  /** Pair cosine from precomputed norms — norms are O(corpus), pair
    * dots are O(pairs); never recompute norms inside the pair join. */
  private def pairCos(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  /** Bounded top-k per query over a `(qid, vec_id, <valName>)` score
    * table via [[graft.functions.TopKLongAgg]] — the shared shape for
    * every ANN result cut. The row_number-window formulation shuffles
    * and sorts the whole score table; the aggregate reduces each map
    * task to a k-entry heap per query first, so the exchange carries
    * ≤ k·queries·tasks rows at any corpus width. `valName` must be a
    * 6-dp-rounded cosine: micro-quantization is lossless in both
    * directions (score/1e6 is the nearest double to the same decimal),
    * and the zero-padded vec_id makes string tie order = numeric. */
  private def topKByRoundedCos(scored: DataFrame, k: Int, valName: String,
      rankName: String): DataFrame =
    topKByRoundedCosUnsorted(scored, k, valName, rankName)
      .orderBy(col("qid"), col(rankName))

  /** [[topKByRoundedCos]] without the final global sort — for
    * intermediate results inside iterative builds (NN-descent rounds,
    * artifact writes), where a range-partitioned sort per round is
    * pure stage-latency waste; consumers that need presentation order
    * sort once at the end. */
  private def topKByRoundedCosUnsorted(scored: DataFrame, k: Int,
      valName: String, rankName: String): DataFrame =
    scored
      .select(col("qid"),
        floor(col(valName) * 1e6 + 0.5).cast("long").as("score"),
        lpad(col("vec_id").cast("string"), 12, "0").as("item"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKLongAgg(col("score"), col("item"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.item").cast("long").as("vec_id"),
        round(col("col.score").cast("double") / 1e6, 6).as(valName),
        (col("pos") + 1).cast("int").as(rankName))

  /** Bottom-k twin for exact-integer distances (PQ asymmetric
    * distance): negate into the max-heap aggregate, negate back out. */
  private def bottomKByLong(scored: DataFrame, k: Int, valName: String,
      rankName: String): DataFrame =
    scored
      .select(col("qid"), (-col(valName)).cast("long").as("score"),
        lpad(col("vec_id").cast("string"), 12, "0").as("item"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKLongAgg(col("score"), col("item"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), col("col.item").cast("long").as("vec_id"),
        (-col("col.score")).as(valName),
        (col("pos") + 1).cast("int").as(rankName))
      .orderBy(col("qid"), col(rankName))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors by (cosine desc, vec_id asc). The query side is
    * tiny — broadcast it so the corpus never shuffles. */
  def knnBruteForce(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val queries = broadcast(
      embeddings.filter(col("vec_id") < queryMaxId)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          norm(col("embedding")).as("qnrm")))
    val corpus = Partitioning.spreadBy(
      embeddings.filter(col("vec_id") >= queryMaxId), "vec_id")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val scored = corpus.crossJoin(queries)
      .select(col("qid"), col("vec_id"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm")).as("cos"))
    topKByRoundedCos(scored, k, "cos", "rank")
  }

  /** Corpus prepared for IVF work: spread across the cluster with the
    * norm computed once. */
  private def prepared(embeddings: DataFrame): DataFrame =
    Partitioning.spreadBy(embeddings, "vec_id")
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))

  /** Initial IVF centroids: the first C corpus vectors — deterministic
    * seeding (k-means++ would randomize; determinism is what makes the
    * cross-engine oracle possible). Cell id = seeding vector's id. */
  private def initialCentroids(corpus: DataFrame, numCentroids: Int): DataFrame =
    corpus.filter(col("vec_id") < numCentroids)
      .select(col("vec_id").as("cell"), col("embedding").as("cvec"),
        col("nrm").as("cnrm"))

  /** Nearest-centroid assignment fully IN-ROW: each vector scores the
    * broadcast centroid array and keeps the `min(struct(1 - cos,
    * cell))` argmin inside one projection (lexicographic struct order
    * = highest cosine, ties to the lower cell id; `1 - cos ≥ 0`
    * avoids the −0.0 ordering pitfall). No corpus × centroids row
    * explosion, no aggregate, no shuffle — assignment is a pure scan
    * at any corpus size. (Earlier formulations: a per-vector
    * row_number window needs a full n×C sort; the broadcast-join +
    * min(struct) aggregate still shuffled n groups.) Returns
    * `(vec_id, cell)`. */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame =
    corpus.crossJoin(centroidArray(centroids))
      .select(col("vec_id"),
        argminCell(col("embedding"), col("nrm")).as("cell"))

  /** One-row broadcast of the centroid table as a cell-sorted array —
    * the shape the in-row [[argminCell]] assignment scores against
    * (no corpus × centroids row explosion, no assignment shuffle). */
  private def centroidArray(cents: DataFrame): DataFrame =
    broadcast(cents.groupBy()
      .agg(array_sort(
        collect_list(struct(col("cell"), col("cvec"), col("cnrm"))))
        .as("cents")))

  /** In-row nearest-centroid cell (cosine distance, ties to the lower
    * cell id): array_min over (d, cell) structs replays
    * min(struct(d, cell)) exactly — same pairCos doubles, total order
    * because cell is unique. coalesce: never null (the centroid set
    * is never empty), stated so Catalyst can't infer isnotnull(cell)
    * into a downstream join condition and re-evaluate the argmin. */
  private def argminCell(embedding: Column, nrm: Column): Column =
    coalesce(
      array_min(transform(col("cents"), c =>
        struct(
          (lit(1.0) - pairCos(embedding, c.getField("cvec"),
            nrm, c.getField("cnrm"))).as("d"),
          c.getField("cell").as("cell"))))
        .getField("cell"),
      lit(-1L))

  /** The full IVF index build: (centroids, inverted list). Centroids
    * are Lloyd-refined for `iterations` rounds; the inverted list is
    * every vector's final-centroid assignment joined back to the
    * (persisted) corpus for the vector and its norm — exactly what an
    * offline ANN index-build job materializes for the online search
    * path to consume. Assignment is the in-row [[argminCell]], so the
    * vector and its norm ride the same projection — the build is one
    * corpus scan with zero assignment shuffles. */
  def ivfIndex(embeddings: DataFrame, numCentroids: Int,
               iterations: Int): (DataFrame, DataFrame) = {
    val corpus = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = centroidsFromCorpus(corpus, numCentroids, iterations)
    // in-row assignment carries the vector straight through — no
    // assignment aggregate AND no join-back to the corpus
    (cents, corpus.crossJoin(centroidArray(cents))
      .select(col("vec_id"),
        argminCell(col("embedding"), col("nrm")).as("cell"),
        col("embedding"), col("nrm")))
  }

  /** IVF search over a prebuilt index (see [[ivfIndex]] /
    * [[IvfArtifact]]): identical semantics to [[ivfSearch]] but the
    * centroid table and inverted list come in as inputs — the online
    * search path never touches the raw corpus or re-runs Lloyd. */
  def ivfSearchIndexed(centroids: DataFrame, inverted: DataFrame,
                       qMinId: Long, qMaxId: Long, k: Int,
                       probes: Int): DataFrame = {
    val queries = inverted
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val wp = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("cell"), col("qvec"), col("qnrm"),
        pairCos(col("qvec"), col("cvec"), col("qnrm"), col("cnrm")).as("pcos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("cell"), col("qvec"), col("qnrm"))
    val candidates = inverted
      .filter(col("vec_id") < qMinId || col("vec_id") >= qMaxId)
    val scored = candidates.join(broadcast(probed), "cell")
      .select(col("qid"), col("vec_id"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm")).as("cos"))
    topKByRoundedCos(scored, k, "cos", "rnk")
  }

  /** Lloyd (k-means) centroid refinement, engine-portably deterministic:
    * each iteration reassigns all vectors to their nearest centroid,
    * then replaces every centroid with its cell's mean vector. The mean
    * is computed over components quantized to integer millionths
    * (`floor(v·10⁶ + 0.5)` — exact BIGINT sums are order-independent,
    * unlike float sums), divided once in double, and cast to float, so
    * Spark and the DuckDB oracle derive bit-identical centroids.
    *
    * Scale shape per iteration: assignment is the broadcast-join
    * aggregate of [[assignCells]]; the mean is a `posexplode` (n×dim
    * rows) into a (cell, pos) hash aggregate — map-side combinable,
    * one shuffle of C×dim partial sums. Empty cells drop out.
    *
    * Runs over an already-prepared (and ideally persisted) corpus, so
    * callers that also consume the corpus share one cached copy
    * instead of re-reading and re-norming it. */
  private def lloydFromCorpus(corpus: DataFrame, numCentroids: Int,
                              iterations: Int): DataFrame = {
    var cents = initialCentroids(corpus, numCentroids)
    for (_ <- 0 until iterations) {
      // in-row assignment ([[centroidArray]]/[[argminCell]]): each
      // vector picks its cell inside one projection — no corpus ×
      // centroids explosion, no assignment shuffle per iteration.
      val members = corpus.crossJoin(centroidArray(cents))
        .select(col("vec_id"), col("embedding"),
          argminCell(col("embedding"), col("nrm")).as("cell"))
      val quantized = members
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .select(col("cell"), col("pos"),
          floor(col("v").cast("double") * lit(1000000d) + lit(0.5)).as("qv"))
      cents = quantized
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("qv")) / (lit(1000000d) * count(lit(1)))).cast("float").as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cvec"))
        .select(col("cell"), col("cvec"), norm(col("cvec")).as("cnrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    cents
  }

  private def centroidsFromCorpus(corpus: DataFrame, numCentroids: Int,
                                  iterations: Int): DataFrame =
    if (iterations > 0) lloydFromCorpus(corpus, numCentroids, iterations)
    else initialCentroids(corpus, numCentroids)

  /** IVF-style cell assignment: every vector lands in the cell of its
    * nearest centroid (cosine, ties to the lower cell id). Returns
    * `(vec_id, cell)`. */
  def ivfAssign(embeddings: DataFrame, numCentroids: Int,
                iterations: Int = 0): DataFrame = {
    val corpus =
      if (iterations > 0) prepared(embeddings)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else prepared(embeddings)
    assignCells(corpus, centroidsFromCorpus(corpus, numCentroids, iterations))
  }

  /** Cell occupancy of the IVF partitioning (the index-build step). */
  def ivfCells(embeddings: DataFrame, numCentroids: Int,
               iterations: Int = 0): DataFrame =
    ivfAssign(embeddings, numCentroids, iterations)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell"))

  /** Incremental IVF maintenance — the centroid-index sibling of
    * [[nnDescentAppend]]: the last `batchSize` vectors arrive as an
    * append batch against an index whose centroids were Lloyd-trained
    * on the BASE corpus only and are FROZEN (re-training on every
    * ingest batch is exactly what a production vector index avoids —
    * it would invalidate all stored assignments). Batch vectors take
    * the same in-row nearest-centroid assignment the base took
    * ([[assignCells]]: broadcast centroid array, no shuffle), and the
    * output is the per-cell maintenance manifest: base/new/total
    * occupancy, the batch's share of each cell in exact ppm, and the
    * `needs_split` rebalance flag (cell > 2× the mean post-append
    * load — the trigger a cell-splitting compactor runs on).
    *
    * Scale shape: centroid training is the existing bounded Lloyd
    * loop on the base; both assignments are pure scans; everything
    * downstream is O(cells). The append path adds ZERO shuffles over
    * the batch beyond its one occupancy aggregate. */
  def ivfAppend(embeddings: DataFrame, numCentroids: Int,
                iterations: Int, batchSize: Int): DataFrame = {
    val (cents, m, nAll) =
      ivfAppendBaseCentroids(embeddings, numCentroids, iterations, batchSize)
    ivfAppendWith(embeddings, cents, m, nAll, numCentroids)
  }

  /** The TRAINING half of [[ivfAppend]]: the frozen base-corpus Lloyd
    * centroids plus the batch boundary and corpus size — the part a
    * production index stores ([[IvfBaseArtifact]] materializes it;
    * re-training per ingest batch would invalidate every stored
    * assignment, which is exactly why the append contract freezes
    * these). */
  def ivfAppendBaseCentroids(embeddings: DataFrame, numCentroids: Int,
      iterations: Int, batchSize: Int): (DataFrame, Long, Long) = {
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    // split boundary + corpus size: one scalar aggregate, the
    // established append-batch convention of the incremental family
    val head = emb.agg(max(col("vec_id")).as("mx"),
      count(lit(1)).as("n")).head()
    val m = head.getLong(0) - (batchSize - 1)
    val nAll = head.getLong(1)
    val base = prepared(emb.filter(col("vec_id") < m))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (lloydFromCorpus(base, numCentroids, iterations), m, nAll)
  }

  /** The SERVING half of [[ivfAppend]]: both assignments + the
    * occupancy manifest against caller-provided (typically stored —
    * [[IvfBaseArtifact]]) frozen base centroids; no Lloyd pass. */
  def ivfAppendWith(embeddings: DataFrame, cents: DataFrame, m: Long,
      nAll: Long, numCentroids: Int): DataFrame = {
    val emb = embeddings.select(col("vec_id"), col("embedding"))
    val base = prepared(emb.filter(col("vec_id") < m))
    val batch = prepared(emb.filter(col("vec_id") >= m))
    val nBase = assignCells(base, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_base"))
    val nNew = assignCells(batch, cents)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_new"))
    val occ = cents.select(col("cell"))
      .join(nBase, Seq("cell"), "left")
      .join(nNew, Seq("cell"), "left")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("n_total", col("n_base") + col("n_new"))
    occ
      .withColumn("new_share_ppm",
        when(col("n_total") > 0,
          expr("n_new * 1000000 div n_total")).otherwise(lit(0L)))
      .withColumn("needs_split",
        col("n_total") * numCentroids > lit(2L * nAll))
      .select(col("cell"), col("n_base"), col("n_new"), col("n_total"),
        col("new_share_ppm"), col("needs_split"))
      .orderBy(col("cell"))
  }

  /** IVF search: query vectors look only inside their `probes` nearest
    * cells — the join on `cell` is what makes ANN sub-linear; the
    * searched fraction is ~probes/C of the corpus instead of all of it.
    * Multi-probe (probes > 1) recovers most of the recall single-probe
    * loses at cell boundaries while staying sub-linear; with the same
    * centroids its candidate set is a superset of single-probe's, so
    * recall is monotone in `probes`. Queries are vectors with
    * `qMinId <= vec_id < qMaxId`; candidates are all other vectors in
    * probed cells; `iterations` Lloyd-refines the cells first. */
  def ivfSearch(embeddings: DataFrame, numCentroids: Int,
                qMinId: Long, qMaxId: Long, k: Int,
                probes: Int = 1, iterations: Int = 0): DataFrame = {
    val corpus = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cents = centroidsFromCorpus(corpus, numCentroids, iterations)
    val queries = corpus
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    // top-`probes` cells per query (the query side is tiny: a window
    // over qid here never touches the corpus)
    val wp = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cell"))
    val probed = queries.crossJoin(broadcast(cents))
      .select(col("qid"), col("cell"), col("qvec"), col("qnrm"),
        pairCos(col("qvec"), col("cvec"), col("qnrm"), col("cnrm")).as("pcos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("cell"), col("qvec"), col("qnrm"))
    val candidates = assignCells(corpus, cents).join(corpus, "vec_id")
      .filter(col("vec_id") < qMinId || col("vec_id") >= qMaxId)
    val scored = candidates.join(broadcast(probed), "cell")
      .select(col("qid"), col("vec_id"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm")).as("cos"))
    topKByRoundedCos(scored, k, "cos", "rnk")
  }

  /** Label-blocked near-duplicate pairs: only same-label pairs are
    * compared (the blocking key stands in for an LSH bucket at scale),
    * keeping the pair count linear in block sizes instead of n². */
  def blockedNearDupPairs(embeddings: DataFrame, minCos: Double): DataFrame = {
    val e = Partitioning.spreadBy(embeddings, "vec_id").select(col("vec_id"),
      col("label"), col("embedding"), norm(col("embedding")).as("nrm"))
    e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        col("a.label").as("label"),
        pairCos(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy(col("va"), col("vb"))
  }

  /** Semantic near-duplicate pairs, IVF-cell-blocked (SemDeDup shape):
    * vectors are first assigned to their nearest-centroid cell, then
    * only same-cell pairs are cosine-compared. Unlike
    * [[blockedNearDupPairs]] the blocking key is LEARNED from the
    * embedding geometry (no label column needed), which is exactly how
    * semantic dedup runs over an unlabeled training corpus: cluster
    * once, compare within clusters — pair count is Σ|cell|²/2 instead
    * of n²/2, and each cell's pairs co-locate under one join key.
    * `keep` marks the pair's lower vec_id as the retained exemplar. */
  def cellBlockedNearDupPairs(embeddings: DataFrame, numCentroids: Int,
                              minCos: Double): DataFrame = {
    val e = Partitioning.spreadBy(embeddings, "vec_id").select(col("vec_id"),
      col("embedding"), norm(col("embedding")).as("nrm"))
    val cells = ivfAssign(embeddings, numCentroids)
    // persist before the self-join: without it each join side re-runs
    // the centroid-assignment subtree (broadcast score + per-vector
    // argmin) — at corpus scale that doubles the dominant stage.
    val withCell = e.join(cells, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    withCell.as("a").join(withCell.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.cell").as("cell"),
        col("a.vec_id").as("va"), col("b.vec_id").as("vb"),
        pairCos(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= minCos)
      .withColumn("keep", col("va"))
      .orderBy(col("va"), col("vb"))
  }

  /** Rademacher sign (+1/-1) for hyperplane `p`, dimension `d`: parity
    * of the first hex char of md5("p:d"). md5 is the engine-portable
    * randomness used across the dedup family — the DuckDB oracle
    * regenerates the identical hyperplanes in SQL, so the LSH buckets
    * (not just the verified pairs) are cross-checked. */
  private def srpSign(p: Int, d: Int): Long = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes("UTF-8"))
    val firstHexChar = f"${digest(0) & 0xff}%02x".charAt(0)
    if (firstHexChar.toInt % 2 == 0) 1L else -1L
  }

  /** One signature bit per hyperplane: sign of the projection onto a
    * Rademacher vector. The projection is computed in fixed-point
    * (floor(v·1e6+0.5) per component, summed as BIGINT) so the >=0
    * boundary cannot flip with engine summation order — float sums are
    * order-sensitive exactly where a sign test is most fragile. */
  private def srpBits(emb: Column, planes: Int, dim: Int): Seq[Column] =
    (0 until planes).map { p =>
      val signs = typedLit(Array.tabulate(dim)(d => srpSign(p, d)))
      val proj = aggregate(
        zip_with(emb, signs, (v, s) =>
          floor(v.cast("double") * lit(1000000d) + lit(0.5)).cast("long") * s),
        lit(0L), (acc, x) => acc + x)
      when(proj >= 0, 1L).otherwise(0L)
    }

  /** Signed-random-projection LSH near-duplicate pairs — the honest
    * cosine-LSH replacement for label blocking: `planes` hyperplane
    * bits banded into `planes/bandBits` buckets; two vectors are
    * candidates iff they collide in at least one band (P[bit match] =
    * 1 - angle/pi, so near-dup pairs collide with high probability
    * while random pairs survive a b-bit band only ~2^-b of the time).
    * Candidates are deduplicated BEFORE scoring so the exact-cosine
    * verification runs once per pair, not once per shared band. At
    * corpus scale everything stays linear: signatures are a map-only
    * pass, the band join is a 2^bandBits × bands-way bucket join, and
    * verification cost follows the candidate count. */
  def srpNearDupPairs(embeddings: DataFrame, minCos: Double,
                      planes: Int = 64, bandBits: Int = 8,
                      dim: Int = 64): DataFrame = {
    require(planes % bandBits == 0, "planes must be a multiple of bandBits")
    val nBands = planes / bandBits
    val e = Partitioning.spreadBy(embeddings, "vec_id")
    val bits = srpBits(col("embedding"), planes, dim)
    val bandCols = (0 until nBands).map { b =>
      val bval = (0 until bandBits)
        .map(j => bits(b * bandBits + j) * lit(1L << j))
        .reduce(_ + _)
      struct(lit(b).as("band"), bval.as("bval"))
    }
    val banded = e
      .select(col("vec_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bval").as("bval"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val candidates = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bval") === col("y.bval") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("va"), col("y.vec_id").as("vb"))
      .distinct()
    val corpus = e.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    candidates
      .join(corpus.select(col("vec_id").as("va"), col("embedding").as("ea"),
        col("nrm").as("na")), "va")
      .join(corpus.select(col("vec_id").as("vb"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vb")
      .select(col("va"), col("vb"),
        pairCos(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .filter(col("cos") >= minCos)
      .orderBy(col("va"), col("vb"))
  }

  /** Symmetric int8 scalar quantization of a float embedding: scale by
    * 127/max|v| and round half-up, clamped to [-127, 127]. Zero vectors
    * quantize to zero. 4× smaller than float32 — the memory lever that
    * decides whether a 100 TB corpus's vectors fit executor RAM — while
    * every step (floor half-up, integer clamp) is exact and
    * engine-portable. */
  def quantizeInt8(emb: Column): Column = {
    val amax = array_max(transform(emb, v => abs(v.cast("double"))))
    // zip against a repeated-amax array instead of referencing amax
    // inside the lambda: outer expressions in HOF lambdas re-evaluate
    // per element (see TextAnalysis.shingles), and amax is itself an
    // O(dim) reduction.
    zip_with(emb, array_repeat(amax, size(emb)), (v, a) =>
      when(a === lit(0d), lit(0L)).otherwise(
        greatest(lit(-127L), least(lit(127L),
          floor(v.cast("double") * lit(127.0) / a + lit(0.5)).cast("long")))))
  }

  /** Dot product of two quantized (BIGINT-component) vectors, exact:
    * each product is <= 127² and the 64-term sum stays far inside the
    * double-exact integer range. */
  private def intDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x * y).cast("double")),
      lit(0d), (acc, x) => acc + x)

  /** Top-k by QUANTIZED cosine for query vectors (vec_id < queryMaxId)
    * over the rest of the corpus — the approximate counterpart of
    * [[knnBruteForce]], same broadcast-query / partitioned-corpus plan,
    * but scoring 8-bit integer dots instead of float dots. */
  def knnQuantized(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val quantized = Partitioning.spreadBy(embeddings, "vec_id")
      .select(col("vec_id"), quantizeInt8(col("embedding")).as("q"))
      .select(col("vec_id"), col("q"), sqrt(intDot(col("q"), col("q"))).as("qnrm"))
    val queries = broadcast(quantized.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("qid"), col("q").as("qq"), col("qnrm").as("qn")))
    val corpus = quantized.filter(col("vec_id") >= queryMaxId)
    val scored = corpus.crossJoin(queries)
      .select(col("qid"), col("vec_id"),
        round(intDot(col("qq"), col("q")) / (col("qn") * col("qnrm")), 6).as("qcos"))
    topKByRoundedCos(scored, k, "qcos", "rank")
  }

  // ---------------------------------------------------------------
  // Product quantization (PQ): split each vector into NumSub
  // subvectors, quantize each against a per-subspace codebook, and
  // search with asymmetric distance (exact query subvector vs corpus
  // codewords). The corpus index shrinks to NumSub bytes per vector —
  // two orders of magnitude below float32 — which is what makes a
  // 100 TB corpus's ANN index RAM-resident; the ADC lookup table per
  // query is NumSub × NumCodes entries, broadcastable by construction.
  // Codebooks seed deterministically (subvectors of the first NumCodes
  // corpus vectors) so the DuckDB oracle replays the whole pipeline.
  // ---------------------------------------------------------------

  val PqNumSub = 8
  val PqSubDim = 8
  val PqNumCodes = 16

  /** Squared L2 distance in double, fixed sequential order — the
    * native codegen'd [[graft.functions.FloatL2Sq]] (bit-identical to
    * the `aggregate(zip_with(...))` formulation it replaced; the
    * differential property in `SrpQuantSpec` pins that). */
  private def l2sq(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.floatL2Sq(a, b)

  /** The built-in-only twin of [[l2sq]], kept as the differential-test
    * reference for the native expression. */
  private[operators] def l2sqHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0d), (acc, x) => acc + x)

  private def subVectors(vecCol: Column): Column =
    explode(array((0 until PqNumSub).map(s =>
      struct(lit(s).as("sub"),
        slice(vecCol, s * PqSubDim + 1, PqSubDim).as("svec"))): _*))

  /** Per-subspace SEED codebook: codeword `cidx` of subspace `sub` is
    * the sub-vector of corpus vector `cidx` (deterministic seeding —
    * the cross-engine contract). [[pqCodebookRefined]] Lloyd-refines
    * these per subspace; this unrefined form remains as the seed and
    * as the cheaper variant when index-build cost dominates. */
  def pqCodebook(embeddings: DataFrame): DataFrame =
    embeddings.filter(col("vec_id") < PqNumCodes)
      .select(col("vec_id").cast("int").as("cidx"), subVectors(col("embedding")).as("e"))
      .select(col("e.sub").as("sub"), col("cidx"), col("e.svec").as("cvec"))

  /** Per-subspace Lloyd refinement of the PQ codebooks — k-means in
    * each 8-dim subspace, exactly the determinism contract of
    * [[lloydFromCorpus]]: each iteration reassigns every subvector to
    * its nearest codeword (L2 in fixed-order double, ties to the lower
    * codeword index), then replaces each codeword with its members'
    * mean over integer-millionth-quantized components, cast to float —
    * so the DuckDB oracle replays bit-identical codebooks. Empty
    * codewords drop out (as in the IVF loop).
    *
    * Scale shape per iteration: assignment is one broadcast join (the
    * codebook is NumSub×NumCodes rows by construction) + one hash
    * aggregate; means are a posexplode into a (sub, cidx, pos) hash
    * aggregate — map-side combinable, one shuffle of
    * NumSub×NumCodes×SubDim partial sums. */
  def pqCodebookRefined(embeddings: DataFrame, iterations: Int): DataFrame = {
    val subs = Partitioning.spreadBy(embeddings, "vec_id")
      .select(col("vec_id"), subVectors(col("embedding")).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.svec").as("svec"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cb = pqCodebook(embeddings)
    for (_ <- 0 until iterations) {
      // in-row argmin against the broadcast codeword array
      // ([[codesArray]]/[[argminCode]]): assignment needs NO aggregate
      // at all — each (vec_id, sub, svec) row picks its codeword in
      // one projection, removing a shuffle per Lloyd iteration.
      val members = subs.join(codesArray(cb), "sub")
        .select(col("vec_id"), col("sub"), col("svec"),
          argminCode(col("svec")).as("cidx"))
      cb = members
        .select(col("sub"), col("cidx"), posexplode(col("svec")).as(Seq("pos", "v")))
        .select(col("sub"), col("cidx"), col("pos"),
          floor(col("v").cast("double") * lit(1000000d) + lit(0.5)).as("qv"))
        .groupBy(col("sub"), col("cidx"), col("pos"))
        .agg((sum(col("qv")) / (lit(1000000d) * count(lit(1)))).cast("float").as("m"))
        .groupBy(col("sub"), col("cidx"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("cvec"))
    }
    // Intermediate codebooks form a LINEAR chain (each referenced once
    // by the next iteration) — no persist needed; callers persist the
    // returned codebook. subs stays persisted: every iteration's plan
    // replays through it when the final codebook first materializes.
    cb
  }

  /** Encode the corpus: nearest codeword per (vector, subspace), ties
    * to the lower codeword index — NumSub small integers per vector. */
  def pqEncode(corpus: DataFrame, cb: DataFrame): DataFrame =
    corpus.select(col("vec_id"), subVectors(col("embedding")).as("e"))
      .select(col("vec_id"), col("e.sub").as("sub"), col("e.svec").as("svec"))
      .join(codesArray(cb), "sub")
      .select(col("vec_id"), col("sub"), argminCode(col("svec")).as("code"))

  /** Broadcast per-sub codeword ARRAY (sorted by cidx) — the shape the
    * in-row [[argminCode]] scores against: one broadcast row per
    * subspace instead of NumCodes join rows, so encoding is
    * scan-shaped (no corpus × codes row explosion, no encode
    * shuffle). */
  private def codesArray(cb: DataFrame): DataFrame =
    broadcast(cb.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cidx"), col("cvec"))))
        .as("codes")))

  /** In-row nearest-codeword index against the `codes` array:
    * array_min over (d, cidx) structs replays min(struct(d, cidx))
    * exactly (the order is total — cidx is unique), with the same
    * FloatL2Sq doubles, so swapping formulations cannot move a tie.
    * coalesce: the argmin is never null (codes is never empty), and
    * stating so stops Catalyst inferring isnotnull(code) for a
    * downstream join key and re-evaluating the whole argmin inside
    * the join condition (observed in the executed plan). */
  private def argminCode(svec: Column): Column =
    coalesce(
      array_min(transform(col("codes"), c =>
        struct(l2sq(svec, c.getField("cvec")).as("d"),
          c.getField("cidx").as("cidx"))))
        .getField("cidx"),
      lit(-1))

  /** ADC top-k: per query, a NumSub×NumCodes lookup table of FIXED-POINT
    * subspace distances (BIGINT nano-units — integer sums are
    * order-independent, so ranking can't drift with partitioning), then
    * one broadcast join against the encoded corpus and a sum per
    * (query, vector). */
  def pqSearch(embeddings: DataFrame, queryMaxId: Long, corpusMinId: Long,
               k: Int, iterations: Int = 0): DataFrame = {
    val cb = (if (iterations > 0) pqCodebookRefined(embeddings, iterations)
              else pqCodebook(embeddings))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pqSearchWith(embeddings, cb, queryMaxId, corpusMinId, k)
  }

  /** [[pqSearch]] against a caller-provided (typically stored —
    * [[PqCodebookArtifact]]) codebook: encode + LUT + ADC top-k, no
    * training pass. The codebook frame is assumed cheap to re-scan
    * (a NumSub×NumCodes parquet read), so nothing here persists. */
  def pqSearchWith(embeddings: DataFrame, cb: DataFrame, queryMaxId: Long,
                   corpusMinId: Long, k: Int): DataFrame = {
    val enc = pqEncode(Partitioning.spreadBy(
      embeddings.filter(col("vec_id") >= corpusMinId), "vec_id"), cb)
    val lut = embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("qid"), subVectors(col("embedding")).as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.svec").as("qvec"))
      .join(cb, "sub")
      .select(col("qid"), col("sub"), col("cidx"),
        floor(l2sq(col("qvec"), col("cvec")) * lit(1e9) + lit(0.5))
          .cast("long").as("d_int"))
    val scored = enc
      .join(broadcast(lut),
        enc("sub") === lut("sub") && enc("code") === lut("cidx"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d_int")).as("adc"))
    bottomKByLong(scored, k, "adc", "rnk")
  }

  /** IVF-PQ search — the production ANN composition (a FAISS-style
    * IVFPQ): the coarse quantizer (prebuilt IVF centroids + inverted
    * list, see [[IvfArtifact]]) restricts each query to its `probes`
    * nearest cells, and ONLY those cells' members are scored, by PQ
    * asymmetric distance against the seed codebook. Cost per query is
    * (probes/C)·n LUT lookups on NumSub-byte codes instead of n full
    * float dot products — the two sub-linearities (candidate pruning ×
    * compressed scoring) multiply.
    *
    * Scale shape: codes are computed WITH the cell id carried through
    * the encode aggregate (production stores codes in the inverted
    * list — no corpus re-join), the probe table and the
    * queries×NumSub×NumCodes LUT broadcast, and the only corpus-wide
    * exchanges are the encode argmin and the per-(query, vector) ADC
    * sum — both map-side combinable with integer values. */
  def ivfPqSearch(centroids: DataFrame, inverted: DataFrame,
                  qMinId: Long, qMaxId: Long, k: Int,
                  probes: Int): DataFrame = {
    val cb = broadcast(pqCodebook(
      inverted.select(col("vec_id"), col("embedding"))))
    val queries = inverted
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val wp = Window.partitionBy(col("qid")).orderBy(col("pcos").desc, col("cell"))
    val probed = broadcast(queries.crossJoin(broadcast(centroids))
      .select(col("qid"), col("cell"),
        pairCos(col("qvec"), col("cvec"), col("qnrm"), col("cnrm")).as("pcos"))
      .withColumn("rn", row_number().over(wp))
      .filter(col("rn") <= probes)
      .select(col("qid"), col("cell")))
    // In-row argmin against the broadcast per-sub codeword ARRAY
    // ([[codesArray]]/[[argminCode]]): no corpus × codes row
    // explosion, no encode shuffle — each (vector, sub) row scores
    // its 16 codewords inside one projection and keeps the
    // (d, cidx)-least code. (An unrolled least() chain was measured
    // no faster — with 8 stages the cost floor here is stage latency,
    // not the per-row argmin.)
    val encWithCell = inverted
      .filter(col("vec_id") < qMinId || col("vec_id") >= qMaxId)
      .select(col("vec_id"), col("cell"), subVectors(col("embedding")).as("e"))
      .select(col("vec_id"), col("cell"), col("e.sub").as("sub"),
        col("e.svec").as("svec"))
      .join(codesArray(cb), "sub")
      .select(col("vec_id"), col("cell"), col("sub"),
        argminCode(col("svec")).as("code"))
    val lut = broadcast(queries
      .select(col("qid"), subVectors(col("qvec")).as("e"))
      .select(col("qid"), col("e.sub").as("sub"), col("e.svec").as("qsvec"))
      .join(cb, "sub")
      .select(col("qid"), col("sub"), col("cidx"),
        floor(l2sq(col("qsvec"), col("cvec")) * lit(1e9) + lit(0.5))
          .cast("long").as("d_int")))
    val scored = encWithCell.join(probed, "cell")
      .join(lut.withColumnRenamed("cidx", "code"), Seq("qid", "sub", "code"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("d_int")).as("adc"))
    bottomKByLong(scored, k, "adc", "rnk")
  }

  /** Recall@k of int8-quantized search vs the exact float baseline,
    * per query: |exact top-k ∩ quantized top-k| / k. The quality gauge
    * that justifies (or vetoes) shipping the 4× memory saving. */
  def quantizedRecall(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val exact = knnBruteForce(embeddings, queryMaxId, k)
      .select(col("qid"), col("vec_id"))
    val approx = knnQuantized(embeddings, queryMaxId, k)
      .select(col("qid"), col("vec_id"))
    val overlap = exact.join(approx, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    approx.select(col("qid")).distinct()
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall", round(col("n_overlap").cast("double") / k, 6))
      .orderBy(col("qid"))
  }

  /** Recall@k of MATRYOSHKA-truncated search (first `subDim`
    * components only) against the full-dimension exact baseline, per
    * query — the gauge for the "store a prefix of the embedding"
    * memory lever (dim/subDim × smaller index), exactly parallel to
    * [[quantizedRecall]]'s gauge for int8. Truncation is a `slice`,
    * so the corpus-side plan is identical to [[knnBruteForce]]. */
  def matryoshkaRecall(embeddings: DataFrame, queryMaxId: Long, k: Int,
                       subDim: Int): DataFrame = {
    val exact = knnBruteForce(embeddings, queryMaxId, k)
      .select(col("qid"), col("vec_id"))
    val truncated = knnBruteForce(
      embeddings.withColumn("embedding", slice(col("embedding"), 1, subDim)),
      queryMaxId, k)
      .select(col("qid"), col("vec_id"))
    val overlap = exact.join(truncated, Seq("qid", "vec_id"))
      .groupBy(col("qid")).agg(count(lit(1)).as("n_overlap"))
    exact.select(col("qid")).distinct()
      .join(overlap, Seq("qid"), "left")
      .select(col("qid"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("recall", round(col("n_overlap").cast("double") / k, 6))
      .orderBy(col("qid"))
  }

  /** Hard-negative mining for contrastive training pairs: for each
    * query vector, the k nearest corpus vectors with a DIFFERENT
    * label — close in embedding space but semantically distinct, the
    * negatives that actually teach a contrastive model (random
    * negatives are trivially far). Same broadcast-query /
    * partitioned-corpus plan as [[knnBruteForce]] with the
    * label-mismatch predicate fused into the scoring join; production
    * swaps the exact scan for the IVF path, mining within probed
    * cells. */
  def hardNegatives(embeddings: DataFrame, queryMaxId: Long, k: Int): DataFrame = {
    val queries = broadcast(
      embeddings.filter(col("vec_id") < queryMaxId)
        .select(col("vec_id").as("qid"), col("label").as("qlabel"),
          col("embedding").as("qvec"), norm(col("embedding")).as("qnrm")))
    val corpus = Partitioning.spreadBy(
      embeddings.filter(col("vec_id") >= queryMaxId), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val scored = corpus.crossJoin(queries)
      .filter(col("label") =!= col("qlabel"))
      .select(col("qid"), col("vec_id"), col("label"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm")).as("cos"))
    // same bounded-aggregate cut as topKByRoundedCos, with the label
    // packed into the fixed-width tiebreak item (vec_id is unique per
    // qid, so the label suffix never influences the order)
    scored
      .select(col("qid"),
        floor(col("cos") * 1e6 + 0.5).cast("long").as("score"),
        concat(lpad(col("vec_id").cast("string"), 12, "0"),
          lpad(col("label").cast("string"), 6, "0")).as("item"))
      .groupBy(col("qid"))
      .agg(graft.functions.TopKLongAgg(col("score"), col("item"), k).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"),
        substring(col("col.item"), 1, 12).cast("long").as("vec_id"),
        substring(col("col.item"), 13, 6).cast("int").as("label"),
        round(col("col.score").cast("double") / 1e6, 6).as("cos"),
        (col("pos") + 1).cast("int").as("rnk"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Recall@k curve of IVF single-probe search against the exact
    * baseline, for k = 1..maxK in ONE pass over both result sets: the
    * rank tables join once, and each k counts the pairs inside both
    * top-k prefixes — the curve that justifies a probe/centroid
    * configuration (recall@1 can look fine while recall@5 collapses,
    * and vice versa). */
  def ivfRecallCurve(embeddings: DataFrame, numCentroids: Int,
                     qMinId: Long, qMaxId: Long, maxK: Int): DataFrame = {
    val nQueries = qMaxId - qMinId
    // exact baseline over EXACTLY ivfSearch's candidate set (vectors
    // outside the query id range — including the sub-qMinId centroid
    // seeds, which knnBruteForce's query/corpus split would exclude)
    val all = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = broadcast(all
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm")))
    val corpus = all.filter(col("vec_id") < qMinId || col("vec_id") >= qMaxId)
    val exact = topKByRoundedCos(
      corpus.crossJoin(queries)
        .select(col("qid"), col("vec_id"),
          pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm"))
            .as("cos")),
      maxK, "cos", "rex")
      .select(col("qid"), col("vec_id"), col("rex"))
    val approx = ivfSearch(embeddings, numCentroids, qMinId, qMaxId, maxK)
      .select(col("qid"), col("vec_id"), col("rnk").as("rap"))
    val ks = embeddings.sparkSession.range(1, maxK + 1)
      .select(col("id").cast("int").as("k"))
    // left from the k dim: a k whose prefixes never intersect still
    // plots as an explicit zero on the curve
    ks.join(exact.join(approx, Seq("qid", "vec_id")),
        col("rex") <= col("k") && col("rap") <= col("k"), "left")
      .groupBy(col("k"))
      .agg(count(col("qid")).as("n_overlap"))
      .select(col("k"), col("n_overlap"),
        round(col("n_overlap").cast("double") / (col("k") * nQueries), 6)
          .as("recall"))
      .orderBy(col("k"))
  }

  /** Per-label centroid drift against the global corpus centroid:
    * each label's mean vector (components quantized to integer
    * millionths exactly as [[lloydFromCorpus]] — order-independent
    * BIGINT sums, one double division, cast to float) cosine-compared
    * to the all-corpus mean. The mixture-monitoring diagnostic for
    * embedding corpora: a label whose centroid drifts from the global
    * center dominates its region of the space. One posexplode
    * aggregate (n×dim rows, map-side combinable) computes BOTH
    * centroids; everything downstream is label-count sized. */
  def centroidDrift(embeddings: DataFrame): DataFrame = {
    val quantized = Partitioning.spreadBy(embeddings, "vec_id")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * lit(1000000d) + lit(0.5)).as("qv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def meanVec(grouped: DataFrame, keys: Seq[Column]): DataFrame = {
      val byPos = grouped
        .groupBy(keys :+ col("pos"): _*)
        .agg((sum(col("qv")) / (lit(1000000d) * count(lit(1)))).cast("float").as("m"))
      (if (keys.isEmpty) byPos.groupBy() else byPos.groupBy(keys: _*))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          e => e.getField("m")).as("vec"))
    }
    val perLabel = meanVec(quantized, Seq(col("label")))
      .withColumnRenamed("vec", "cvec")
    val global = meanVec(quantized, Seq.empty).withColumnRenamed("vec", "gvec")
    val counts = embeddings.groupBy(col("label")).agg(count(lit(1)).as("n_vectors"))
    perLabel.join(counts, "label")
      .crossJoin(broadcast(global))
      .select(col("label"), col("n_vectors"),
        cosine(col("cvec"), col("gvec")).as("drift_cos"))
      .orderBy(col("label"))
  }

  /** Label-silhouette gauge: per label, the mean of
    * `cos(vec, own-label centroid) − max cos(vec, other-label centroid)`
    * — a cluster-separation score in [−2, 2] (positive = the label's
    * vectors sit closer to their own centroid than to any rival; near
    * zero or negative = the labelling would not survive as an ANN
    * partitioning key). The centroid build is the same exact
    * quantized-sum aggregate as [[centroidDrift]] (micro-unit integer
    * sums, so both engines average identical BIGINTs); scoring is one
    * broadcast cross join against the L-row centroid table (L = label
    * count, tiny), and the per-vector score is rounded to integer
    * nanos before the per-label mean so the aggregation is
    * exact-commutative. One corpus scan for the centroids, one for
    * the scoring — nothing wider than L ever shuffles. */
  def labelSilhouette(embeddings: DataFrame): DataFrame = {
    val quantized = Partitioning.spreadBy(embeddings, "vec_id")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("label"), col("pos"),
        floor(col("v").cast("double") * lit(1000000d) + lit(0.5)).as("qv"))
    val centroids = quantized
      .groupBy(col("label"), col("pos"))
      .agg((sum(col("qv")) / (lit(1000000d) * count(lit(1)))).cast("float").as("m"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        e => e.getField("m")).as("cvec"))
      .withColumnRenamed("label", "clabel")
    val scored = Partitioning.spreadBy(embeddings, "vec_id")
      .crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("label"),
        when(col("label") === col("clabel"), cosine(col("embedding"), col("cvec")))
          .as("own_cos"),
        when(col("label") =!= col("clabel"), cosine(col("embedding"), col("cvec")))
          .as("other_cos"))
    scored.groupBy(col("vec_id"), col("label"))
      .agg(max(col("own_cos")).as("own_cos"), max(col("other_cos")).as("other_cos"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(floor((col("own_cos") - col("other_cos")) * lit(1e9) + lit(0.5))
          .cast("long")).as("sil_nanos"))
      .select(col("label"), col("n_vectors"),
        round(col("sil_nanos").cast("double") / 1e9
          / col("n_vectors").cast("double"), 6).as("mean_silhouette"))
      .orderBy(col("label"))
  }

  /** kNN label-noise audit (confident-learning shape): each vector's
    * k nearest IN-CELL neighbors vote on its label; a vector whose
    * neighborhood majority disagrees (`2·agree < cnt`) is a suspect —
    * the rows a labeled corpus should re-annotate or drop before
    * distillation. Consumes the materialized IVF inverted list, so the
    * candidate set per vector is one cell, never the corpus: pair
    * count is Σ|cell|²  (the SemDeDup blocking bound), co-located
    * under the cell join key, and the top-k cut is the bounded
    * [[graft.functions.TopKLongAgg]] heap — no corpus-wide window.
    * The label join is a narrow (vec_id, label) shuffle join, never a
    * broadcast of a corpus-sized table. Per label the agreement is
    * exact integer milli (`Σagree·1000 div Σcnt`), so the DuckDB
    * oracle replays it bit-for-bit.
    *
    * `knnEdges` is the [[inCellTopK]] edge table (or its materialized
    * [[KnnEdgesArtifact]] form); `labels` is `(vec_id, label)`.
    * Vectors alone in their cell have no neighbors and drop out of
    * `n_vectors` — the audit reports on voted vectors only. */
  /** Directed in-cell k-nearest-neighbor edges `(qid, vec_id, cos,
    * rnk)` over the IVF inverted list — the kNN GRAPH a labeled-corpus
    * audit and semi-supervised propagation both read. Candidates per
    * vector are one cell (Σ|cell|² pairs, co-located under the cell
    * join key), the cut is the bounded [[graft.functions.TopKLongAgg]]
    * heap, and the rank column lets a consumer take any k' ≤ k as a
    * prefix — which is why the materialized artifact
    * ([[KnnEdgesArtifact]]) stores the largest k any consumer needs. */
  def inCellTopK(inverted: DataFrame, k: Int): DataFrame = {
    val inv = Partitioning.spreadBy(inverted, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val scored = inv.as("a").join(inv.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vec_id"),
        pairCos(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("cos"))
    topKByRoundedCos(scored, k, "cos", "rnk")
  }

  /** Deterministic fixed-round NN-DESCENT (Dong, Moses & Li 2011
    * shape) — the graph-based ANN family member (the recall/latency
    * point HNSW-class production vector search ships): iteratively
    * refine a kNN graph by proposing each node's neighbors' neighbors
    * and keeping the best k by exact cosine. Classic NN-descent is
    * randomized; this formulation is engine-portably deterministic —
    * a FIXED round count, rounded-cosine ordering with vec_id
    * tie-break, and a deterministic init — so a DuckDB oracle can
    * unroll the identical rounds.
    *
    * Init = `initEdges` (the materialized in-cell IVF kNN graph,
    * [[graft.operators.KnnEdgesArtifact]]) ∪ a deterministic
    * HASH-SCATTER lattice: node q proposes `(q + ((q mod N)²+1 mod N)·i
    * + i²·104729) mod N` for i = 1..scatterDegree. The scatter matters
    * twice over: the in-cell graph is CLOSED under neighbor
    * propagation (every neighbor of an in-cell neighbor lies in the
    * same cell), so descent from it alone could never discover a
    * cross-cell true neighbor; and a LOCAL lattice (e.g. a vec_id
    * ring) stays lattice-shaped for ~log₂(k) rounds because top-k
    * keeps every candidate until the propagation horizon exceeds k —
    * the scatter plays the role the paper's random init does, with
    * the quadratic term de-correlating the stride per node (mod-N
    * squaring keeps every term inside BIGINT at any corpus size).
    *
    * Each round: B = g ∪ reverse(g) (general-neighbor set), candidate
    * pairs = {(q, w) : q→b, b→w in B} ∪ current edges, exact-cosine
    * score, keep top-k per node via the bounded heap aggregate. Per
    * round the candidate count is ≤ N·(2k)² by construction (|B(v)| ≤
    * 2k) — never all-pairs; the scoring join ships ids, not vectors,
    * until the two corpus hash-joins attach (embedding, nrm). Build
    * the graph at a k ABOVE query-time needs and let consumers read a
    * rank prefix (the [[KnnEdgesArtifact]] convention): the descent's
    * convergence rate rises steeply with graph degree. NnDescentSpec
    * pins recall@5 ≥ the in-cell graph AND ≥ an IVF 2-probe search on
    * the same corpus, plus determinism. */
  def nnDescent(embeddings: DataFrame, initEdges: DataFrame, k: Int,
                rounds: Int, scatterDegree: Int): DataFrame =
    nnDescent(embeddings, initEdges, k, rounds, scatterDegree,
      finalize = _.count(): Unit)

  /** As above with the MATERIALIZING ACTION injected: the descent
    * must run one action before unpersisting its intermediate rounds
    * (their caches feed the final round), and when the caller's very
    * next step is itself an action — the artifact's parquet write —
    * running a separate count() first pays the whole cascade twice at
    * the job level (round 10 measured the extra pass at ~+4 s on the
    * registry's #2 query). Passing the write AS the finalizer keeps
    * the build at exactly one pass, r9's cost, with r10's hygiene. */
  def nnDescent(embeddings: DataFrame, initEdges: DataFrame, k: Int,
                rounds: Int, scatterDegree: Int,
                finalize: DataFrame => Unit): DataFrame = {
    val corpus = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // N is the scatter modulus — one scalar count, not a data collect
    val n = corpus.count()
    val iArr = (1 to scatterDegree).map(_.toLong).toArray
    val scatter = corpus
      .select(col("vec_id").as("qid"), explode(lit(iArr)).as("i"))
      .withColumn("h", pmod(col("qid"), lit(n)))
      .select(col("qid"),
        pmod(col("qid") + pmod(col("h") * col("h") + 1, lit(n)) * col("i")
          + col("i") * col("i") * lit(104729L), lit(n)).as("vec_id"))
      .filter(col("qid") =!= col("vec_id"))
    def score(pairs: DataFrame): DataFrame = pairs
      .join(corpus.select(col("vec_id").as("qid"),
        col("embedding").as("qvec"), col("nrm").as("qnrm")), "qid")
      .join(corpus, "vec_id")
      .select(col("qid"), col("vec_id"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm"))
          .as("cos"))
    val init = initEdges.select(col("qid"), col("vec_id"))
      .unionAll(scatter).distinct()
    // rounds use the UNSORTED top-k (a per-round global sort is pure
    // stage latency) and skip a distinct on B — duplicate candidates
    // are collapsed once by the single cand-level distinct. Cache
    // hygiene WITHOUT extra passes: every round persists, ONE
    // finalizing action (the caller's parquet write, or a count)
    // materializes the whole chain — each round's cache fills as the
    // cascade passes through it — and only then do the intermediate
    // rounds and the corpus unpersist. The returned final round stays
    // cached. Trade-off: peak cache residency is O(rounds) × the k·N
    // edge table for the duration of the single pass (vs O(1) with
    // per-round barriers, which cost one extra full pass in job
    // latency — measured +4-5 s on the registry build); at the
    // current rounds=3 and MEMORY_AND_DISK the residency is the
    // right side of that trade, and a deeper cascade should flip to
    // per-round eager unpersist.
    var g = topKByRoundedCosUnsorted(score(init), k, "cos", "rnk")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val intermediates = Seq.newBuilder[DataFrame]
    for (_ <- 1 to rounds) {
      val e = g.select(col("qid"), col("vec_id"))
      val b = e.unionAll(e.select(col("vec_id").as("qid"),
        col("qid").as("vec_id")))
      val cand = b.as("x").join(b.as("y"),
          col("x.vec_id") === col("y.qid"))
        .select(col("x.qid").as("qid"), col("y.vec_id").as("vec_id"))
        .filter(col("qid") =!= col("vec_id"))
        .unionAll(e)
        .distinct()
      intermediates += g
      g = topKByRoundedCosUnsorted(score(cand), k, "cos", "rnk")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    finalize(g)
    intermediates.result().foreach(_.unpersist())
    corpus.unpersist()
    g
  }

  /** Deterministic BEAM search over a materialized kNN graph — the
    * query path a graph-ANN index (HNSW-class) exists for: start at a
    * fixed entry node, take `hops` fixed expansion rounds (frontier ∪
    * its graph neighbors, scored against the query, keep the best
    * `beam`), and answer with the top-k over everything visited.
    * Classic best-first search terminates data-dependently; the fixed
    * hop count is what makes this engine-portably deterministic and
    * DuckDB-replayable (the oracle unrolls the identical hops).
    *
    * Scale shape: the edge table is the only corpus-proportional
    * input and it arrives PRE-BUILT ([[graft.operators
    * .NndGraphArtifact]]); per query, each hop touches ≤ beam·(2K+1)
    * candidate IDs (the symmetrized degree bound), scored via one
    * broadcast of the tiny query side and one hash join against the
    * corpus for vectors — per-query cost is independent of N, which
    * is the entire point of a graph index. GraphSearchSpec pins
    * recall vs brute force, beam monotonicity, and determinism. */
  def graphBeamSearch(embeddings: DataFrame, edges: DataFrame,
      qMinId: Long, qMaxId: Long, k: Int, beam: Int, hops: Int,
      entry: Long): DataFrame = {
    // Self-matches are excluded hop-by-hop (`node =!= qid` on every
    // candidate cut) but the SEED (qid, entry) is scored as-is; an
    // entry inside the query range would return itself at rank 1
    // while every other self-match is excluded. Rather than silently
    // dropping that query's walk, reject the inconsistent call.
    require(entry < qMinId || entry >= qMaxId,
      s"entry node $entry must lie outside the query id range " +
        s"[$qMinId, $qMaxId) — a query's own id as seed would be the " +
        "only self-match not excluded")
    val corpus = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = corpus
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val bsym = walkAdjacency(edges, entry)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val res = beamWalk(corpus, bsym, queries, k, beam, hops, entry)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    res.count()
    bsym.unpersist()
    corpus.unpersist()
    res
  }

  /** [[graphBeamSearch]] plus its WORK AUDIT: the second DataFrame is
    * `(qid, cand_scored)` — the number of candidate nodes the walk
    * scored for that query, summed over the fixed hops (each hop's
    * deduplicated frontier∪expansion cut, exactly the per-hop scoring
    * join's row count). This is the deployment-decision denominator a
    * recall-vs-cost Pareto table plots against; the hop frames are
    * already checkpointed by the walk, so counting them adds no
    * recompute. */
  def graphBeamSearchWithCost(embeddings: DataFrame, edges: DataFrame,
      qMinId: Long, qMaxId: Long, k: Int, beam: Int, hops: Int,
      entry: Long): (DataFrame, DataFrame) = {
    require(entry < qMinId || entry >= qMaxId,
      s"entry node $entry must lie outside the query id range " +
        s"[$qMinId, $qMaxId)")
    // hops = 0 would leave the audit builder empty and make the
    // unionAll reduce below throw; a zero-hop "walk" scores nothing
    // and is a caller error, not a degenerate audit
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val corpus = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = corpus
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val bsym = walkAdjacency(edges, entry)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Seq.newBuilder[DataFrame]
    val res = beamWalk(corpus, bsym, queries, k, beam, hops, entry,
        audit = Some(cands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    res.count()
    // left-join against the query set so a query whose walk scored
    // zero candidates still reports cand_scored = 0 instead of
    // silently missing from the audit
    val cost = queries.select(col("qid"))
      .join(cands.result()
        .map(_.groupBy(col("qid")).agg(count(lit(1)).as("c")))
        .reduce(_ unionAll _)
        .groupBy(col("qid")).agg(sum(col("c")).as("c")),
        Seq("qid"), "left")
      .select(col("qid"), coalesce(col("c"), lit(0L)).as("cand_scored"))
    bsym.unpersist()
    corpus.unpersist()
    (res, cost)
  }

  /** Walk adjacency: symmetrized edges PLUS a self-loop per node (and
    * per `entry`), so `frontier ⋈ adjacency` yields frontier ∪
    * expansion in ONE join — the round-13 hop fusion. Every frontier
    * node is either `entry` or a previously scored candidate (i.e. a
    * `dst` of this table), so the self-loop set covers every node a
    * walk can stand on. Built and persisted once per walk/index; the
    * per-hop plans only scan it. */
  private def walkAdjacency(edges: DataFrame, entry: Long): DataFrame = {
    val e0 = edges.select(col("qid").as("src"), col("vec_id").as("dst"))
    val sym = e0.unionAll(e0.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = sym.select(col("src"))
      .unionAll(edges.sparkSession.range(1).select(lit(entry).as("src")))
    // round 13: NO distinct here. Every consumer's candidate cut
    // applies its own per-hop `(qid, node)` distinct, so duplicate
    // adjacency rows (both-direction base edges, one self-loop copy
    // per out-edge) can never reach a result — and dropping the
    // distinct removes a full adjacency-table shuffle (+ the persist
    // of its output) from every walk setup. Cost: the per-hop
    // expansion join streams ≤ 2× more adjacency rows (a constant
    // factor, map-side only); the hop's distinct collapses them at
    // frontier-expansion size, never adjacency size.
    sym.unionAll(nodes.select(col("src"), col("src").as("dst")))
  }

  /** Shared fixed-hop beam-walk core of [[graphBeamSearch]] and the
    * serving path: `queries` is any `(qid, qvec, qnrm)` set (corpus
    * members or external arrivals). The candidate side is ≤
    * beam·(2K+1)·|queries| rows — BROADCAST it (query vectors
    * attached) against the corpus, so scoring never exchanges the
    * corpus (a sort-merge join here costs 2 exchanges + sorts per hop
    * for ~700 rows). Hop frames are localCheckpoint'ed: each hop
    * re-references the previous frame, and the final scoring
    * references every hop's candidates — truncated lineage keeps plan
    * analysis O(1) per hop and leaves no persist bookkeeping behind
    * (serving calls this once per micro-batch). */
  private def beamWalk(corpus: DataFrame, bsym: DataFrame,
      queries: DataFrame, k: Int, beam: Int, hops: Int,
      entry: Long,
      audit: Option[scala.collection.mutable.Builder[DataFrame,
        Seq[DataFrame]]] = None): DataFrame =
    topKByRoundedCos(
      beamWalkScoredSeen(corpus, bsym, queries, beam, hops, entry, audit),
      k, "cos", "rnk")

  /** The walk WITHOUT its final top-k: the scored distinct seen set
    * `(qid, vec_id, cos)` — the round-13 shared trace. Two registry
    * queries run the IDENTICAL walk (same graph, queries, beam, hops,
    * entry) and differ only in the final `k`; splitting the top-k off
    * lets [[BeamWalkArtifact]] store the trace once and each consumer
    * pay only its own rank cut. */
  private def beamWalkScoredSeen(corpus: DataFrame, bsym: DataFrame,
      queries: DataFrame, beam: Int, hops: Int,
      entry: Long,
      audit: Option[scala.collection.mutable.Builder[DataFrame,
        Seq[DataFrame]]] = None): DataFrame = {
    def score(cand: DataFrame): DataFrame = corpus
      .join(broadcast(cand.join(broadcast(queries), "qid")),
        col("node") === corpus("vec_id"))
      .select(col("qid"), col("node"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm"))
          .as("cos"))
    // the seed frontier is checkpointed: it is referenced by hop 1's
    // expansion join and (via `seen`) by the final scoring, and the
    // checkpoint gives it fresh attribute ids when the query side
    // comes from a streaming micro-batch
    var frontier = queries.select(col("qid"), lit(entry).as("node"))
      .localCheckpoint(true)
    // `seen` accumulates as a lazy unionAll; ONE distinct before the
    // final scoring (a per-hop distinct on it is shuffle-count waste —
    // the frontier cut is what needs dedup, and cand has its own)
    var seen = frontier
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("node"))
    for (_ <- 1 to hops) {
      // ROUND-13 HOP FUSION: one join against the self-loop-augmented
      // adjacency ([[walkAdjacency]]) yields frontier ∪ expansion
      // together (no per-hop union), and the hop checkpoints exactly
      // ONE frame — this candidate cut. The previous hop's beam
      // scoring rides INSIDE this materialization (`frontier` stays
      // lazy, referenced exactly once), so 3 checkpointed jobs per hop
      // collapse to 1, and the LAST hop's frontier — which nothing
      // consumes — is never computed at all. Outputs are re-aliased so
      // the lazy `seen` union's children never share attribute ids
      // (Union's constraint rewriting needs distinct child outputs
      // when the query side is a streaming micro-batch).
      // the adjacency is the only corpus-sized input: STREAM it and
      // broadcast the (≤ beam·|queries|-row) frontier, so no hop ever
      // exchanges or collects the big side (guide §8: move decisions
      // through lightweight proxies, stream the heavy table once)
      val cand = bsym.join(broadcast(frontier), col("node") === col("src"))
        .filter(col("dst") =!= col("qid"))
        .select(col("qid").as("qid"), col("dst").as("node"))
        .distinct()
        .localCheckpoint(true)
      audit.foreach(_ += cand) // checkpointed — counting it later is free
      seen = seen.unionAll(cand)
      frontier = score(cand)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam)
        .select(col("qid"), col("node"))
    }
    score(seen.distinct())
      .select(col("qid"), col("node").as("vec_id"), col("cos"))
  }

  /** Full walk trace for [[BeamWalkArtifact]]: the scored seen set
    * plus the per-query scored-candidate count (the
    * [[graphBeamSearchWithCost]] audit) — everything two different-k
    * consumers need, with no top-k applied. Same persist/count and
    * unpersist discipline as the direct search entry points. */
  def beamWalkTrace(embeddings: DataFrame, edges: DataFrame,
      qMinId: Long, qMaxId: Long, beam: Int, hops: Int,
      entry: Long): (DataFrame, DataFrame) = {
    require(entry < qMinId || entry >= qMaxId,
      s"entry node $entry must lie outside the query id range " +
        s"[$qMinId, $qMaxId)")
    require(hops >= 1, s"hops must be >= 1, got $hops")
    val corpus = prepared(embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val queries = corpus
      .filter(col("vec_id") >= qMinId && col("vec_id") < qMaxId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val bsym = walkAdjacency(edges, entry)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = Seq.newBuilder[DataFrame]
    val seen = beamWalkScoredSeen(corpus, bsym, queries, beam, hops,
        entry, audit = Some(cands))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    seen.count()
    val cost = queries.select(col("qid"))
      .join(cands.result()
        .map(_.groupBy(col("qid")).agg(count(lit(1)).as("c")))
        .reduce(_ unionAll _)
        .groupBy(col("qid")).agg(sum(col("c")).as("c")),
        Seq("qid"), "left")
      .select(col("qid"), coalesce(col("c"), lit(0L)).as("cand_scored"))
    bsym.unpersist()
    corpus.unpersist()
    (seen, cost)
  }

  /** The final rank cut over a stored walk trace — exactly the top-k
    * the direct walk would have returned. */
  def traceTopK(seenScored: DataFrame, k: Int): DataFrame =
    topKByRoundedCos(seenScored, k, "cos", "rnk")

  /** A FROZEN graph-ANN index for the serving path: the prepared
    * corpus and the symmetrized edge table, both persisted once at
    * freeze time so every arriving micro-batch pays only its own
    * beam walk — the same frozen-model `foreachBatch` convention the
    * NB / DSIR / conformal tiers use. Call [[FrozenGraphIndex.close]]
    * when retiring the index. */
  final case class FrozenGraphIndex private[operators] (
      corpus: DataFrame, bsym: DataFrame, k: Int, beam: Int, hops: Int,
      entry: Long) {
    def close(): Unit = { bsym.unpersist(); corpus.unpersist() }
  }

  def freezeGraphIndex(embeddings: DataFrame, edges: DataFrame, k: Int,
      beam: Int, hops: Int, entry: Long): FrozenGraphIndex = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = prepared(embeddings).persist(lvl)
    val bsym = walkAdjacency(edges, entry).persist(lvl)
    corpus.count(); bsym.count()
    FrozenGraphIndex(corpus, bsym, k, beam, hops, entry)
  }

  /** Serve one micro-batch of query vectors `(qid, embedding)`
    * against a frozen graph index — the `foreachBatch` body of an ANN
    * serving stream. Per query the work is beam·(2K+1) per hop,
    * independent of corpus size; arrival batching cannot change a
    * result (the index is frozen and the walk is deterministic), so
    * streamed top-k equals the batch top-k for the same query set —
    * pinned in GraphServingSpec. Queries whose qid equals a corpus
    * node id follow the batch path's self-exclusion. */
  def graphServeBatch(ix: FrozenGraphIndex, batch: DataFrame): DataFrame = {
    val queries = batch.select(col("qid"), col("embedding").as("qvec"))
      .withColumn("qnrm", norm(col("qvec")))
    beamWalk(ix.corpus, ix.bsym, queries, ix.k, ix.beam, ix.hops, ix.entry)
  }

  /** Incremental NN-descent graph maintenance — APPEND a vector batch
    * into a stored kNN graph without rebuilding it (the same gap
    * `q_dedup_incremental` closes for the dedup family: production
    * vector search ingests continuously; a full
    * [[NndGraphArtifact]]-style rebuild per batch is a non-starter).
    * Deterministic and engine-replayable, like every iterative
    * operator here:
    *
    *  1. LOCATE: each new vector walks `hops` fixed beam-search
    *     rounds over the EXISTING graph from `entry` (the
    *     [[graphBeamSearch]] expansion, queries = the batch) — the
    *     visited set seeds its candidate list.
    *  2. NEW-NEW: batch pairs sharing a visited node become mutual
    *     candidates (blocked on the visited node — never batch²).
    *  3. SEED EDGES: each new node's list = top-k over (visited ∪
    *     new-new), exact cosine.
    *  4. LOCAL DESCENT: `localRounds` NN-descent rounds restricted to
    *     the batch side (candidates = neighbors-of-neighbors through
    *     base ∪ new edges, both directions) refine the new lists;
    *     old lists are not consulted for updates during descent.
    *  5. BACK-EDGES: an old node named in a new node's FINAL list
    *     gains that new node as an edge and re-ranks WITHOUT
    *     truncation — no old edge is ever evicted between rebuilds
    *     (evicting here breaks graph connectivity and measurably
    *     drops old queries' recall; the ≤|batch| extra degree per
    *     touched node is reconciled by the next periodic full
    *     rebuild). Every OTHER old node's rows pass through untouched
    *     — bit-identical, no re-rank, no shuffle.
    *
    * Scale shape: per batch node the locate cost is beam·(2K+1) per
    * hop (corpus-independent, the graph-index property); back-edge
    * re-ranks touch ≤ batch·k old nodes; local-round candidates are
    * ≤ |batch|·(2K)². The only corpus-shaped operations are the
    * hash joins that attach vectors and the one anti-join splitting
    * untouched rows. NnDescentAppendSpec pins untouched-row
    * identity, top-k-exactness of touched re-ranks, and that
    * appending does not hurt old queries' recall. */
  def nnDescentAppend(embeddings: DataFrame, baseEdges: DataFrame,
      batchMinId: Long, k: Int, beam: Int, hops: Int, entry: Long,
      localRounds: Int): DataFrame = {
    require(entry < batchMinId,
      s"entry node $entry must be an existing (pre-batch) graph node")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val corpus = prepared(embeddings).persist(lvl)
    val batchQ = corpus.filter(col("vec_id") >= batchMinId)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
        col("nrm").as("qnrm"))
    val base = baseEdges.select(col("qid"), col("vec_id"), col("cos"),
      col("rnk")).persist(lvl)
    // self-loop-augmented adjacency: the locate hops below fuse
    // frontier ∪ expansion into one join, exactly as [[beamWalk]]
    val bsym = walkAdjacency(base, entry).persist(lvl)
    // candidate lists are batch-bounded: broadcast them (query vectors
    // attached) against the persisted corpus — scoring never exchanges
    // the corpus, exactly the graphBeamSearch discipline
    def scoreBatch(cand: DataFrame): DataFrame = corpus
      .join(broadcast(cand.join(broadcast(batchQ), "qid")),
        col("node") === corpus("vec_id"))
      .select(col("qid"), col("node").as("vec_id"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm"))
          .as("cos"))
    val toRelease = scala.collection.mutable.ListBuffer.empty[DataFrame]
    // Iteration frames are localCheckpoint'ed (eager): each hop/round
    // re-references the previous frame several times, and a deep
    // iterative plan re-expanded per reference blows up at ANALYSIS
    // time — truncating the lineage keeps the optimizer's work O(1)
    // per round (blocks are freed by the context cleaner when the
    // frames go out of scope).
    val sc = embeddings.sparkSession.sparkContext
    // 1. locate: fixed beam walk over the base graph
    var frontier = batchQ.select(col("qid"), lit(entry).as("node"))
    var seen = frontier
    for (h <- 1 to hops) {
      sc.setJobDescription(s"nnDescentAppend: locate hop $h")
      // fused hop (round 13, the [[beamWalk]] discipline): the
      // self-loops in `bsym` carry the frontier through the expansion
      // join (no per-hop union), the candidate cut is the hop's ONE
      // eager checkpoint, and the beam scoring stays lazy — it rides
      // inside the next hop's materialization, and the last hop's
      // frontier is never computed (nothing consumes it)
      val cand = bsym.join(broadcast(frontier), col("node") === col("src"))
        .select(col("qid").as("qid"), col("dst").as("node"))
        .distinct()
        .localCheckpoint(true)
      val w = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("vec_id"))
      frontier = scoreBatch(cand)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= beam)
        .select(col("qid"), col("vec_id").as("node"))
      seen = seen.unionAll(cand)
    }
    sc.setJobDescription("nnDescentAppend: seed lists")
    val seenD = seen.distinct().localCheckpoint(true)
    toRelease.foreach(_.unpersist())
    toRelease.clear()
    // 2. new-new candidates, blocked on the shared visited node
    val nn = seenD.as("a").join(seenD.as("b"),
        col("a.node") === col("b.node") && col("a.qid") =!= col("b.qid"))
      .select(col("a.qid").as("qid"), col("b.qid").as("node"))
    // 3. seed edge lists for the batch
    var newEdges = topKByRoundedCosUnsorted(
      scoreBatch(seenD.unionAll(nn).distinct()), k, "cos", "rnk")
      .localCheckpoint(true)
    // 4. bounded local descent over the batch side of base ∪ new
    for (r <- 1 to localRounds) {
      sc.setJobDescription(s"nnDescentAppend: local round $r")
      val u = base.select(col("qid"), col("vec_id"))
        .unionAll(newEdges.select(col("qid"), col("vec_id")))
      // B restricted to src ∈ batch: out-edges plus reversed in-edges
      val hop1 = u.filter(col("qid") >= batchMinId)
        .unionAll(u.filter(col("vec_id") >= batchMinId)
          .select(col("vec_id").as("qid"), col("qid").as("vec_id")))
      val mids = hop1.select(col("vec_id").as("mid")).distinct()
      val hop2 = u.join(broadcast(mids), col("qid") === col("mid"))
        .select(col("qid"), col("vec_id"))
        .unionAll(u.join(broadcast(mids), col("vec_id") === col("mid"))
          .select(col("vec_id").as("qid"), col("qid").as("vec_id")))
      val cand = hop1.as("x").join(hop2.as("y"),
          col("x.vec_id") === col("y.qid"))
        .select(col("x.qid").as("qid"), col("y.vec_id").as("node"))
        .filter(col("qid") =!= col("node"))
        .unionAll(newEdges.select(col("qid"), col("vec_id").as("node")))
        .distinct()
      newEdges = topKByRoundedCosUnsorted(scoreBatch(cand), k, "cos", "rnk")
        .localCheckpoint(true)
    }
    // 5. back-edges off the FINAL new lists: old nodes a new node
    // points at GAIN that edge and re-rank without truncation (no
    // eviction); everyone else passes through bit-identically
    sc.setJobDescription("nnDescentAppend: back-edge merge")
    val oldCand = newEdges.filter(col("vec_id") < batchMinId)
      .select(col("vec_id").as("qid"), col("qid").as("vec_id"),
        col("cos"))
    val touched = oldCand.select(col("qid")).distinct()
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val updatedTouched = base
      .join(touched, Seq("qid"), "left_semi")
      .select(col("qid"), col("vec_id"), col("cos"))
      .unionAll(oldCand)
      .withColumn("rnk", row_number().over(wRank).cast("int"))
    val untouched = base.join(touched, Seq("qid"), "left_anti")
    val res = untouched
      .unionAll(updatedTouched)
      .unionAll(newEdges)
      .persist(lvl)
    res.count()
    sc.setJobDescription(null)
    bsym.unpersist()
    base.unpersist()
    corpus.unpersist()
    res
  }

  /** Margin-based pair mining (Artetxe & Schwenk 2019 shape — the
    * bitext-mining scorer LASER-class parallel-corpus pipelines ship):
    * a raw cosine threshold over-accepts in dense "hub" regions and
    * under-accepts in sparse ones, so each candidate pair (x, y) is
    * scored by its cosine RELATIVE to both sides' neighborhood
    * density — margin(x,y) = cos(x,y) / ((avgₖNN(x) + avgₖNN(y)) / 2)
    * — and accepted above a ratio threshold. Here over a deterministic
    * parity split of one corpus (side A = even vec_id, B = odd),
    * candidates blocked by the Lloyd cells of the prebuilt IVF
    * artifact (in-cell cross-parity pairs only — never all-pairs),
    * and everything in exact integers: cosines in micro units, the
    * neighborhood averages as floor-divisions, the margin in ppm — so
    * the DuckDB oracle replays it bit-for-bit.
    *
    * Scale shape: one in-cell cross join bounded by cell size (the
    * same bound every in-cell family member carries), two bounded
    * windows over it (per-A and per-B candidate lists), one broadcast
    * join of the tiny per-side averages. */
  def marginPairs(inverted: DataFrame, k: Int,
      thresholdPpm: Long): DataFrame = {
    val inv = Partitioning.spreadBy(inverted, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = inv.filter(pmod(col("vec_id"), lit(2)) === 0)
    val b = inv.filter(pmod(col("vec_id"), lit(2)) === 1)
    val pairs = a.as("a").join(b.as("b"), col("a.cell") === col("b.cell"))
      .select(col("a.vec_id").as("qid"), col("b.vec_id").as("vid"),
        floor(pairCos(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")) * 1e6 + 0.5).cast("long")
          .as("cos_micro"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every division is SIGN-SAFE (truncate toward zero): cosines can
    // be negative, and Spark's `div` truncates where DuckDB's `//`
    // floors — factoring the sign out makes both engines identical
    val sAvg = "CASE WHEN sum(cos_micro) >= 0" +
      " THEN sum(cos_micro) div count(1)" +
      " ELSE -((-sum(cos_micro)) div count(1)) END"
    val wf = Window.partitionBy(col("qid"))
      .orderBy(col("cos_micro").desc, col("vid"))
    val fwd = pairs.withColumn("rn", row_number().over(wf))
      .filter(col("rn") <= k)
      .groupBy(col("qid"))
      .agg(expr(sAvg).as("avg_f"),
        max(when(col("rn") === 1, col("vid"))).as("best_vid"),
        max(when(col("rn") === 1, col("cos_micro"))).as("best_cos"))
    val wb = Window.partitionBy(col("vid"))
      .orderBy(col("cos_micro").desc, col("qid"))
    val bwd = pairs.withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k)
      .groupBy(col("vid"))
      .agg(expr(sAvg).as("avg_b"))
    val denom = "greatest(CASE WHEN avg_f + avg_b >= 0" +
      " THEN (avg_f + avg_b) div 2" +
      " ELSE -((-(avg_f + avg_b)) div 2) END, 1)"
    val res = fwd.join(broadcast(bwd), col("best_vid") === col("vid"))
      .select(col("qid"), col("best_vid").as("match_vid"),
        col("best_cos").as("cos_micro"),
        expr(s"""CASE WHEN best_cos >= 0
                 |  THEN (best_cos * 1000000) div $denom
                 |  ELSE -(((-best_cos) * 1000000) div $denom)
                 |END""".stripMargin).as("margin_ppm"))
      .withColumn("accepted", col("margin_ppm") >= thresholdPpm)
      .orderBy(col("qid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // materialize the (≤ |A|-row) answer, then release the
    // corpus-sized intermediates — cached blocks must not accumulate
    // across bench sweeps and repeated calls
    res.count()
    pairs.unpersist()
    inv.unpersist()
    res
  }

  def labelNoiseAudit(knnEdges: DataFrame, labels: DataFrame): DataFrame = {
    val perVec = knnEdges
      .join(labels.withColumnRenamed("label", "nb_label"), "vec_id")
      .join(labels.select(col("vec_id").as("qid"), col("label").as("own_label")),
        "qid")
      .groupBy(col("qid"), col("own_label"))
      .agg(sum(when(col("nb_label") === col("own_label"), 1L).otherwise(0L))
        .as("agree"),
        count(lit(1)).as("cnt"))
    perVec.groupBy(col("own_label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("agree")).as("agree_sum"), sum(col("cnt")).as("cnt_sum"),
        sum(when(col("agree") * 2 < col("cnt"), 1L).otherwise(0L))
          .as("n_suspect"))
      .select(col("own_label").as("label"), col("n_vectors"),
        expr("agree_sum * 1000 div cnt_sum").as("agreement_milli"),
        col("n_suspect"))
      .orderBy(col("label"))
  }

  /** Semi-supervised label propagation (Zhu & Ghahramani 2002 shape)
    * over the symmetrized in-cell kNN graph: seed vectors
    * (`vec_id < seedMaxId`) keep their true label, and each synchronous
    * round every still-unlabeled node with at least one labeled
    * neighbor takes the majority neighbor label (ties → larger count,
    * then smaller label; once assigned a label never flips) — the
    * auto-labeling pass that turns a small annotation budget into a
    * corpus-wide weak label table. Output per final label (−1 = still
    * unreached): seed count and final count.
    *
    * Determinism: the edge set is the rank-cut prefix of the
    * materialized kNN edges (rounded-cosine ranking), votes are integer
    * counts, and the argmax is a lexicographic struct min — so the
    * DuckDB oracle unrolls the same `rounds` rounds bit-for-bit.
    *
    * Scale: edges and labels are narrow (id, id) / (id, label) tables
    * partitioned by vector id; each round is one join + one bounded
    * aggregate, and `rounds` is a small constant — the same fixed-round
    * posture as the BFS and PageRank queries, never a driver loop over
    * collected rows. */
  def labelPropagation(knnEdges: DataFrame, labels: DataFrame, kPrefix: Int,
                       seedMaxId: Long, rounds: Int): DataFrame = {
    val directed = knnEdges.filter(col("rnk") <= kPrefix)
      .select(col("qid").as("src"), col("vec_id").as("dst"))
    val edges = directed
      .unionAll(directed.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var lab = labels.select(col("vec_id"),
      when(col("vec_id") < seedMaxId, col("label")).as("plabel"))
    for (_ <- 1 to rounds) {
      val unlabeled = lab.filter(col("plabel").isNull)
        .select(col("vec_id").as("src"))
      val newly = edges.join(unlabeled, "src")
        .join(lab.filter(col("plabel").isNotNull)
          .select(col("vec_id").as("dst"), col("plabel").as("nl")), "dst")
        .groupBy(col("src"), col("nl")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("negc"), col("nl").as("l"))).as("best"))
        .select(col("src").as("vec_id"), col("best.l").as("nlabel"))
      lab = lab.join(newly, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("plabel"), col("nlabel")).as("plabel"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val seeds = labels.filter(col("vec_id") < seedMaxId)
      .groupBy(col("label")).agg(count(lit(1)).as("n_seed"))
    lab.select(coalesce(col("plabel"), lit(-1)).as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("n_final"))
      .join(seeds, Seq("label"), "left")
      .select(col("label"), coalesce(col("n_seed"), lit(0L)).as("n_seed"),
        col("n_final"))
      .orderBy(col("label"))
  }

  /** Exact KNN-Shapley data valuation (Jia et al., PVLDB 2019): the
    * Shapley contribution of every training vector to a K-NN
    * classifier's accuracy on an eval panel, via the closed-form
    * sorted-neighbor recursion
    * `s(N) = 1[y_N = y]/N`,
    * `s(j) = s(j+1) + (1[y_j = y] − 1[y_{j+1} = y])/K · min(K,j)/j` —
    * O(N log N) per test point instead of exponential. The engine's
    * data-pruning gauge: strongly negative totals are mislabeled or
    * harmful rows; the top tail is the high-value core.
    *
    * Cross-engine exactness: each recursion term is floored to
    * integer NANOS with non-negative division only (sign applied
    * after), the suffix sum and per-panel totals are integer sums
    * (order-independent), and ties rank by vec_id.
    *
    * Scale: the panel (vec_id < `queryMaxId`) broadcasts — data
    * valuation always runs against a small held-out panel — so the
    * corpus never shuffles for scoring; the per-qid ranking window
    * partitions by panel member (the q_eval_mrr posture), and the
    * final top/bottom-`topN` cut is a bounded two-sided
    * [[graft.functions.TopKLongAgg]], not a global sort. */
  def knnShapley(embeddings: DataFrame, queryMaxId: Long, kNeighbors: Int,
                 topN: Int): DataFrame = {
    val queries = broadcast(embeddings.filter(col("vec_id") < queryMaxId)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("embedding").as("qvec"), norm(col("embedding")).as("qnrm")))
    val train = Partitioning.spreadBy(
      embeddings.filter(col("vec_id") >= queryMaxId), "vec_id")
      .select(col("vec_id"), col("label"), col("embedding"),
        norm(col("embedding")).as("nrm"))
    val scored = train.crossJoin(queries)
      .select(col("qid"), col("qlabel"), col("vec_id"), col("label"),
        pairCos(col("qvec"), col("embedding"), col("qnrm"), col("nrm")).as("cos"))
    val wRank = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    val wQ = Window.partitionBy(col("qid"))
    val wSeq = Window.partitionBy(col("qid")).orderBy(col("rnk"))
    val wSuffix = Window.partitionBy(col("qid")).orderBy(col("rnk"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val valued = scored
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wQ))
      .withColumn("d", when(col("label") === col("qlabel"), 1L).otherwise(0L))
      .withColumn("dn", lead(col("d"), 1).over(wSeq))
      // term_j = sign(d_j − d_{j+1}) · ⌊|d_j − d_{j+1}|·min(K,j)·1e9 / (K·j)⌋
      // — magnitudes divide non-negatively so both engines floor alike
      .withColumn("term", when(col("dn").isNull, lit(0L)).otherwise(
        when(col("d") >= col("dn"), lit(1L)).otherwise(lit(-1L)) *
          expr(s"(abs(d - dn) * least(cast($kNeighbors as bigint), cast(rnk as bigint))" +
            s" * cast(1000000000 as bigint)) div (cast($kNeighbors as bigint) * cast(rnk as bigint))")))
      .withColumn("dlast", max(when(col("rnk") === col("n"), col("d"))).over(wQ))
      .withColumn("value_nano",
        expr("dlast * cast(1000000000 as bigint) div n") +
          sum(col("term")).over(wSuffix))
    val totals = valued.groupBy(col("vec_id"), col("label"))
      .agg(sum(col("value_nano")).as("value_nano"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def cut(sgn: Long, side: String): DataFrame = totals
      .select((col("value_nano") * sgn).as("score"),
        lpad(col("vec_id").cast("string"), 12, "0").as("item"))
      .groupBy()
      .agg(graft.functions.TopKLongAgg(col("score"), col("item"), topN).as("top"))
      .select(posexplode(col("top")))
      .select(lit(side).as("side"), (col("pos") + 1).cast("int").as("rnk"),
        col("col.item").cast("long").as("vec_id"),
        (col("col.score") * sgn).as("value_nano"))
    cut(1L, "top").unionAll(cut(-1L, "bottom"))
      .join(totals.select(col("vec_id"), col("label")), "vec_id")
      .select(col("side"), col("rnk"), col("vec_id"), col("label"),
        col("value_nano"))
      .orderBy(col("side"), col("rnk"))
  }

  /** Alignment & uniformity of the embedding space (Wang & Isola,
    * ICML 2020), cell-blocked: alignment = mean squared L2 distance
    * over positive (same-label, same-cell) pairs — lower is better;
    * uniformity = ln E[exp(−2‖x−y‖²)] over all same-cell pairs —
    * lower (more negative) means the space spreads instead of
    * collapsing. The exact metrics are O(n²); blocking by IVF cell is
    * the documented at-scale approximation (the same Σ|cell|² bound as
    * SemDeDup), and is conservative in the right direction: in-cell
    * pairs are the NEAR pairs, exactly where collapse shows first.
    *
    * Determinism: ‖x−y‖² is an exact sequential double fold (identical
    * bits both engines) so its nano quantization is safe; exp() is
    * libm-dependent, so each exp term is rounded to MICRO before the
    * exact integer sum — coarse enough that a 1-ulp libm difference
    * can't flip a bucket, fine enough for a 6-dp metric. */
  def alignmentUniformity(inverted: DataFrame, labels: DataFrame): DataFrame = {
    val inv = Partitioning.spreadBy(inverted, "vec_id")
      .join(labels, "vec_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = inv.as("a").join(inv.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("la"), col("b.label").as("lb"),
        l2sq(col("a.embedding"), col("b.embedding")).as("d2"))
    pairs
      .agg(count(lit(1)).as("n_pairs"),
        sum(floor(exp(col("d2") * lit(-2.0d)) * lit(1e6) + lit(0.5))
          .cast("long")).as("u_sum"),
        sum(when(col("la") === col("lb"), 1L).otherwise(0L)).as("n_pos_pairs"),
        sum(when(col("la") === col("lb"),
          floor(col("d2") * lit(1e9) + lit(0.5)).cast("long"))
          .otherwise(0L)).as("a_sum"))
      .select(col("n_pos_pairs"),
        round(expr("a_sum div n_pos_pairs").cast("double") / 1e9, 6)
          .as("alignment"),
        col("n_pairs"),
        round(log(expr("u_sum div n_pairs").cast("double") / 1e6), 6)
          .as("uniformity"))
  }

  /** Per-vector health row: `(label, dim, norm)` with empty or null
    * embeddings coalescing to `dim = 0, norm = 0.0` — degenerate rows
    * must land in the zero-norm count, never vanish into a NULL
    * aggregate. Feeds the `q_embed_health` pre-index DQ gate. */
  def vectorHealth(embeddings: DataFrame): DataFrame = {
    // per-element coalesce: a NULL component contributes 0, matching
    // DuckDB list_sum's null-skipping — without it one NULL element
    // nulls the whole fold and the row silently lands in n_zero
    val normSq = aggregate(col("embedding"), lit(0.0d),
      (a, x) => a + coalesce(x.cast("double") * x.cast("double"), lit(0.0d)))
    embeddings.select(col("label"),
      coalesce(size(col("embedding")), lit(0)).cast("long").as("dim"),
      coalesce(sqrt(normSq), lit(0.0d)).as("norm"))
  }
}
