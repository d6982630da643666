package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed suffix-array construction by prefix doubling — the
  * exact-substring dedup primitive of the public "Deduplicating
  * Training Data Makes Language Models Better" pipeline (Lee et al.
  * 2022, whose ExactSubstr tool is suffix-array based), built the way
  * distributed-memory SA construction is published (Flick & Aluru,
  * SC'15): O(log maxLen) rounds, each round a co-partitioned
  * self-join plus one distributed sort-and-scan re-ranking.
  *
  * The array is over each document's first-`maxLen`-character WINDOW:
  * the suffix at `(doc_id, pos)` is `window.substring(pos)` (window
  * semantics — a production pass widens the window or strides it in
  * overlapping blocks; the algorithm is unchanged). Positions are
  * ranked by their suffix's first `2^k` characters at level `k`;
  * level `k+1` keys are the pair `(rank_k(pos), rank_k(pos + 2^k))`
  * with `-1` padding when the suffix ends inside the comparison span
  * (so a suffix that is a proper prefix of another sorts FIRST, the
  * lexicographic rule). After `ceil(log2(maxLen))` rounds the rank is
  * the suffix-array rank; two positions share a final rank iff their
  * window suffixes are identical — identical INCLUDING length,
  * because padding makes a shorter remainder key strictly smaller.
  *
  * The re-ranking step deliberately avoids a partition-less
  * `dense_rank` window (a single-task bottleneck at corpus scale —
  * the shape `PlanAuditSpec` forbids): distinct keys go through a
  * range-partitioned distributed sort + two-pass ordinal scan
  * (`sortBy` + `zipWithIndex`), the sort+scan primitive of the
  * distributed SA literature. The ordinal of a distinct key depends
  * only on the total key order — never on partition boundaries — so
  * the ranks are deterministic.
  *
  * Scale shape per round: one equality join on `(doc_id, pos)` (both
  * sides identically partitioned), one `distinct` on the pair key,
  * one range sort + scan over DISTINCT keys (≤ corpus positions, and
  * strictly shrinking relative entropy each round), one hash join
  * back. Everything is linear in corpus characters per round with a
  * log(maxLen) round count; no step funnels through one partition.
  *
  * Character semantics: positions index Unicode code points
  * (`substr`/`length` count code points in both Spark and DuckDB) and
  * round 0 ranks by code point (`ascii` returns the code point of the
  * first character in both engines), so the Spark plan and the DuckDB
  * oracle order suffixes identically with no collation dependence.
  */
object SuffixArray {

  /** Character positions of the first `maxLen` code points of each
    * doc: `(doc_id, pos, code)`, `pos` 0-based, `code` the code
    * point. One narrow explode — no shuffle. */
  def positions(documents: DataFrame, maxLen: Int): DataFrame =
    documents
      .select(col("doc_id"), col("text"),
        least(length(col("text")), lit(maxLen)).as("n"))
      .withColumn("pos", explode(sequence(lit(0), col("n") - 1)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        ascii(col("text").substr(col("pos") + 1, lit(1))).cast("long")
          .as("code"))

  /** Re-rank in ONE pass: sort `(k1, k2, doc_id, pos)` rows by key
    * (range-partitioned distributed sort — the Tungsten exchange, not
    * an RDD shuffle) and emit `(doc_id, pos, rank)` with `rank` = the
    * dense 0-based ordinal of the row's `(k1, k2)` key, assigned
    * DURING the ordered scan: pass 1 counts distinct keys per
    * partition, pass 2 streams rows out with `partition prefix +
    * running ordinal`. This folds what used to be three exchanges
    * (a `distinct`, the ordinal sort, and a rank join-back over the
    * full positions table) into the one sort — equal keys co-locate
    * under range partitioning, so the scan sees each key run
    * contiguously. Deterministic: the ordinal is a property of the
    * total key order, never of sampled partition boundaries (a key
    * run never splits across partitions). */
  private def rankRows(paired: DataFrame): DataFrame = {
    val spark = paired.sparkSession
    val np = spark.sessionState.conf.numShufflePartitions
    val sorted = paired
      .select(col("k1"), col("k2"), col("doc_id"), col("pos"))
      .repartitionByRange(np, col("k1"), col("k2"))
      .sortWithinPartitions(col("k1"), col("k2"))
    // ROUND 13 sort-once: the two-pass scan used to EXECUTE the whole
    // sort lineage twice — the counting pass (collect of one long per
    // partition) and the emitting pass each re-ran the range sampler +
    // exchange + sort. Persist the sorted rows: pass 1 materializes the
    // cache, pass 2 streams from it. MEMORY_AND_DISK so a corpus-scale
    // level spills instead of recomputing; the ContextCleaner
    // unpersists once the consumer's lineage is dropped.
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perPart = rdd.mapPartitions { it =>
      var cnt = 0L; var pk1 = 0L; var pk2 = 0L; var first = true
      while (it.hasNext) {
        val r = it.next(); val a = r.getLong(0); val b = r.getLong(1)
        if (first || a != pk1 || b != pk2) {
          cnt += 1; pk1 = a; pk2 = b; first = false
        }
      }
      Iterator.single(cnt)
    }.collect() // partition order preserved — these are the offsets
    val offsets = perPart.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var rank = bc.value(pi) - 1
      var pk1 = 0L; var pk2 = 0L; var first = true
      it.map { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (first || a != pk1 || b != pk2) {
          rank += 1; pk1 = a; pk2 = b; first = false
        }
        Row(r.getLong(2), r.getLong(3), rank)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("rank", LongType, nullable = false))))
  }

  /** One-pass re-rank for INTERMEDIATE doubling levels (round 12):
    * order- and equality-preserving but NOT dense — `rank =
    * (rangePartition << 40) | runIndexWithinPartition`. The doubling
    * only ever consumes intermediate ranks as next-round sort keys
    * (`k1`, `k2`), for which any strictly-monotone-in-key encoding is
    * as good as a dense one; only the FINAL level (whose ranks feed
    * the `rank + 1` adjacency join and surface in query output)
    * needs [[rankRows]]' dense two-pass form. Dropping density saves
    * the offset-collect job AND the second execution of the
    * distributed sort per round (the two-pass form re-runs the
    * reduce-side sort for pass 2). Correct because range partitioning
    * never splits a key run across partitions (equal keys compare
    * equal against every range bound), so `(partition, run)` is
    * lexicographically ordered exactly like the keys; non-negative,
    * so the `-1` lead padding still sorts strictly first. Rank VALUES
    * depend on sampled range bounds and may differ between runs —
    * fine for intermediates, whose values never surface (the final
    * dense level is a pure function of key order alone). */
  private def rankRowsFast(paired: DataFrame): DataFrame = {
    val spark = paired.sparkSession
    val np = spark.sessionState.conf.numShufflePartitions
    val sorted = paired
      .select(col("k1"), col("k2"), col("doc_id"), col("pos"))
      .repartitionByRange(np, col("k1"), col("k2"))
      .sortWithinPartitions(col("k1"), col("k2"))
    val out = sorted.rdd.mapPartitionsWithIndex { (pi, it) =>
      val base = pi.toLong << 40
      var run = -1L; var pk1 = 0L; var pk2 = 0L; var first = true
      it.map { r =>
        val a = r.getLong(0); val b = r.getLong(1)
        if (first || a != pk1 || b != pk2) {
          run += 1; pk1 = a; pk2 = b; first = false
        }
        Row(r.getLong(2), r.getLong(3), base | run)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("rank", LongType, nullable = false))))
  }

  /** Dense 0-based re-ranking of an existing `(doc_id, pos, rank)`
    * level — the same distributed sort-and-scan as the doubling
    * re-rank, keyed by the old rank alone. Restricting a ranking to a
    * subset of its positions preserves order and equality classes, so
    * re-densifying the restriction yields exactly the dense rank the
    * subset would have been assigned by its own construction: the
    * mechanism by which the plain 128-char-window family is DERIVED
    * from the strided artifact's block-0 slice instead of building a
    * second rank table (round-12 artifact collapse). */
  def denseRerank(level: DataFrame): DataFrame =
    rankRows(level.select(col("rank").as("k1"), lit(-1L).as("k2"),
      col("doc_id"), col("pos")))

  /** One doubling round: rank by first `2 * off` chars given ranks by
    * first `off` chars. `prev`: `(doc_id, pos, rank)`. Positions are
    * DENSE per document (0..n-1 by construction), so the classic
    * self-join on `pos + off` is exactly `lead(rank, off)` over a
    * per-document window — bounded partitions (a document's own
    * positions), zero exchange when `prev` is already hash-partitioned
    * by `doc_id` (see [[rankLevels]]). One Tungsten range exchange per
    * round (the re-rank sort) is all that remains. */
  private def doubleRound(rerank: DataFrame => DataFrame)(
      prev: DataFrame, off: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    rerank(prev.select(col("doc_id"), col("pos"),
      col("rank").as("k1"),
      lead(col("rank"), off, -1L).over(w).as("k2")))
  }

  /** All rank levels `0 .. ceil(log2(maxLen))`. `levels(k)`:
    * `(doc_id, pos, rank)` ranked by the first `2^k` characters.
    * `maxLen` must be a power of two.
    *
    * Round 12: intermediate levels use the one-pass non-dense
    * re-rank ([[rankRowsFast]]) — their ranks are only ever next-round
    * sort keys — and only the final level pays [[rankRows]]' dense
    * two-pass form. The per-round eager `localCheckpoint` is gone too:
    * each re-rank crosses an RDD boundary (`LogicalRDD` leaf), so
    * every level's logical plan is flat regardless — the lineage lives
    * in RDD land where each round is consumed exactly once (the lead
    * window, not a self-join), so nothing re-executes. Callers that
    * consume the final level more than once materialize it themselves
    * (the artifact writes it to parquet and reads that back). */
  def rankLevels(documents: DataFrame, maxLen: Int): Seq[DataFrame] = {
    require(maxLen >= 2 && Integer.bitCount(maxLen) == 1,
      s"maxLen must be a power of two, got $maxLen")
    val pos = positions(documents, maxLen)
    val rounds = Integer.numberOfTrailingZeros(maxLen)
    val r0 = rankRowsFast(pos.select(col("code").as("k1"),
      lit(-1L).as("k2"), col("doc_id"), col("pos")))
    val mids = (1 until rounds).scanLeft(r0) { (prev, k) =>
      doubleRound(rankRowsFast)(prev, 1 << (k - 1))
    }
    mids :+ doubleRound(rankRows)(mids.last, 1 << (rounds - 1))
  }

  /** The FINAL rank level in ONE distributed sort (round 13): rank
    * every truncated suffix by its text directly instead of running
    * log2(maxLen) doubling rounds (each a per-doc window exchange plus
    * a range-sort exchange — 14 corpus-wide exchanges at maxLen 128,
    * against one here). Sound because the window is BOUNDED: a
    * truncated suffix is a ≤ maxLen-char string, so the sort key is a
    * short fixed-cap string, exactly the short-key regime where
    * sorting whole keys beats doubling (doubling exists for UNBOUNDED
    * suffixes). Equality of the resulting dense ranks with the
    * doubling's:
    *
    *  - per position, the doubling's final rank orders by the code
    *    sequence of the truncated suffix, shorter-prefix-first (the
    *    `-1` padding rule);
    *  - UTF-8 binary string comparison (Spark's UTF8String order, and
    *    DuckDB's, which the oracles' `ascii`-based doubling already
    *    pins) is exactly code-point order, and a proper prefix
    *    compares less — the same total order;
    *
    * so dense-ranking `substr(text, pos+1)` of the ≤ maxLen-truncated
    * text replays the doubling's final level rank-for-rank
    * ([[SuffixArraySpec]] asserts it against [[rankLevels]], and the
    * DuckDB oracles replay the full doubling independently). */
  def finalLevel(documents: DataFrame, maxLen: Int): DataFrame = {
    require(maxLen >= 2 && Integer.bitCount(maxLen) == 1,
      s"maxLen must be a power of two, got $maxLen")
    val suff = documents
      .select(col("doc_id"), substring(col("text"), 1, maxLen).as("t"))
      .withColumn("pos",
        explode(sequence(lit(0), length(col("t")) - 1)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("t").substr(col("pos") + 1, lit(maxLen)).as("key"))
    rankRowsByKey(suff)
  }

  /** [[rankRows]] with a STRING key — the same range-sort + two-pass
    * dense-ordinal scan (pass 1 counts key runs per partition over the
    * persisted sorted rows, pass 2 streams them out with partition
    * prefix + running ordinal; equal keys never split across range
    * partitions). */
  private def rankRowsByKey(suff: DataFrame): DataFrame = {
    val spark = suff.sparkSession
    val np = spark.sessionState.conf.numShufflePartitions
    val sorted = suff
      .select(col("key"), col("doc_id"), col("pos"))
      .repartitionByRange(np, col("key"))
      .sortWithinPartitions(col("key"))
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perPart = rdd.mapPartitions { it =>
      var cnt = 0L; var pk: String = null; var first = true
      while (it.hasNext) {
        val k = it.next().getString(0)
        if (first || k != pk) { cnt += 1; pk = k; first = false }
      }
      Iterator.single(cnt)
    }.collect() // partition order preserved — these are the offsets
    val offsets = perPart.scanLeft(0L)(_ + _)
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      var rank = bc.value(pi) - 1
      var pk: String = null; var first = true
      it.map { r =>
        val k = r.getString(0)
        if (first || k != pk) { rank += 1; pk = k; first = false }
        Row(r.getLong(1), r.getLong(2), rank)
      }
    }
    spark.createDataFrame(out, StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("pos", LongType, nullable = false),
      StructField("rank", LongType, nullable = false))))
  }

  /** The suffix array (truncated at `maxLen` chars): positions with
    * their final rank, plus the doc's truncated suffix length. Ties
    * (identical `maxLen`-suffixes) share a rank. */
  def suffixArray(documents: DataFrame, maxLen: Int): DataFrame =
    withSuffixLen(documents, finalLevel(documents, maxLen), maxLen)

  /** In-row longest-common-prefix length of two strings — the
    * round-12 replacement for the greedy rank-table walk. The walk's
    * capped result IS the plain common-prefix length of the two
    * visible (truncated) suffixes: rank equality at level `k` means
    * the `2^k`-char spans match (including end-of-suffix behavior, by
    * the `-1` padding rule), so the walk accumulates exactly the
    * common prefix, and the call-site cap by the shorter visible
    * length removes the one overshoot case (identical remainders).
    * Computing that directly over the ≤`window`-char block texts
    * turns 2·(levels−1) shuffled joins per pair frame into TWO small
    * joins (attach the block slices — bounded 128-char rows, the
    * lightweight unit of guide §8) plus one codegen expression.
    *
    * The expression is the classic doubling, run IN-ROW via the
    * `aggregate` higher-order function (the accumulator is a runtime
    * value, so the 8 steps don't nest CASE expressions): for
    * `k = 7..0`, advance by `2^k` iff both strings still have
    * `lcp + 2^k` characters and the `2^k`-char spans at offset `lcp`
    * compare equal — 8 substring comparisons (each a bounded memcmp)
    * per pair instead of per-character probing (a per-char `substr(i)`
    * is O(i) on UTF-8, quadratic per pair). Greedy high-bit-first
    * accumulation is exact for any common prefix ≤ 255 chars — every
    * caller feeds ≤ 128-char window/block slices. */
  def commonPrefixLen(a: Column, b: Column): Column = {
    val n = least(length(a), length(b)).cast("long")
    aggregate(
      sequence(lit(7), lit(0), lit(-1)),
      lit(0L),
      (lcp, k) => {
        val w = pow(lit(2.0), k).cast("long") // exact: k ≤ 7
        when(lcp + w <= n &&
            a.substr((lcp + 1).cast("int"), w.cast("int")) ===
              b.substr((lcp + 1).cast("int"), w.cast("int")),
          lcp + w).otherwise(lcp)
      })
  }

  private def withSuffixLen(documents: DataFrame, ranks: DataFrame,
                            maxLen: Int): DataFrame =
    ranks.join(
        documents.select(col("doc_id"),
          least(length(col("text")), lit(maxLen)).cast("long").as("n")),
        Seq("doc_id"))
      .select(col("doc_id"), col("pos"), col("rank"),
        (col("n") - col("pos")).as("suffix_len"))

  /** Longest repeated substrings, group-level: one row per
    * rank-adjacency in the (truncated) suffix array with the exact
    * longest-common-prefix length. Two families:
    *
    *  - EQUAL final rank (identical truncated suffixes): lcp = the
    *    common truncated suffix length; the emitted pair is the two
    *    lexicographically-smallest `(doc_id, pos)` members.
    *  - CONSECUTIVE final ranks `r, r+1` (dense ranks — adjacency is
    *    a join on `rank_b = rank_a + 1`, no global sequence window):
    *    lcp = [[commonPrefixLen]] of the two visible window suffixes,
    *    in-row over the attached window texts (round 12 — equals the
    *    classic greedy rank-table walk's capped result, see
    *    [[commonPrefixLen]]). Because all members of a rank group
    *    share the same truncated suffix, the representative choice
    *    cannot change the lcp.
    *
    * The maximum lcp over all suffix pairs is attained at an adjacent
    * pair in suffix order (the classic SA result), so the top rows
    * ARE the corpus's longest repeated substrings (capped at
    * `maxLen`). Per-pair cost: O(window) in-row char comparisons —
    * linear in rank boundaries, never quadratic in positions. */
  def longestRepeated(documents: DataFrame, maxLen: Int): DataFrame =
    longestRepeated(documents, finalLevel(documents, maxLen), maxLen)

  /** As above, over the PRE-BUILT final rank level (the
    * [[SuffixArtifact]] consumer path). Round 12: the per-level greedy
    * rank walk (2 joins × levels, each against a positions-sized rank
    * table) is replaced by [[commonPrefixLen]] over the two window
    * texts — two small joins against the ≤`maxLen`-char window slices
    * plus one codegen expression; only the final level is consumed. */
  def longestRepeated(documents: DataFrame, last: DataFrame,
      maxLen: Int): DataFrame = {
    val sa = withSuffixLen(documents, last, maxLen)

    // representatives: per final rank, the two smallest (doc,pos)
    // members + the shortest member suffix length. Group size = the
    // multiplicity of one exact duplicated suffix — bounded by the
    // duplicate cluster size, not the corpus.
    val reps = sa
      .groupBy(col("rank"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("m1"),
        slice(sort_array(collect_list(struct(col("doc_id"), col("pos")))),
          2, 1).as("m2s"),
        count(lit(1)).as("members"),
        min(col("suffix_len")).as("min_len"))
      .localCheckpoint(true)

    // family 1: identical truncated suffixes — lcp = shared length.
    val equalPairs = reps.filter(col("members") >= 2)
      .select(col("m1.doc_id").as("doc_a"), col("m1.pos").as("pos_a"),
        element_at(col("m2s"), 1).getField("doc_id").as("doc_b"),
        element_at(col("m2s"), 1).getField("pos").as("pos_b"),
        col("min_len").as("lcp"))

    // family 2: consecutive ranks — in-row LCP over the two window
    // texts (the walk's capped result equals the string LCP; the cap
    // is kept as the documented overshoot guard). The window slices
    // are `maxLen`-char proxies of the documents — the lightweight
    // attach unit; the joins auto-broadcast when the corpus is small
    // and degrade to shuffling 128-char rows at scale.
    val wt = documents.select(col("doc_id"),
      substring(col("text"), 1, maxLen).as("wt"))
    val adjPairs = reps.as("x")
      .join(reps.as("y"), col("y.rank") === col("x.rank") + 1)
      .select(col("x.m1.doc_id").as("doc_a"), col("x.m1.pos").as("pos_a"),
        col("y.m1.doc_id").as("doc_b"), col("y.m1.pos").as("pos_b"),
        least(col("x.min_len"), col("y.min_len")).as("cap"))
      .join(wt.select(col("doc_id").as("doc_a"), col("wt").as("wa")),
        Seq("doc_a"))
      .join(wt.select(col("doc_id").as("doc_b"), col("wt").as("wb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        least(commonPrefixLen(
          col("wa").substr((col("pos_a") + 1).cast("int"), lit(maxLen)),
          col("wb").substr((col("pos_b") + 1).cast("int"), lit(maxLen))),
          col("cap")).as("lcp"))

    equalPairs.unionByName(adjPairs)
  }

  // ---------------------------------------------------------------
  // Strided windows — full-document coverage
  // ---------------------------------------------------------------

  /** Overlapping-block view of the corpus: block `b` of a doc covers
    * code points `[b*stride, b*stride + window)`, one block per
    * stride until the doc is exhausted, so EVERY document position
    * starts a suffix in exactly `ceil(window/stride)` blocks and sees
    * at least `window - stride` characters of lookahead in the block
    * whose first `stride` positions it falls in. Block ids are
    * arithmetic — `bid = doc_id * BlockBase + b` — so global
    * coordinates need no mapping table: `doc_id = bid DIV BlockBase`,
    * `gpos = (bid % BlockBase) * stride + pos`. Output schema matches
    * `documents` (`doc_id` = bid, `text` = the block slice) so
    * [[rankLevels]] runs on it unchanged.
    *
    * Documents longer than `BlockBase * stride` code points (64 Mi
    * chars at stride 64) are EXCLUDED — their block index would
    * overflow into the next document's bid space and silently corrupt
    * global coordinates. The oracle CTE applies the identical cap, so
    * the two engines always agree on the corpus in scope; a 100 TB
    * deployment that ingests >64 Mi-char documents shards them
    * upstream (they are beyond any plausible single training
    * document). */
  def blocks(documents: DataFrame, window: Int, stride: Int): DataFrame =
    documents
      .filter(length(col("text")) > 0 &&
        length(col("text")) <= lit(BlockBase * stride))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          floor((length(col("text")) - 1) / stride).cast("int"))).as("blk"))
      .select((col("doc_id") * BlockBase + col("blk")).as("doc_id"),
        col("text").substr(col("blk") * stride + 1, lit(window)).as("text"))

  /** Max blocks per document the arithmetic bid supports — docs up to
    * `BlockBase * stride` code points (longer ones are dropped by
    * [[blocks]]). 2^20 keeps `bid = doc_id * BlockBase + blk` exact
    * in a long for doc_ids up to 2^43. */
  val BlockBase = 1L << 20

  /** Longest repeated substrings over the STRIDED block suffix array —
    * repeats anywhere in a document, not just its first-`window`
    * prefix. Exact for matches up to `window - stride` characters
    * (every position is guaranteed that much lookahead), opportunistic
    * up to `window`. The block overlap means one global position
    * appears as up to `window/stride` suffix copies; the extra copies
    * cost one constant factor in the doubling and are reconciled here:
    *
    *  - rank-group members are deduplicated by GLOBAL coordinates
    *    (equal rank ⟹ identical truncated suffix INCLUDING length, so
    *    copies of one global position collapse exactly);
    *  - pair hits across block seams are canonicalized (unordered
    *    global pair) and collapsed to their maximum lcp;
    *  - self-pairs (the short copy of a position adjacent to its own
    *    long copy) are dropped — by the LCP chain property every
    *    genuine repeat of length L still surfaces through some
    *    non-self adjacency with lcp ≥ L.
    *
    * `last` must be the FINAL rank level of [[blocks]] output and
    * `blockText` the [[blocks]] output itself. Returns
    * `(doc_a, pos_a, doc_b, pos_b, lcp)` in GLOBAL coordinates.
    * (Doc for [[longestRepeatedStrided]], defined below.) */
  /** The final-level strided suffix array with global coordinates and
    * visible suffix lengths: `(bid, pos, rank, suffix_len, gdoc,
    * gpos)`. suffix_len = visible block length - pos; block length =
    * `length(block text)` exactly (positions are generated over the
    * clipped block slice), so the block-text table supplies it with
    * one small join instead of a positions-sized group-by. */
  def stridedSa(last: DataFrame, blockText: DataFrame,
      stride: Int): DataFrame = {
    val blkLen = blockText.select(col("doc_id").as("bid"),
      length(col("text")).cast("long").as("blen"))
    last
      .join(blkLen, last("doc_id") === blkLen("bid"))
      .select(col("bid"), col("pos"), col("rank"),
        (col("blen") - col("pos")).as("suffix_len"),
        // integer floor-div, NOT double division: exact at any bid,
        // consistent with the integer pmod used for gpos
        expr(s"bid DIV $BlockBase").as("gdoc"),
        (pmod(col("bid"), lit(BlockBase)) * stride + col("pos")).as("gpos"))
  }

  /** Incremental exact-substring SCREEN — rank an arriving batch's
    * suffixes against the STORED corpus suffix array at batch cost,
    * never rebuilding it (the `q_embed_ivf_append` treatment applied
    * to the suffix family): for every batch suffix, its best corpus
    * match is its rank-order NEIGHBOR among corpus suffixes (the
    * classic SA property — lcp is min over the adjacency chain, so
    * the max against a set is attained at the nearest restricted
    * neighbor on one of the two sides). The neighbor search is a
    * range-sort by `(rank, corpus-first)` plus a per-partition
    * forward/backward scan with boundary exchange — the
    * [[rankRows]] offset pattern, 2 tiny rows per partition to the
    * driver, never data. The lcp of each neighbor pair is
    * [[commonPrefixLen]] over the two attached block texts (equal
    * final ranks fall out of the same expression — identical visible
    * suffixes, string lcp = shared length). Returns one row per
    * distinct batch GLOBAL position: `(gdoc, gpos, lcp)` — its longest
    * exact repeat against the corpus (window semantics: exact to
    * `window-stride`, opportunistic to `window`).
    *
    * 100 TB deployment note: the one full-table range sort here exists
    * because the artifact stores levels hash-partitioned by block; a
    * corpus at scale stores the final level RANGE-partitioned by rank
    * once, and this screen becomes a partition-pruned merge of the
    * (small) batch rank set against only the touched rank ranges. */
  def batchScreen(last: DataFrame, blockText: DataFrame, stride: Int,
      isBatch: Column => Column): DataFrame = {
    val spark = last.sparkSession
    val np = spark.sessionState.conf.numShufflePartitions
    val sorted = stridedSa(last, blockText, stride)
      .withColumn("flag", when(isBatch(col("gdoc")), 1).otherwise(0))
      .select(col("rank"), col("flag"), col("bid"), col("pos"),
        col("suffix_len"), col("gdoc"), col("gpos"))
      .repartitionByRange(np, col("rank"), col("flag"))
      .sortWithinPartitions(col("rank"), col("flag"))
    // ROUND 13 sort-once (same fix as [[rankRows]]): the boundary
    // pass and the scan pass each re-executed the full range sort of
    // the SA table per query execution; persist runs it once.
    val rdd = sorted.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // pass 1: each partition's first/last CORPUS row — the boundary
    // values neighboring partitions need (rank, bid, pos, suffix_len)
    val bounds = rdd.mapPartitionsWithIndex { (pi, it) =>
      var first: Array[Long] = null
      var last: Array[Long] = null
      it.foreach { r =>
        if (r.getInt(1) == 0) {
          val c = Array(r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
          if (first == null) first = c
          last = c
        }
      }
      Iterator.single((pi, first, last))
    }.collect().sortBy(_._1)
    val nPart = bounds.length
    val predB = new Array[Array[Long]](nPart)
    val succB = new Array[Array[Long]](nPart)
    var run: Array[Long] = null
    for (i <- 0 until nPart) { predB(i) = run; if (bounds(i)._3 != null) run = bounds(i)._3 }
    run = null
    for (i <- nPart - 1 to 0 by -1) { succB(i) = run; if (bounds(i)._2 != null) run = bounds(i)._2 }
    val bcPred = spark.sparkContext.broadcast(predB)
    val bcSucc = spark.sparkContext.broadcast(succB)
    // pass 2: forward scan (pred = running last corpus row at
    // rank <= r, equal ranks included — corpus sorts first within a
    // rank) and backward scan (succ = first corpus row at rank > r);
    // one output row per (batch row, available side).
    val out = rdd.mapPartitionsWithIndex { (pi, it) =>
      val rows = it.toArray
      val res = scala.collection.mutable.ArrayBuffer.empty[Row]
      def emit(r: Row, c: Array[Long]): Unit =
        res += Row(r.getLong(5), r.getLong(6), r.getLong(0), r.getLong(2),
          r.getLong(3), r.getLong(4), c(0), c(1), c(2), c(3))
      var pred = bcPred.value(pi)
      rows.foreach { r =>
        if (r.getInt(1) == 0)
          pred = Array(r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
        else if (pred != null) emit(r, pred)
      }
      var succ = bcSucc.value(pi)
      for (i <- rows.length - 1 to 0 by -1) {
        val r = rows(i)
        if (r.getInt(1) == 0)
          succ = Array(r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))
        else if (succ != null) emit(r, succ)
      }
      res.iterator
    }
    val schema = StructType(Seq("gdoc", "gpos", "rank_a", "bid_a",
      "bpos_a", "len_a", "rank_b", "bid_b", "bpos_b", "len_b")
      .map(StructField(_, LongType, nullable = false)))
    val pairs = spark.createDataFrame(out, schema)
    // in-row LCP over the two block texts (round 12): equal final
    // ranks mean identical visible suffixes, where the string LCP IS
    // the shared length — so one expression covers both the equal-rank
    // and the walked family, no frame split, no per-level joins.
    val bt = blockText.select(col("doc_id"), col("text"))
    pairs
      .join(bt.select(col("doc_id").as("bid_a"), col("text").as("ta")),
        Seq("bid_a"))
      .join(bt.select(col("doc_id").as("bid_b"), col("text").as("tb")),
        Seq("bid_b"))
      .select(col("gdoc"), col("gpos"),
        least(commonPrefixLen(
          col("ta").substr((col("bpos_a") + 1).cast("int"), length(col("ta"))),
          col("tb").substr((col("bpos_b") + 1).cast("int"), length(col("tb")))),
          least(col("len_a"), col("len_b"))).as("lcp"))
      // collapse block copies of one global position to the best lcp
      .groupBy(col("gdoc"), col("gpos"))
      .agg(max(col("lcp")).as("lcp"))
  }

  def longestRepeatedStrided(last: DataFrame, blockText: DataFrame,
      stride: Int): DataFrame = {
    val sa = stridedSa(last, blockText, stride)

    // per final rank: distinct global members (sorted), one
    // representative WITH block coordinates for the LCP computation,
    // and the group's common truncated-suffix length (identical across
    // members — equal rank means equal string and length).
    val reps = sa
      .groupBy(col("rank"))
      .agg(
        sort_array(collect_set(struct(col("gdoc"), col("gpos")))).as("gm"),
        min(struct(col("gdoc"), col("gpos"), col("bid"), col("pos")))
          .as("m1"),
        min(col("suffix_len")).as("len"))
      .localCheckpoint(true)

    // family 1: ≥2 distinct global members sharing one rank —
    // identical truncated suffixes; lcp = the shared length.
    val equalPairs = reps.filter(size(col("gm")) >= 2)
      .select(element_at(col("gm"), 1).getField("gdoc").as("doc_a"),
        element_at(col("gm"), 1).getField("gpos").as("pos_a"),
        element_at(col("gm"), 2).getField("gdoc").as("doc_b"),
        element_at(col("gm"), 2).getField("gpos").as("pos_b"),
        col("len").as("lcp"))

    // family 2: consecutive ranks — in-row LCP over the two block
    // texts on BLOCK coordinates, output in GLOBAL ones (round 12:
    // replaces the per-level greedy rank walk; the capped walk result
    // equals the string LCP of the visible block suffixes).
    val bt = blockText.select(col("doc_id"), col("text"))
    val adjPairs = reps.as("x")
      .join(reps.as("y"), col("y.rank") === col("x.rank") + 1)
      .select(col("x.m1.gdoc").as("doc_a"), col("x.m1.gpos").as("pos_a"),
        col("x.m1.bid").as("bid_a"), col("x.m1.pos").as("bpos_a"),
        col("y.m1.gdoc").as("doc_b"), col("y.m1.gpos").as("pos_b"),
        col("y.m1.bid").as("bid_b"), col("y.m1.pos").as("bpos_b"),
        least(col("x.len"), col("y.len")).as("cap"))
      .join(bt.select(col("doc_id").as("bid_a"), col("text").as("ta")),
        Seq("bid_a"))
      .join(bt.select(col("doc_id").as("bid_b"), col("text").as("tb")),
        Seq("bid_b"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        least(commonPrefixLen(
          col("ta").substr((col("bpos_a") + 1).cast("int"), length(col("ta"))),
          col("tb").substr((col("bpos_b") + 1).cast("int"), length(col("tb")))),
          col("cap")).as("lcp"))

    // seam reconciliation: drop self-pairs, canonicalize the unordered
    // global pair, keep the best lcp either seam reported.
    equalPairs.unionByName(adjPairs)
      .filter(col("doc_a") =!= col("doc_b") ||
        col("pos_a") =!= col("pos_b"))
      .select(
        when(struct(col("doc_a"), col("pos_a")) <=
            struct(col("doc_b"), col("pos_b")),
          struct(col("doc_a").as("d"), col("pos_a").as("p")))
          .otherwise(struct(col("doc_b").as("d"), col("pos_b").as("p")))
          .as("lo"),
        when(struct(col("doc_a"), col("pos_a")) <=
            struct(col("doc_b"), col("pos_b")),
          struct(col("doc_b").as("d"), col("pos_b").as("p")))
          .otherwise(struct(col("doc_a").as("d"), col("pos_a").as("p")))
          .as("hi"),
        col("lcp"))
      .groupBy(col("lo"), col("hi"))
      .agg(max(col("lcp")).as("lcp"))
      .select(col("lo.d").as("doc_a"), col("lo.p").as("pos_a"),
        col("hi.d").as("doc_b"), col("hi.p").as("pos_b"), col("lcp"))
  }
}
