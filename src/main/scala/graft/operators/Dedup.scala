package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, in increasing
  * sophistication: exact (hash), canonical-form (fingerprint), n-gram
  * Jaccard, MinHash+LSH, SimHash. All are built from shuffle-aware
  * primitives:
  *
  *  - exact/fingerprint dedup is a hash aggregate on the digest — one
  *    shuffle on a high-cardinality key, map-side partial aggregation.
  *  - Jaccard/MinHash avoid the O(n²) all-pairs comparison by joining
  *    on shared shingles / LSH band buckets, so cost follows the number
  *    of genuinely-similar pairs, not n².
  *  - SimHash pairs use pigeonhole blocking (64-bit hash, 4 blocks of
  *    16 bits: hamming ≤ 3 ⟹ at least one block identical), turning
  *    the all-pairs scan into 4 equality joins with 65,536-way buckets.
  *
  * Hashes are md5-based so results are engine-portable (the DuckDB
  * oracles compute the identical digests).
  */
object Dedup {

  /** Distinct shingles per document: `(doc_id, shingle)`. */
  def docShingles(documents: DataFrame, n: Int = 5): DataFrame =
    Partitioning.spreadBy(documents, "doc_id").select(col("doc_id"),
      explode(array_distinct(TextAnalysis.shingles(col("text"), n))).as("shingle"))

  /** Exact + canonical-form duplication stats (single row): total docs,
    * distinct raw texts, distinct canonical fingerprints. */
  def exactStats(documents: DataFrame): DataFrame =
    documents.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_unique_exact"),
      countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_unique_canonical"))

  /** N-gram Jaccard near-duplicate pairs: join docs on shared shingles,
    * count the intersection, derive |A∪B| from per-doc set sizes.
    * Pairs sharing zero shingles never materialize — the join IS the
    * candidate filter. */
  /** N-gram Jaccard near-duplicate pairs.
    *
    * `maxDf`: at corpus scale, a shingle shared by k documents emits
    * k² join rows — stop-phrase-like shingles make that quadratic.
    * Setting a document-frequency cap drops those hot shingles from
    * BOTH the join and the per-doc set sizes (so the Jaccard stays a
    * true similarity over the retained shingle sets — the standard
    * near-dup-at-scale tradeoff). `maxDf = None` is exact. */
  def jaccardPairs(documents: DataFrame, threshold: Double, n: Int = 5,
                   maxDf: Option[Int] = None): DataFrame = maxDf match {
    case Some(cap) => jaccardPairsCapped(documents, threshold, n, cap)
    case None => jaccardPairsSelfJoin(documents, threshold, n)
  }

  /** Uncapped formulation: self-join on shared shingles. Shingle set
    * sizes ride along each shingle row (window count), so the pair
    * aggregation needs no extra joins; the shingled input is persisted
    * because both sides of the self-join consume it (at cluster scale
    * this is a checkpoint of the shingle table). */
  private def jaccardPairsSelfJoin(documents: DataFrame, threshold: Double,
                                   n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val sh = docShingles(documents, n)
      .withColumn("sz", count(lit(1)).over(w))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("common"), min(col("a.sz")).as("sa"), min(col("b.sz")).as("sb"))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("sa") + col("sb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))
  }

  /** df-capped formulation — the at-scale path, built on
    * [[invertedPairCounts]]: replaces two corpus-scale sort-window
    * passes of the self-join formulation with hash aggregates. */
  private def jaccardPairsCapped(documents: DataFrame, threshold: Double,
                                 n: Int, cap: Int): DataFrame =
    invertedPairCounts(documents, n, Some(cap))
      .withColumn("jaccard",
        round(col("common").cast("double") / (col("sa") + col("sb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("da"), col("db"), col("jaccard"))
      .orderBy(col("da"), col("db"))

  /** Shared inverted-index pair machinery for the set-overlap family:
    * one hash aggregate to shingle → doc-list (optionally df-capped —
    * the cap becomes an array-size filter), candidate pairs generated
    * IN-ROW from each kept doc list (bounded at cap²/2 per shingle),
    * and per-doc kept-set sizes joined in AFTER the pair aggregation,
    * when the data is pair-sized, not corpus-sized. Returns
    * `(da, db, common, sa, sb)`; Jaccard and containment differ only
    * in how they combine those counts. */
  private def invertedPairCounts(documents: DataFrame, n: Int,
                                 maxDf: Option[Int]): DataFrame = {
    // Shuffle 16-byte digests, not raw 5-gram strings (round 13, guide
    // §2.3): the shingle text only ever acts as an equality/grouping
    // key here — the df window, the doc-list aggregate and the pair
    // generation all survive any injective relabeling — so the
    // exchanges and sorts below move `unhex(md5(...))` binaries
    // (fixed 16 B) instead of ~30-60-char strings. Distinctness per
    // doc is already applied on the raw text (docShingles'
    // array_distinct), and counts are collision-exact at 128 bits.
    // The DuckDB oracles keep intersecting raw shingle lists — a
    // collision would fail parity, which is the guard.
    val sh = docShingles(documents, n)
      .select(col("doc_id"), unhex(md5(col("shingle"))).as("shingle"))
    val kept = maxDf match {
      case Some(cap) =>
        // df-filter BEFORE list collection, as a window count over the
        // shingle partitioning: the kept doc list is then bounded by
        // construction (≤ cap entries per aggregation buffer), where
        // filtering AFTER collect_list — the round-3 shape — bounds the
        // pair fan-out but still materializes a stop-phrase shingle's
        // full doc list inside one non-spillable aggregation buffer.
        // The window formulation costs one sort but ZERO extra
        // exchanges: WindowExec preserves hashpartitioning(shingle), so
        // the groupBy below needs no re-shuffle (a df-table semi-join
        // would exchange the full shingle table a second time), and a
        // hot shingle's group lives in WindowExec's spillable sorter,
        // not an in-memory list.
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
        sh.withColumn("df", count(lit(1)).over(w))
          .filter(col("df") <= cap)
          .drop("df")
      case None => sh
    }
    val byShingle = kept
      .groupBy(col("shingle"))
      .agg(collect_list(col("doc_id")).as("docs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sz = byShingle
      .select(explode(col("docs")).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"))
    // ordered pairs from each doc list (docs is a row attribute, so the
    // nested-lambda references re-read a value, not recompute work)
    val pairRows = byShingle
      .filter(size(col("docs")) >= 2)
      .select(explode(flatten(transform(col("docs"), a =>
        transform(filter(col("docs"), b => b > a),
          b => struct(a.as("da"), b.as("db")))))).as("pr"))
      .select(col("pr.da").as("da"), col("pr.db").as("db"))
    pairRows
      .groupBy(col("da"), col("db"))
      .agg(count(lit(1)).as("common"))
      .join(sz.select(col("doc_id").as("da"), col("sz").as("sa")), "da")
      .join(sz.select(col("doc_id").as("db"), col("sz").as("sb")), "db")
  }

  /** Asymmetric containment pairs: containment of A in B is
    * `|shingles(A) ∩ shingles(B)| / |shingles(A)|` — the signal that
    * catches SUBSUMPTION (one document wholly quoted inside a larger
    * one), which symmetric Jaccard dilutes toward zero as the size gap
    * grows. A pair is emitted when either direction clears the
    * threshold; both directions ride along so the caller can tell
    * "A inside B" from "B inside A". Scale shape: the shared
    * [[invertedPairCounts]] index — identical posture to the capped
    * Jaccard path. */
  def containmentPairs(documents: DataFrame, threshold: Double, n: Int = 5,
                       maxDf: Option[Int] = None): DataFrame =
    invertedPairCounts(documents, n, maxDf)
      .withColumn("c_ab", round(col("common").cast("double") / col("sa"), 6))
      .withColumn("c_ba", round(col("common").cast("double") / col("sb"), 6))
      .filter(greatest(col("c_ab"), col("c_ba")) >= threshold)
      .select(col("da"), col("db"), col("c_ab"), col("c_ba"))
      .orderBy(col("da"), col("db"))

  /** Subsumption trim: the corpus filter containment pairs exist FOR.
    * Unlike near-dup dedup (keep one arbitrary representative, e.g. the
    * min id), the correct victim under containment is directional: the
    * MORE-CONTAINED side is the redundant one — its text lives on
    * inside the survivor. Ties (mutual containment) fall back to
    * dropping the larger doc_id, so the rule stays deterministic.
    * Returns the per-source kept/dropped manifest. */
  def subsumptionTrim(documents: DataFrame, threshold: Double, n: Int = 5,
                      maxDf: Option[Int] = None): DataFrame = {
    val victims = containmentPairs(documents, threshold, n, maxDf)
      .select(
        when(col("c_ab") > col("c_ba"), col("da"))
          .when(col("c_ba") > col("c_ab"), col("db"))
          .otherwise(greatest(col("da"), col("db"))).as("doc_id"))
      .distinct()
    val kept = documents.join(victims, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
    // start from the totals side: a source whose docs are ALL subsumed
    // must still report n_kept = 0, not vanish
    documents.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_docs") - coalesce(col("n_kept"), lit(0L))).as("n_subsumed"))
      .orderBy(col("source"))
  }

  val MinhashSeeds = 16
  val BandSize = 4

  /** Minhash mix parameters: slot i applies an affine mix to md5 chunk
    * i%4 modulo the Mersenne prime 2^31-1. Fixed odd multipliers /
    * offsets (shared with the generated DuckDB oracle — the two engines
    * must compute bit-identical slot values). */
  val MixP: Long = 2147483647L
  val MixA: IndexedSeq[Long] = IndexedSeq(
    769230721L, 995518081L, 433494437L, 644245093L,
    373587883L, 982451653L, 617707627L, 715827883L,
    265443577L, 899809343L, 533000401L, 735632791L,
    179424673L, 961748941L, 472882027L, 686572993L)
  val MixB: IndexedSeq[Long] = IndexedSeq(
    12582917L, 23456789L, 34567891L, 45678917L,
    56789123L, 67891241L, 78912353L, 89123471L,
    91234583L, 13456913L, 24567929L, 35678941L,
    46789051L, 57891067L, 68912087L, 79123099L)

  /** Portable MinHash, ONE md5 per shingle: the 128-bit digest is split
    * into four 32-bit chunks (conv from hex), and each of the 16
    * signature slots is an affine mix `(a_i * chunk_{i%4} + b_i) mod
    * (2^31-1)` — 16 pseudo-independent permutations from a single hash
    * (the standard "one hash + universal mixing" minhash construction).
    * Replaces round 1's 16 separate md5 calls per shingle, which were
    * the dominant allocation cost of the whole bench.
    *
    * WIDE layout: one row per doc with columns mh0..mh15, so the
    * signature build is a single hash aggregate with map-side partial
    * mins (no 16x row blowup through the shuffle). */
  def minhashSignatures(documents: DataFrame, n: Int = 5): DataFrame = {
    val chunks = (0 until 4).map(j =>
      conv(substring(col("hx"), j * 8 + 1, 8), 16, 10).cast("long").as(s"c$j"))
    val mins = (0 until MinhashSeeds).map(i =>
      min((col(s"c${i % 4}") * lit(MixA(i)) + lit(MixB(i))) % lit(MixP)).as(s"mh$i"))
    docShingles(documents, n)
      .select(col("doc_id"), md5(col("shingle")).as("hx"))
      .select(col("doc_id") +: chunks: _*)
      .groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
  }

  /** MinHash LSH near-duplicate candidates with estimated similarity:
    * band the 16-slot signature into 4 bands of 4, bucket-join on
    * identical bands, then estimate J as the fraction of agreeing
    * signature slots. Only same-bucket pairs are ever compared; the
    * signature tables carried through the joins are one narrow row per
    * document. */
  def minhashLshPairs(documents: DataFrame, minEstSim: Double, n: Int = 5): DataFrame = {
    // One narrow row per doc, consumed by three branches (band
    // self-join sides + both signature-agreement joins): persist so the
    // md5-heavy signature build runs exactly once.
    val sigs = minhashSignatures(documents, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bandCols = (0 until MinhashSeeds / BandSize).map { b =>
      md5(concat_ws("|",
        (0 until BandSize).map(j => col(s"mh${b * BandSize + j}")): _*))
    }
    val bands = sigs.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bandhash")))
    val cands = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bandhash") === col("b.bandhash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .distinct()
    val agreeExpr = (0 until MinhashSeeds).map(i =>
      when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(MinhashSeeds.toDouble)
    cands
      .join(sigs.as("sa"), col("da") === col("sa.doc_id"))
      .join(sigs.as("sb"), col("db") === col("sb.doc_id"))
      .select(col("da"), col("db"), agreeExpr.as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
      .select(col("da"), col("db"), round(col("est_sim"), 6).as("est_sim"))
      .orderBy(col("da"), col("db"))
  }

  /** Incremental ingest dedup: candidates only between a NEW batch and
    * the existing corpus index — the production flow, where per-ingest
    * cost is O(batch) signature builds plus bucket probes into the
    * (precomputed, persisted-in-production) index signature table. The
    * corpus is never re-paired against itself; ingest cost follows the
    * batch, not the corpus. */
  def minhashLshPairsAgainst(index: DataFrame, batch: DataFrame,
                             minEstSim: Double, n: Int = 5): DataFrame = {
    val iSigs = minhashSignatures(index, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bSigs = minhashSignatures(batch, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def bandsOf(sigs: DataFrame): DataFrame = {
      val bandCols = (0 until MinhashSeeds / BandSize).map { b =>
        md5(concat_ws("|",
          (0 until BandSize).map(j => col(s"mh${b * BandSize + j}")): _*))
      }
      sigs.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bandhash")))
    }
    val cands = bandsOf(bSigs).as("nb").join(bandsOf(iSigs).as("ix"),
        col("nb.band") === col("ix.band") &&
          col("nb.bandhash") === col("ix.bandhash"))
      .select(col("nb.doc_id").as("new_id"), col("ix.doc_id").as("dup_of"))
      .distinct()
    val agreeExpr = (0 until MinhashSeeds).map(i =>
      when(col(s"sa.mh$i") === col(s"sb.mh$i"), 1).otherwise(0))
      .reduce(_ + _).cast("double") / lit(MinhashSeeds.toDouble)
    cands
      .join(bSigs.as("sa"), col("new_id") === col("sa.doc_id"))
      .join(iSigs.as("sb"), col("dup_of") === col("sb.doc_id"))
      .select(col("new_id"), col("dup_of"), agreeExpr.as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
      .select(col("new_id"), col("dup_of"), round(col("est_sim"), 6).as("est_sim"))
      .orderBy(col("new_id"), col("dup_of"))
  }

  val SimhashBits = 64
  val SimhashBlocks = 4
  val SimhashBlockBits: Int = SimhashBits / SimhashBlocks

  /** Portable 64-bit SimHash (Charikar / Manku-style): bit i of a
    * token's contribution is bit `31-(i%32)` of 32-bit md5 chunk
    * `i/32`; per-doc bit i is set iff the signed sum over tokens is
    * positive. 64 bits (vs round 1's 32) is what makes the pigeonhole
    * blocks selective: 16-bit block values give 65,536 bucket values
    * per block instead of 256, so dissimilar-pair collisions drop 256×
    * and candidate generation stops being ~n²/128 at corpus scale.
    *
    * Native in-row formulation ([[graft.functions.SimHash64]]): one
    * split, one md5 per token, signed bit sums and the sign pack in a
    * single codegen'd pass — a map-only stage with NO shuffle. The
    * aggregate twin below ([[simhashDocsAgg]]) is the built-in-only
    * differential check. */
  def simhashDocs(documents: DataFrame): DataFrame =
    // null-text docs drop (not null-hash): the aggregate twin and the
    // oracle both lose such docs at explode/unnest, and a null key
    // must not enter the block joins
    Partitioning.spreadBy(documents, "doc_id").filter(col("text").isNotNull)
      .select(col("doc_id"),
        graft.functions.TextExpressions.simhash64(col("text")).as("sh"))

  /** Built-in-only formulation of [[simhashDocs]], kept as the
    * differential-test twin of the native expression: tokens are
    * exploded and md5 is computed once per token; the two hex chunks
    * are conv'd once per token and every per-bit contribution is two
    * integer ops feeding one hash aggregate (64 long partials per
    * doc). */
  def simhashDocsAgg(documents: DataFrame): DataFrame = {
    val chunks = (0 until 2).map(j =>
      conv(substring(col("hx"), j * 8 + 1, 8), 16, 10).cast("long").as(s"c$j"))
    val bitSums = (0 until SimhashBits).map { i =>
      val j = i / 32
      val shiftBits = 31 - (i % 32)
      sum(shiftright(col(s"c$j"), shiftBits).bitwiseAND(lit(1L)) * 2 - 1).as(s"b$i")
    }
    val value = (0 until SimhashBits).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    Partitioning.spreadBy(documents, "doc_id")
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("hx"))
      .select(col("doc_id") +: chunks: _*)
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), value.as("sh"))
  }

  /** SimHash near-duplicate pairs (hamming ≤ maxHamming ≤ 3) via
    * pigeonhole blocking: split the 64-bit hash into 4 blocks of 16
    * bits; any pair within hamming 3 shares ≥1 exact block, so 4
    * equality joins on (block index, block value) replace the n² scan —
    * and a 16-bit block (65,536 values) keeps each bucket small even at
    * corpus scale. */
  def simhashPairs(documents: DataFrame, maxHamming: Int): DataFrame = {
    require(maxHamming <= SimhashBlocks - 1,
      s"pigeonhole blocking holds for hamming <= ${SimhashBlocks - 1}")
    val hashed = simhashDocs(documents)
    // (sh >> s) & 0xffff: the mask makes arithmetic-shift sign fill
    // irrelevant, so Spark and DuckDB agree on the top block too.
    val blkval = (0 until SimhashBlocks).map(i =>
        when(col("blk") === i,
          shiftright(col("sh"), i * SimhashBlockBits).bitwiseAND(lit(65535L))))
      .reduceRight((a, b) => a.otherwise(b))
    val blocks = hashed.select(col("doc_id"), col("sh"),
      explode(sequence(lit(0), lit(SimhashBlocks - 1))).as("blk"))
      .withColumn("blkval", blkval)
    val cands = blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.blkval") === col("b.blkval") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("da"), col("a.sh").as("sha"),
        col("b.doc_id").as("db"), col("b.sh").as("shb"))
      .distinct()
    cands
      .withColumn("hamming", bit_count(col("sha").bitwiseXOR(col("shb"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy(col("da"), col("db"))
  }

  /** Substring-level duplication signal: for each document, the
    * fraction of its distinct n-gram shingles that also occur in at
    * least `minDf - 1` OTHER documents — the shingle-granularity form
    * of "what share of this doc is text duplicated elsewhere in the
    * corpus" (the signal substring-dedup pipelines trim on; n=10
    * approximates contiguous duplicated spans much more tightly than
    * the 5-gram near-dup shingles). Docs shorter than n tokens have no
    * shingles and are absent.
    *
    * Scale shape: the df table is the same inverted-index aggregate
    * the capped-Jaccard path builds — one shuffle on shingle; the
    * df-join back to per-doc shingles is linear in total shingle
    * occurrences (no pair generation anywhere). A skew-hot shingle
    * only widens one aggregate cell, not a join fan-out. */
  /** Exact substring dedup at SPAN granularity: the per-doc
    * REMOVE-SPAN manifest a trim pass applies. A position's n-gram is
    * duplicated when it appears in >= minDf documents (distinct-doc
    * df, same definition as [[duplicatedNgramStats]]); duplicated
    * positions whose covered token intervals `[pos, pos+n-1]` overlap
    * or abut merge into one `(doc_id, span_start, span_end,
    * n_shingles)` span — a new island starts only when the gap to the
    * previous duplicated position exceeds n (lag + running-sum of
    * break flags; span_end = last duplicated position + n - 1, token
    * offsets). The plain pos-minus-rank island trick is WRONG here:
    * two duplicated positions at gap 1..n-1 would emit two
    * OVERLAPPING spans and a trim pass summing span lengths would
    * double-count the overlap.
    *
    * Scale shape: df is ONE shingle-keyed window over a single
    * exchange (no aggregate-then-join-back, no pair generation —
    * linear in total shingle occurrences); the island/run windows are
    * per-doc. Spans of one doc are disjoint and non-adjacent by
    * construction — consecutive spans satisfy next.span_start >
    * prev.span_end + 1 — so removed tokens = Σ(end − start + 1)
    * exactly (DedupSpansSpec pins merging at gaps 0, 1..n-1, n, and
    * > n). */
  def duplicatedSpans(documents: DataFrame, n: Int = 10,
                      minDf: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = Partitioning.spreadBy(documents, "doc_id").select(col("doc_id"),
      posexplode(TextAnalysis.shingles(col("text"), n))
        .as(Seq("pos", "shingle")))
    val w = Window.partitionBy(col("shingle"))
    val dup = pos
      .withColumn("df", size(collect_set(col("doc_id")).over(w)))
      .filter(col("df") >= minDf)
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(wd) > n, 1L)
          .otherwise(0L))
      .withColumn("isl", sum(col("brk")).over(
        wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + n - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_shingles"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_shingles"))
  }

  def duplicatedNgramStats(documents: DataFrame, n: Int = 10,
                           minDf: Int = 2): DataFrame = {
    // df as a window count over ONE exchange on the shingle key —
    // the aggregate-then-join-back formulation builds the shingle
    // explode twice (Spark does not CSE across join branches) and
    // shuffles it twice; the window reuses the single sorted exchange
    // and the explode runs once. Partitions are per-shingle (size =
    // that shingle's df, bounded by corpus doc count), never global.
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))
    docShingles(documents, n)
      .withColumn("df", count(lit(1)).over(w))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= minDf, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_fraction",
        round(col("n_dup").cast("double") / col("n_shingles"), 6))
      .withColumn("trim_candidate", col("dup_fraction") >= 0.5)
  }
}
