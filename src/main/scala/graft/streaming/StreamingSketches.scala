package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Sketches as STREAMING STATE: the batch sketch family
  * ([[graft.operators.Sketches]]) maintained incrementally per key in
  * the state store, so a long-running stream answers "how many
  * distinct X so far" in O(registers) memory per group instead of
  * per-key state. The register recipe is IDENTICAL to the batch /
  * oracle one (md5 chunk mod 256 buckets, leading-zero rank of the
  * second chunk, max per register) — `StreamingSketchSpec` pins the
  * streamed registers and estimates to the batch operator row for
  * row, which is what makes a lambda architecture (batch backfill +
  * streaming head) converge instead of drift.
  *
  * Scale shape: state per group is a fixed 256-int array regardless
  * of stream length; updates are associative max-folds, so
  * micro-batch size and arrival order cannot change the state; the
  * emitted estimate is monotone non-decreasing (registers only
  * grow), so downstream consumers may keep latest-wins. */
object StreamingSketches {

  /** Big-endian 32-bit chunks `0 until n` of the md5 of `key`'s UTF-8
    * bytes — the hash recipe the batch sketches share. */
  private def md5Chunks(key: String, n: Int): Array[Long] = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8"))
    Array.tabulate(n) { i =>
      var v = 0L
      var k = 0
      while (k < 4) { v = (v << 8) | (d(i * 4 + k) & 0xffL); k += 1 }
      v
    }
  }

  /** JVM-side replay of the engine's HLL register recipe
    * ([[graft.operators.Sketches.hllRegisters]]): md5 the UTF-8 key
    * bytes, big-endian 32-bit chunk 0 mod 256 is the register index,
    * the 1-based leading-zero rank of chunk 1 (33 for zero) is the
    * observation. */
  def registerOf(key: String): (Int, Int) = {
    val Array(c0, c1) = md5Chunks(key, 2)
    val rank =
      if (c1 == 0L) 33
      else java.lang.Long.numberOfLeadingZeros(c1) - 31
    ((c0 % 256).toInt, rank)
  }

  /** Raw HLL estimate in floor'd milli-units from a 256-register
    * array — the identical IEEE expression tree as
    * [[graft.operators.Sketches.HllEstSql]] (alpha_256 · m² · 2^40 /
    * Σ 2^(40-rank), absent register ⇒ rank 0). */
  def estimateMilli(regs: Array[Int]): Long = {
    var s = 0L
    var i = 0
    while (i < regs.length) { s += 1L << (40 - regs(i)); i += 1 }
    val est = 0.7213 / (1 + 1.079 / 256) * 65536 * 1099511627776.0 / s.toDouble
    math.floor(est * 1000).toLong
  }

  /** Streaming distinct-count: `(group, key)` pairs → per-group HLL
    * registers held in `mapGroupsWithState`, emitting
    * `(group, estimate_milli)` each micro-batch the group appears in.
    * Update output mode; the estimate is monotone, so the latest (or
    * max) update per group is the current answer. */
  def distinctOverStream(events: Dataset[(String, String)])
      : Dataset[(String, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[Array[Int], (String, Long)](
        GroupStateTimeout.NoTimeout()) {
        case (g, rows, state) =>
          val regs = state.getOption.getOrElse(new Array[Int](256))
          rows.foreach { case (_, key) =>
            val (i, r) = registerOf(key)
            if (r > regs(i)) regs(i) = r
          }
          state.update(regs)
          (g, estimateMilli(regs))
      }
  }

  /** JVM-side replay of the batch Bloom recipe
    * ([[graft.operators.Bloom]]): the 4 bit positions of a key are
    * the big-endian 32-bit md5 chunks mod 2^18. */
  def bloomPositions(key: String): Array[Int] =
    md5Chunks(key, graft.operators.Bloom.NumHashes)
      .map(v => (v % graft.operators.Bloom.NumBits).toInt)

  /** Streaming Bloom membership filter: `(group, key)` pairs fold
    * into a per-group 2^18-bit filter held in `mapGroupsWithState`
    * (8192 32-bit words packed as a Long array — fixed 64 KiB per
    * group regardless of stream length). bit_or is associative AND
    * idempotent, so micro-batch boundaries and replays cannot change
    * the state — same convergence contract as the HLL and bottom-k
    * states, and the same words the batch [[graft.operators.Bloom]]
    * build produces (spec-pinned). Emits `(group, words_set,
    * bits_set)` each batch — a cheap saturation gauge; the filter
    * itself stays queryable in the state store for lookup joins. */
  def bloomOverStream(events: Dataset[(String, String)])
      : Dataset[(String, Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long, Long)](
        GroupStateTimeout.NoTimeout()) {
        case (g, rows, state) =>
          val words = state.getOption.getOrElse(
            new Array[Long](graft.operators.Bloom.NumWords))
          rows.foreach { case (_, key) =>
            bloomPositions(key).foreach { pos =>
              words(pos / 32) |= (1L << (pos % 32))
            }
          }
          state.update(words)
          var wordsSet = 0L
          var bitsSet = 0L
          var i = 0
          while (i < words.length) {
            if (words(i) != 0L) wordsSet += 1
            bitsSet += java.lang.Long.bitCount(words(i))
            i += 1
          }
          (g, wordsSet, bitsSet)
      }
  }

  /** The md5-rank sort key of the batch bottom-k sample
    * ([[graft.operators.Sketches.bottomKSample]] orders by
    * `(md5(id), id)`): lowercase hex digest of the UTF-8 id. */
  def hashKey(id: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(id.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Streaming bottom-k (KMV) sample: `(group, id, value)` triples →
    * the k rows with the smallest `(md5(id), id)` rank per group,
    * held in `mapGroupsWithState` and re-emitted each micro-batch the
    * group appears in. Because the winner set of a union is decided
    * row-by-row by a total order, folding arrivals into the kept set
    * is associative — batching and replays cannot change the state,
    * and the final sample equals the batch operator's over the same
    * rows (spec-pinned). State is ≤ k rows per group regardless of
    * stream length; sorted-sample quantiles (the
    * [[graft.operators.Sketches.sampleDiscQuantiles]] index rule)
    * come free from the emitted rows.
    *
    * CONTRACT: `(group, id)` must be unique over the stream — ids are
    * the sampled population, so a replayed id is the same population
    * member and its first-seen value wins (idempotent under replay,
    * which is exactly what a KMV sample wants). The batch operator
    * keeps duplicate-id rows as separate sample slots, so the
    * "equals the batch sample" guarantee holds only under this
    * uniqueness; a re-keyed value update must arrive as a new id. */
  def bottomKOverStream(events: Dataset[(String, String, Long)], k: Int)
      : Dataset[(String, String, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_._1)
      .flatMapGroupsWithState[Array[(String, String, Long)],
        (String, String, Long)](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        case (g, rows, state) =>
          // kept: (hk, id, v) sorted ascending by (hk, id)
          var kept = state.getOption.getOrElse(
            Array.empty[(String, String, Long)])
          val incoming = rows.map { case (_, id, v) => (hashKey(id), id, v) }
          kept = (kept ++ incoming)
            .groupBy(t => (t._1, t._2)).map(_._2.head).toArray
            .sortBy(t => (t._1, t._2)).take(k)
          state.update(kept)
          kept.iterator.map { case (_, id, v) => (g, id, v) }
      }
  }

  /** JVM-side replay of the batch count-min position recipe
    * ([[graft.operators.Sketches.positions]]): hash row i of a key is
    * the big-endian 32-bit md5 chunk i mod Width. */
  def cmsPositions(key: String): Array[Int] =
    md5Chunks(key, graft.operators.Sketches.Depth)
      .map(v => (v % graft.operators.Sketches.Width).toInt)

  /** Canonical digest of a CMS counter array (all Depth×Width cells,
    * zeros included, comma-joined decimals) — the register-equality
    * witness the convergence spec compares against a batch-built
    * sketch. */
  def cmsDigest(counters: Array[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(counters.mkString(",").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Streaming count-min sketch: `(group, key)` arrivals fold into a
    * per-group Depth×Width Long counter array held in
    * `mapGroupsWithState` — fixed 128 KiB per group regardless of
    * stream length, completing the mergeable-sketch symmetry (HLL
    * distinct, Bloom membership, KMV sample, CMS frequency) between
    * the batch tier and streaming state. Counter increments are
    * associative, so micro-batch boundaries and arrival order cannot
    * change the state, and the counters equal the batch
    * [[graft.operators.Sketches.build]] cells over the same rows
    * (spec-pinned via [[cmsDigest]]). Unlike the max-fold sketches
    * the fold is NOT idempotent — exactly-once replay is the
    * checkpoint's job, same as any streaming count. Emits
    * `(group, n_inserts, sketch_md5)` each batch the group appears
    * in; the counters stay queryable in the state store for
    * point-frequency serving (min over the Depth row cells). */
  def cmsOverStream(events: Dataset[(String, String)])
      : Dataset[(String, Long, String)] = {
    import events.sparkSession.implicits._
    val width = graft.operators.Sketches.Width
    events.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long, String)](
        GroupStateTimeout.NoTimeout()) {
        case (g, rows, state) =>
          val c = state.getOption.getOrElse(
            new Array[Long](graft.operators.Sketches.Depth * width))
          rows.foreach { case (_, key) =>
            val ps = cmsPositions(key)
            var r = 0
            while (r < ps.length) { c(r * width + ps(r)) += 1L; r += 1 }
          }
          state.update(c)
          // row-0 cells each count every insert once: their sum is n
          var n = 0L
          var i = 0
          while (i < width) { n += c(i); i += 1 }
          (g, n, cmsDigest(c))
      }
  }
}
