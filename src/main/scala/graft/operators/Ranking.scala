package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus term-weighting / retrieval-ranking operators over the
  * `documents` table: per-document TF-IDF top terms (the feature a
  * quality/topic pipeline reads) and BM25 document ranking for a term
  * query (the retrieval primitive behind dedup-aware sampling and
  * contamination triage).
  *
  * Determinism contract (the house rule for anything ranked): no
  * transcendental functions — `ln` is not correctly-rounded and may
  * differ in the last ulp between engines, exactly where a ranking
  * boundary sits. Both scores use RATIONAL idf variants
  * (multiplication/division only — IEEE-exact and engine-portable),
  * and BM25's per-term scores are fixed-point BIGINT nano-units
  * summed exactly, so ranking cannot drift with summation order.
  *
  * Scale shape: term frequencies and document frequencies are hash
  * aggregates (map-side combinable); the df join shuffles on term
  * (vocabulary-partitioned — no skew beyond natural term skew, which
  * the df cap in the dedup family would handle identically); corpus
  * stats are a 1-row broadcast. Top-k terms per doc is a per-doc
  * window (partitioned by doc_id — no global sort); the BM25 top-N
  * is an orderBy+limit (TakeOrderedAndProject).
  */
object Ranking {

  /** `(doc_id, dl, term, tf)` — per-document term frequencies with the
    * document token length carried along. */
  def termFreqs(documents: DataFrame): DataFrame =
    Partitioning.spreadBy(documents, "doc_id")
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top-k terms per document by rational TF-IDF: score = (tf · N) / df
    * — the idf is N/df without the customary log (a monotone-in-df
    * weighting with the same "rare terms score higher" shape, chosen
    * because integer multiply + one correctly-rounded double division
    * is bit-identical across engines while `ln` is not). Ties break
    * toward the lexicographically smaller term. */
  def tfIdfTopTerms(documents: DataFrame, k: Int): DataFrame = {
    val tf = termFreqs(documents)
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = documents.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dft, "term")
      .crossJoin(broadcast(stats))
      .withColumn("score",
        round((col("tf") * col("n_docs")).cast("double") /
          col("df").cast("double"), 6))
    // bounded top-k aggregate instead of a per-doc ranking window: map
    // tasks keep k-entry heaps per doc, so the exchange carries ≤k rows
    // per (doc, task) instead of the full scored term table. The 6-dp
    // score quantizes to integer micros losslessly; tf/df ride in the
    // tiebreak item behind a '\t' separator (below any token character,
    // so packed order = bare-term order even for prefix-sharing terms).
    scored
      .select(col("doc_id"),
        floor(col("score") * 1e6 + 0.5).cast("long").as("s"),
        concat_ws("\t", col("term"), col("tf"), col("df")).as("item"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.TopKLongAgg(col("s"), col("item"), k).as("top"))
      .select(col("doc_id"), posexplode(col("top")))
      .select(col("doc_id"),
        split(col("col.item"), "\t").as("parts"),
        round(col("col.score").cast("double") / 1e6, 6).as("score"),
        (col("pos") + 1).cast("int").as("rnk"))
      .select(col("doc_id"), col("parts").getItem(0).as("term"),
        col("parts").getItem(1).cast("long").as("tf"),
        col("parts").getItem(2).cast("long").as("df"),
        col("score"), col("rnk"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** BM25 constants, written as explicit literals on BOTH engine sides
    * (k1+1 and 1−b are NOT folded at runtime — the oracle SQL uses the
    * same pre-folded decimal literals, so there is no dependence on
    * either engine's constant-folding order). */
  val BmK1 = 1.2
  val BmK1Plus1 = 2.2
  val BmOneMinusB = 0.25
  val BmB = 0.75

  /** Top-N documents for a bag-of-terms query under BM25 with a
    * rational idf: per matched (doc, term),
    *
    * score = ((N−df)+0.5)/(df+0.5) · (tf·(k1+1)) / (tf + k1·(1−b + b·dl/avgdl))
    *
    * (the standard BM25 tf saturation and length normalization; the
    * idf drops the log for engine portability — see the object doc).
    * Each per-term score is quantized to BIGINT nano-units before the
    * per-document sum, so the ranked total is an exact integer. */
  def bm25TopDocs(documents: DataFrame, queryTerms: Seq[String],
                  topN: Int): DataFrame = {
    val tf = termFreqs(documents)
      .filter(col("term").isin(queryTerms.map(x => x: Any): _*))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = Partitioning.spreadBy(documents, "doc_id")
      .select(size(TextAnalysis.tokens(col("text"))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val idf = ((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
      (col("df").cast("double") + lit(0.5))
    val num = col("tf").cast("double") * lit(BmK1Plus1)
    val den = col("tf").cast("double") + lit(BmK1) *
      (lit(BmOneMinusB) + lit(BmB) * (col("dl").cast("double") / col("avgdl")))
    val scored = tf.join(broadcast(dft), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("sum_dl").cast("double") / col("n_docs").cast("double"))
      .withColumn("nano",
        floor(idf * (num / den) * lit(1000000000d) + lit(0.5)).cast("long"))
    val ranked = scored.groupBy(col("doc_id"))
      .agg(sum(col("nano")).as("bm25_nanos"))
      .orderBy(col("bm25_nanos").desc, col("doc_id"))
      .limit(topN)
    // rank annotation over the already-limited (≤ topN rows) result
    val w = Window.orderBy(col("bm25_nanos").desc, col("doc_id"))
    ranked.withColumn("rnk", row_number().over(w).cast("int"))
      .orderBy(col("rnk"))
  }
}
