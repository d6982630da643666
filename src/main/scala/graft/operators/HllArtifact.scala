package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** Materialized per-source HLL register table over the corpus 5-gram
  * shingle stream — the persisted-sketch posture of a real telemetry
  * system: sketches are built ONCE by the ingest job and every
  * downstream reader answers cardinality questions by register
  * algebra, never by re-scanning the corpus.
  *
  * Both HLL queries consumed the identical register build (full
  * shingle explode + one md5 per shingle + a (source, register) max
  * aggregate — the dominant cost of each); `q_sketch_hll` is the
  * registered build step (it also carries the exact countDistinct
  * that grades the sketch), and `q_sketch_hll_overlap` consumes the
  * written registers for its pure union/intersection algebra. The
  * artifact is ≤ sources × 256 rows — trivially broadcastable, the
  * whole point of the sketch. */
object HllArtifact extends Artifact("hllregs", "documents", "_sh5") {

  protected def build(b: Artifact.Build): Unit = {
    val sh = Tables.documents(b.spark, b.dir)
      .select(col("source"),
        explode(TextAnalysis.shingles(col("text"))).as("sh"))
    b.write("regs",
      Sketches.hllRegisters(sh, col("sh"), col("source")).hint("rebalance"))
  }

  /** Per-source registers `(g, idx, mr)`. */
  def registers(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir, "regs")
}
