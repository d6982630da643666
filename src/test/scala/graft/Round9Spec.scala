package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for the round-9 ADVICE fixes: the JPEG dimension
  * overflow guard, the scene-rollup LEFT join, the unify impl
  * override, and the Bradley-Terry duel-reduction cache. */
class Round9Spec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  // --- ADVICE #1: crafted SOF0 dimensions must degrade, never throw ---

  /** Patch a valid synthesized JPEG's SOF0 height/width to `dim` and
    * pad the tail so the entropy-size guard passes — the crafted input
    * the fuzzer can't reach (corruptions of tiny fixtures fail the
    * entropy guard before allocation). */
  private def craftedJpeg(dim: Int, padBytes: Int): Array[Byte] = {
    val base = graft.operators.Jpeg.synthesizeJpeg(7L, 100)
    // locate the SOF0 marker (FF C0): len(2) prec(1) h(2) w(2)
    var sof = -1
    var i = 2
    while (sof < 0 && i + 1 < base.length) {
      if ((base(i) & 0xff) == 0xff && (base(i + 1) & 0xff) == 0xc0) sof = i
      i += 1
    }
    assert(sof > 0, "fixture has a SOF0 marker")
    val out = java.util.Arrays.copyOf(base, base.length + padBytes)
    val d = sof + 5 // after marker(2) + len(2) + precision(1)
    out(d) = ((dim >> 8) & 0xff).toByte; out(d + 1) = (dim & 0xff).toByte
    out(d + 2) = ((dim >> 8) & 0xff).toByte; out(d + 3) = (dim & 0xff).toByte
    out
  }

  test("jpeg: 32768x32768 SOF0 with enough entropy bytes degrades to null (no ~8.6GB allocation)") {
    // blocks = 4096^2 = 16.7M, so 5MB of entropy passes the *4 guard;
    // without the pixel cap this attempts an ~8.6 GB plane allocation
    val crafted = craftedJpeg(32768, 5 * 1024 * 1024)
    assert(graft.operators.Jpeg.decode(crafted) == null)
  }

  test("jpeg: 65504x65504 SOF0 (Int-overflow plane size) degrades to null (no AIOOBE)") {
    // 8188^2 blocks * 64 overflows 2^32 toward a tiny/negative array —
    // pre-fix the first MCU arraycopy throws; 17MB passes the guard
    val crafted = craftedJpeg(65504, 17 * 1024 * 1024)
    assert(graft.operators.Jpeg.decode(crafted) == null)
  }

  // --- ADVICE #2: degraded clips must surface in the scene rollup ---

  test("frameSceneRollup: a degraded clip (no pairs) still appears with n_bad > 0") {
    import spark.implicits._
    // doc 1: healthy 2-frame clip; doc 2: degraded (single ok=false row)
    val fh = Seq(
      (1L, 0, true), (1L, 1, true),
      (2L, -1, false)).toDF("id", "frame", "ok")
    val pairs = Seq((1L, 1L, 1L, 0L))
      .toDF("id", "n_pairs", "n_cuts", "n_static")
    val out = graft.operators.Video.frameSceneRollup(fh, pairs)
      .select("n_frames", "n_docs", "n_pairs", "n_cuts", "n_static", "n_bad")
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // degraded doc: n_frames = -1 + 1 = 0, zero pairs, bad = 1
    assert(out.contains((0L, 1L, 0L, 0L, 0L, 1L)),
      s"degraded clip missing from rollup: ${out.mkString(", ")}")
    assert(out.contains((2L, 1L, 1L, 1L, 0L, 0L)))
  }

  // --- ADVICE #3: explicit unify impl override pins the checkpoint path ---

  test("unify: impl override dispatches regardless of provider conf; bad impl throws") {
    import graft.streaming._
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[SourceRecord]
    val events = OrderUnifyPipeline.parseAndCanonicalize(input.toDF())
    def planOf(impl: String): String =
      OrderUnifyPipeline.unify(events, impl = impl)
        .queryExecution.analyzed.toString()
    // "auto" builds transformWithState; "fmgws" pins the comparison path
    assert(planOf("auto").contains("TransformWithState"))
    assert(!planOf("auto").contains("FlatMapGroupsWithState"))
    assert(planOf("fmgws").contains("FlatMapGroupsWithState"))
    assert(!planOf("fmgws").contains("TransformWithState"))
    Seq("tws", "nope").foreach { impl =>
      intercept[IllegalArgumentException] {
        OrderUnifyPipeline.unify(events, impl = impl)
      }
    }
  }

  // --- ADVICE #4: BT duel reduction is cached, not re-scanned per MM round ---

  test("BradleyTerry.strengths: win matrix is cached (InMemoryTableScan in plan) and exact") {
    import spark.implicits._
    val wins = Seq(("a", "b", 6L), ("b", "a", 2L), ("a", "c", 3L),
      ("c", "a", 1L), ("b", "c", 4L)).toDF("winner", "loser", "n")
    val out = graft.operators.BradleyTerry.strengths(wins, iters = 2)
    val plan = out.queryExecution.executedPlan.toString()
    assert(plan.contains("InMemoryTableScan"),
      "games/wTot must be persisted — every MM round otherwise re-runs the corpus-sized duel reduction")
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // wins: a=9, b=6, c=1; games: a=12, b=12, c=8
    assert(rows.toSeq == Seq(("a", 9L, 12L), ("b", 6L, 12L), ("c", 1L, 8L)))
  }
}
