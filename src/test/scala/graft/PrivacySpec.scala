package graft

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed fixture for the privacy-audit tier. The fixture is
  * built so a WRONG dominant-type tie-break changes the k-anonymity
  * banding: user 1 ties click/view (2 each) and must resolve to
  * "click" (max count, ties to the lexicographically smallest type),
  * landing in the same quasi-identifier group as the genuinely
  * click-dominant user 2. A max-tie-break ("view") would split them
  * into singletons and flip every asserted row. */
class PrivacySpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def ts(day: Int): Timestamp =
    Timestamp.valueOf(f"2024-03-$day%02d 12:00:00")

  private lazy val dir: String = {
    import spark.implicits._
    val d = graft.TestSpark.tempDir("privacy_spec")
    val rows = Seq(
      // user 1: 2 clicks + 2 views (tie), 2 days, 40000 cents
      (1L, ts(1), 1L, "click", 100.0, "{}"),
      (2L, ts(1), 1L, "click", 100.0, "{}"),
      (3L, ts(2), 1L, "view", 100.0, "{}"),
      (4L, ts(2), 1L, "view", 100.0, "{}"),
      // user 2: 3 clicks + 1 view, 2 days, 120000 cents
      (5L, ts(1), 2L, "click", 300.0, "{}"),
      (6L, ts(1), 2L, "click", 300.0, "{}"),
      (7L, ts(2), 2L, "click", 300.0, "{}"),
      (8L, ts(2), 2L, "view", 300.0, "{}"),
      // user 3: one purchase — a singleton group
      (9L, ts(3), 3L, "purchase", 5.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(s"$d/events.parquet")
    d
  }

  private def run(name: String) =
    Registry.all.find(_.name == name).get.run(spark, dir)

  test("q_profile_kanon bands quasi-identifier groups with the pinned tie-break") {
    import spark.implicits._
    // profile: u1 (click,0,0) via tie-break, u2 (click,0,0), u3 (purchase,0,0)
    val rows = run("q_profile_kanon")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(("1", 1L, 1L, 333L), ("2-4", 1L, 2L, 666L)))
  }

  test("q_privacy_ladder reports singleton risk per generalization level") {
    import spark.implicits._
    val rows = run("q_privacy_ladder")
      .as[(Int, Long, Long, Long)].collect().toSeq
    assert(rows == Seq((0, 2L, 1L, 333L), (1, 2L, 1L, 333L),
      (2, 2L, 1L, 333L), (3, 1L, 0L, 0L)))
  }

  test("q_profile_ldiv separates disclosed (l=1) groups from diverse ones") {
    import spark.implicits._
    // (click,0): spend buckets {0,1} -> l=2; (purchase,0): {0} -> l=1
    val rows = run("q_profile_ldiv")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(rows == Seq(("1", 1L, 1L, 333L), ("2", 1L, 2L, 666L)))
  }
}
