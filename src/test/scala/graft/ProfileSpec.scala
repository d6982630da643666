package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** `Profile` on the shared test session, which it must leave running. */
class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"
  // cheap at sf0.001, and runs connected components
  private val query = "q_graph_components"

  private def profile(args: String*): Seq[String] = {
    val lines = new ConcurrentLinkedQueue[String]()
    Profile.run(spark, dir, args, lines.add(_): Unit)
    assert(!spark.sparkContext.isStopped)
    lines.asScala.toSeq
  }

  test("warm run, then timed reps: job and stage lines, a total and cc rounds per rep") {
    val out = profile("--reps", "2", query)
    assert(out.count(_.startsWith(s"[total] $query rep ")) == 2, out.mkString("\n"))
    assert(out.exists(_.startsWith("[job]")) && out.exists(_.startsWith("[stage]")))
    // AQE's stage jobs are named by their SQL execution, not by the
    // call site of the thread AQE submits them from
    assert(!out.exists(l => l.startsWith("[job]") && l.contains("withThreadLocalCaptured")),
      out.mkString("\n"))
    val cc = out.filter(_.matches(s"\\[cc\\] $query rounds=[1-9][0-9]*"))
    assert(cc.size == 2, out.mkString("\n"))
    assert(!out.exists(_.startsWith("[failed]")))
  }

  test("--cold: wipes the artifacts, no warm run, the rep still runs") {
    val out = profile("--cold", query)
    assert(out.count(_.startsWith(s"[total] $query rep 1")) == 1, out.mkString("\n"))
    assert(!out.exists(_.startsWith("[failed]")))
  }

  test("--reps 0 --plan: only the formatted plan") {
    val out = profile("--reps", "0", "--plan", query)
    assert(!out.exists(l => l.startsWith("[total]") || l.startsWith("[job]")))
    assert(out.exists(_.contains("== Physical Plan ==")), out.mkString("\n"))
  }

  test("an unknown query or flag is refused before anything runs") {
    intercept[IllegalArgumentException](profile("q_no_such_query"))
    intercept[IllegalArgumentException](profile("--fast", query))
  }
}
