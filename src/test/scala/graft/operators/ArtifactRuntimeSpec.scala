package graft.operators

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Contracts of the artifact runtime itself ([[Artifacts]]): the
  * fingerprint tells apart table versions a size/mtime summary cannot,
  * concurrent readers build an artifact once, and a failed build
  * leaves the artifact incomplete for the next reader to retry. */
class ArtifactRuntimeSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark

  private def tmp(prefix: String): String =
    graft.TestSpark.tempDir(prefix)

  /** Writes `<dir>/t.parquet/<name>` files of the given sizes and
    * mtimes. */
  private def table(dir: String, files: Seq[(String, Int, Long)]): Unit = {
    val t = new java.io.File(dir, "t.parquet")
    Option(t.listFiles()).getOrElse(Array.empty).foreach(_.delete())
    t.mkdirs()
    files.foreach { case (name, size, mtime) =>
      val f = new java.io.File(t, name)
      java.nio.file.Files.write(f.toPath, Array.fill[Byte](size)(1))
      assert(f.setLastModified(mtime))
    }
  }

  test("same summed size and max mtime, different files: different paths") {
    val t0 = 1700000000000L
    val v1 = Seq(("a", 10, t0), ("b", 20, t0 - 5000))
    val v2 = Seq(("a", 20, t0 - 5000), ("b", 10, t0))
    val (dirA, dirB) = (tmp("fpA"), tmp("fpB"))
    table(dirA, v1)
    table(dirB, v2)
    assert(Artifacts.fingerprint(dirA, "t") != Artifacts.fingerprint(dirB, "t"))
    // the same source dir regenerated in place must move to a new root
    val before = Artifacts.path(dirA, "t", "x")
    table(dirA, v2)
    assert(Artifacts.path(dirA, "t", "x") != before)
    table(dirA, v1)
    assert(Artifacts.path(dirA, "t", "x") == before, "stable for equal files")
  }

  test("concurrent reads of one spec build it once") {
    val dir = tmp("artconc")
    val builds = new AtomicInteger()
    val spec = new Artifact("conc", "t", "") {
      protected def build(b: Artifact.Build): Unit = {
        builds.incrementAndGet()
        Thread.sleep(300) // keep the build open while the others arrive
        b.write("p", b.spark.range(5).toDF("id"))
      }
    }
    val start = new java.util.concurrent.CountDownLatch(1)
    val sums = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads = (1 to 4).map { _ =>
      val th = new Thread(() => {
        start.await()
        sums.add(spec.read(spark, dir, "p").collect().map(_.getLong(0)).sum)
      })
      th.start(); th
    }
    start.countDown()
    threads.foreach(_.join(120000))
    try {
      assert(builds.get == 1)
      assert(sums.size == 4 && sums.toArray.forall(_ == 10L))
    } finally Artifacts.wipe(spec.path(dir))
  }

  test("a build that throws rethrows, stays incomplete, and is retried") {
    val dir = tmp("artfail")
    val builds = new AtomicInteger()
    val spec = new Artifact("fail", "t", "") {
      protected def build(b: Artifact.Build): Unit = {
        b.write("p", b.spark.range(3).toDF("id"))
        if (builds.incrementAndGet() == 1) sys.error("boom")
        b.write("q", b.spark.range(2).toDF("id"))
      }
    }
    val root = spec.path(dir)
    try {
      val e = intercept[RuntimeException](spec.read(spark, dir, "q"))
      assert(e.getMessage == "boom")
      assert(!Artifacts.complete(root), "a failed build must not complete")
      assert(spec.read(spark, dir, "q").count() == 2L)
      assert(builds.get == 2)
      assert(Artifacts.complete(root))
      // complete now: later reads and materialize skip the build
      spec.materialize(spark, dir)
      assert(spec.read(spark, dir, "p").count() == 3L)
      assert(builds.get == 2)
    } finally Artifacts.wipe(root)
  }
}
