package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for all suites. */
object TestSpark {

  /** Per-JVM checkpoint root, for suites that need an explicit
    * per-query checkpoint location (e.g. restart-recovery tests reusing
    * one checkpoint across two query incarnations). Streaming
    * checkpoints cannot be reused across runs (Spark refuses to recover
    * a stateful query from a prior run's checkpoint), so the root is a
    * fresh temp dir per test JVM, deleted on exit. */
  def checkpointDir: String = checkpointRoot

  private val checkpointRoot: String = deletedOnExit(
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm" else sys.props("java.io.tmpdir"),
    "graft-ckpt-")

  /** A fresh directory named `prefix…` for one test's files, under a
    * per-JVM root in `java.io.tmpdir` that is deleted on exit, as the
    * checkpoint root is. */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(tempRoot), prefix)
      .toFile.getAbsolutePath

  private lazy val tempRoot: String = deletedOnExit(sys.props("java.io.tmpdir"), "graft-tmp-")

  /** A fresh temp dir under `base`, deleted with its contents on exit. */
  private def deletedOnExit(base: String, prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), prefix).toFile
    sys.addShutdownHook(deleteRecursively(dir))
    dir.getAbsolutePath
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  lazy val spark: SparkSession = {
    // a fixed width, not Sessions.cpus: every suite runs the same
    // plans on any host
    val s = Sessions.builder("graft-test", 4)
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      // Spark 4.1's checksum checkpoint-file manager can deadlock on
      // state-store delta commit in rapid micro-batch tests (tasks
      // wait forever in ChecksumCancellableFSDataOutputStream.close)
      .config("spark.sql.streaming.checkpoint.fileChecksum.enabled", "false")
      // No state-store maintenance during a run: it snapshots and
      // cleans up on a background thread beside rapid-trigger tests.
      // Maintenance is also what unloads the stores of stopped queries,
      // so each streaming suite unloads them when it ends
      // (`StreamingSuite`); else every RocksDB store a query opened
      // keeps its files open until the JVM exits.
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
      .config("spark.sql.streaming.minBatchesToRetain", "2")
      .config("spark.sql.streaming.checkpointLocation", checkpointRoot)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** A suite that runs streaming queries: when it ends, the state stores
  * its stopped queries loaded are closed (`TestSpark`'s maintenance
  * interval never unloads them). */
trait StreamingSuite extends BeforeAndAfterAll { this: Suite =>
  override protected def afterAll(): Unit =
    try StateStore.stop() finally super.afterAll()
}
