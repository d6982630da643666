package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** A materialized layout artifact, declared: a derived structure
  * written once as parquet `parts` under one root and consumed by many
  * registry queries (the co-occurrence edge list, the IVF index, …).
  * Each artifact is an object extending this class. The root is keyed
  * by the source directory, a fingerprint of `sourceTable` (see
  * [[Artifacts.path]]) and `keySuffix`, which pins the build
  * parameters — so neither a regenerated dataset nor a parameter change
  * can ever serve a stale artifact.
  *
  * The constructor arguments are evaluated before the extending
  * object's own vals are initialized: a `keySuffix` built from a member
  * must use a constant (`final val K = 5`) or a value defined outside
  * the object, or it reads the member's default (0 or null).
  *
  * `build` derives the parts from the source directory and writes each
  * one through [[Artifact.Build.write]]. [[Artifacts]] runs it at most
  * once per root: every accessor and `materialize` is
  * skip-if-complete, and the first reader builds. A build may read
  * other artifacts (the chained IVF → kNN-edges → NN-descent tiers);
  * roots form a DAG, so the per-root locks cannot deadlock. */
abstract class Artifact(tag: String, sourceTable: String, keySuffix: String,
    parts: Seq[String]) {

  protected def build(b: Artifact.Build): Unit

  def path(dir: String): String =
    Artifacts.path(dir, sourceTable, tag) + keySuffix

  /** Build the artifact unless it is complete; returns its root. */
  def materialize(spark: SparkSession, dir: String): String =
    Artifacts.ensure(spark, dir, this)

  /** One part as a (memoized) parquet relation, building first if
    * absent. */
  def read(spark: SparkSession, dir: String, part: String): DataFrame =
    Artifacts.read(spark, s"${materialize(spark, dir)}/$part")

  /** The first row of a one-row part, memoized per session and root. */
  def first(spark: SparkSession, dir: String, part: String): Row =
    Artifacts.first(spark, s"${materialize(spark, dir)}/$part")

  private[operators] def run(b: Artifact.Build): Unit = build(b)
}

object Artifact {

  /** What a build sees: the session and the source directory; parts
    * go to the artifact's root. */
  final class Build(val spark: SparkSession, val dir: String,
      root: String) {

    /** (Over)write one part, optionally partitioned by columns. */
    def write(part: String, df: DataFrame, partitionBy: String*): Unit =
      df.write.mode("overwrite").partitionBy(partitionBy: _*)
        .parquet(s"$root/$part")

    /** Read back a part this build has already written. */
    def read(part: String): DataFrame =
      Artifacts.read(spark, s"$root/$part")
  }
}

/** The one runtime behind every [[Artifact]]: fingerprinted roots,
  * one lock per root, skip-if-complete builds, and the memoized
  * relations consumers read through. */
object Artifacts {

  /** Directory holding every artifact root. */
  val Root: String = s"${System.getProperty("java.io.tmpdir")}/graft_artifacts"

  /** Written at the root after a build returns: an artifact whose build
    * threw (or is still running) has no marker, so it is incomplete
    * and the next reader builds it again. */
  private val Marker = "_COMPLETE"

  private val rowCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Row]()
  private val locks =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  /** The part at `path`, through the one relation memo
    * ([[graft.Tables.relation]]): consumers re-call their accessor per
    * branch. */
  def read(spark: SparkSession, path: String): DataFrame =
    graft.Tables.relation(spark, path)(spark.read.parquet(path))

  private[operators] def first(spark: SparkSession, path: String): Row =
    rowCache.computeIfAbsent((spark, path), _ => read(spark, path).head())

  /** Drop every cached relation under `root` (a cached FileIndex would
    * otherwise point at part files a rebuild deletes). */
  def invalidate(root: String): Unit = {
    graft.Tables.forget(root)
    rowCache.keySet.removeIf(_._2.startsWith(root))
  }

  /** Delete `root` (default: every artifact) and its cached relations;
    * the next read rebuilds. */
  def wipe(root: String = Root): Unit = withLock(root) {
    invalidate(root)
    val top = Paths.get(root)
    if (Files.exists(top)) Using.resource(Files.walk(top)) { s =>
      s.iterator.asScala.toSeq.reverse.foreach(Files.delete)
    }
  }

  /** Run `f` holding `root`'s lock — the lock every build of that root
    * takes. */
  private[operators] def withLock[T](root: String)(f: => T): T =
    locks.computeIfAbsent(root, _ => new Object).synchronized(f)

  /** True iff a build of `root` has returned. */
  def complete(root: String): Boolean = new java.io.File(root, Marker).exists()

  /** Build `a` for `dir` unless complete; returns its root. The
    * marker is checked again under the root's lock, so concurrent
    * readers build once. */
  private[operators] def ensure(spark: SparkSession, dir: String,
      a: Artifact): String = {
    val root = a.path(dir)
    if (!complete(root)) withLock(root) {
      if (!complete(root)) {
        invalidate(root)
        a.run(new Artifact.Build(spark, dir, root))
        Files.createDirectories(Paths.get(root))
        new java.io.File(root, Marker).createNewFile()
      }
    }
    root
  }

  /** Hash of the sorted (relative path, size, mtime) triples of every
    * file under `<dir>/<table>.parquet`. */
  private[operators] def fingerprint(dir: String, table: String): String = {
    val base = Paths.get(dir, s"$table.parquet")
    val triples =
      if (!Files.exists(base)) Seq.empty[String]
      else Using.resource(Files.walk(base)) { s =>
        s.iterator.asScala.filter(Files.isRegularFile(_)).map { f: Path =>
          s"${base.relativize(f)}\t${Files.size(f)}\t" +
            Files.getLastModifiedTime(f).toMillis
        }.toSeq.sorted
      }
    val md = java.security.MessageDigest.getInstance("SHA-256")
    triples.foreach(t => md.update(s"$t\n".getBytes(UTF_8)))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Root directory for one artifact: `<tag>` names the artifact
    * family, `table` is the source table whose fingerprint keys it. */
  def path(dir: String, table: String, tag: String): String = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    s"$Root/${tag}_${safe}_${fingerprint(dir, table)}"
  }
}
