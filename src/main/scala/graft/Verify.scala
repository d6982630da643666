package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Wall-clock matters here: the driver runs this inside a time budget,
  * and a 324-query registry on 4 local cores blew it in round 10 (empty
  * CORRECTNESS_r10.json). Two fixes: (a) one local thread per core
  * (`Sessions.cpus`), as Bench; (b) run queries CONCURRENTLY in
  * small batches (SPARK_GRAFT_VERIFY_PAR, default 4 threads) — a
  * single sf0.01 query leaves most cores idle during planning and
  * small stages. Cache hygiene moves to batch boundaries:
  * `clearCache()` mid-batch would drop a sibling query's persisted
  * intermediates mid-execution, so the cache is cleared only after a
  * whole batch completes (artifact builds take a lock per artifact
  * root and skip a complete artifact, so two queries racing to
  * materialize the same artifact build it once). */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [queryName...] — trailing names restrict the
    // dump to those queries (local iteration); the driver passes two.
    val sfDir = args(0)
    val outDir = args(1)
    val only = args.drop(2).toSet
    val par = sys.env.get("SPARK_GRAFT_VERIFY_PAR")
      .flatMap(_.toIntOption).filter(_ > 0).getOrElse(4)
    val spark = Sessions.local("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val t0 = System.nanoTime()
    val selected = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.isEmpty || only(name) }
    val pool = Executors.newFixedThreadPool(par)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    var done = 0
    def dump(name: String, fn: (SparkSession, String)
        => org.apache.spark.sql.DataFrame): Unit = {
      val q0 = System.nanoTime()
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      val dt = (System.nanoTime() - q0) / 1e9
      Verify.synchronized { done += 1 }
      System.err.println(
        f"[verify] $name ok ${dt}%.1fs ($done/${selected.size})")
    }
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    selected.grouped(par * 2).foreach { batch =>
      val fs = batch.map { case (name, fn) =>
        Future {
          try dump(name, fn)
          catch { case e: Throwable =>
            failed.add(name)
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
        }
      }
      fs.foreach(f => Await.ready(f, Duration.Inf))
      // drop the batch's persisted intermediates: a 324-query session
      // otherwise accumulates every query's cache blocks (see Bench).
      // Safe here: no query from this batch is still running.
      spark.sqlContext.clearCache()
    }
    pool.shutdown()
    // serial second chance: anything that failed in the concurrent
    // phase (e.g. a transient environmental hiccup) re-runs alone —
    // a retry that still fails is a real defect and stays logged.
    val byName = selected.toMap
    failed.toArray(Array.empty[String]).foreach { name =>
      try { dump(name, byName(name)); spark.sqlContext.clearCache() }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed on retry: ${e.getMessage}")
      }
    }
    System.err.println(
      f"[verify] total ${(System.nanoTime() - t0) / 1e9}%.1fs for ${selected.size} queries")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
