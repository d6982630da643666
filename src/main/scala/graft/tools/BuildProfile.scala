package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-job wall-time profile of one ARTIFACT BUILD: wipes the
  * artifact root, attaches the job listener, and runs the named
  * build step cold — the complement of [[JobProfile]], which warms
  * artifacts up before measuring. Usage:
  * runMain graft.tools.BuildProfile <suffix|lrsplain|lrsstrided|nnd|ivf> [sfDir]
  */
object BuildProfile {
  def main(args: Array[String]): Unit = {
    val which = args(0)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-buildprofile")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.Artifacts.wipe()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
        starts.put(js.jobId, (System.nanoTime(), desc.take(110)))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc) =>
          println(f"[job] ${je.jobId}%3d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $desc")
        }
      }
    })
    val t0 = System.nanoTime()
    which match {
      case "suffix" =>
        graft.operators.StridedSuffixArtifact.materialize(spark, sfDir)
      case "lrsplain" =>
        graft.operators.StridedSuffixArtifact.materialize(spark, sfDir)
        val t1 = System.nanoTime()
        graft.operators.PlainLrsPairsArtifact.materialize(spark, sfDir)
        println(f"[phase] lrsplain alone ${(System.nanoTime() - t1) / 1e9}%.2f s")
      case "lrsstrided" =>
        graft.operators.StridedSuffixArtifact.materialize(spark, sfDir)
        val t1 = System.nanoTime()
        graft.operators.StridedLrsPairsArtifact.materialize(spark, sfDir)
        println(f"[phase] lrsstrided alone ${(System.nanoTime() - t1) / 1e9}%.2f s")
      case "nnd" =>
        graft.operators.NndGraphArtifact.materialize(spark, sfDir)
      case other => sys.error(s"unknown build $other")
    }
    println(f"[total] $which ${(System.nanoTime() - t0) / 1e9}%.3f s")
    spark.stop()
  }
}
