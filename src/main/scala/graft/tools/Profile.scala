package graft.tools

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.util.control.NonFatal

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import graft.operators.{Artifacts, Clusters}

/** Job-by-job profile of registry queries on `SPARK_GRAFT_SF_DIR`:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sfDir> tools/run.sh graft.tools.Profile [--cold] [--reps N] [--plan] [query...]
  * }}}
  *
  * With no query names it covers every registry query. Each query runs
  * once warm, unmeasured, then `N` timed reps (default 1). During a rep
  * one SparkListener prints a `[job]` line per Spark job and a `[stage]`
  * line per completed stage; the rep ends with `[total]`, and with
  * `[cc] rounds= converged=` when it ran connected components.
  *  - `--cold` wipes every artifact and skips the warm run, so the first
  *    rep of a query that reads an artifact profiles that artifact's
  *    build.
  *  - `--plan` prints the formatted physical plan after the reps;
  *    `--reps 0 --plan` only plans.
  * The cache is cleared after every run (the [[graft.Q]] contract); a
  * query that fails is reported and the next one runs.
  */
object Profile {

  /** Local property that marks a timed rep's jobs. */
  private val Tag = "graft.profile"

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))
    val spark = graft.Sessions.local("graft-profile")
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }

  /** Profile on `spark`, which the caller owns. Every line, the
    * listener's included, goes to `out`. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String],
      out: String => Unit = println(_)): Unit = {
    var cold = false
    var plan = false
    var reps = 1
    val names = Seq.newBuilder[String]
    val it = args.iterator
    while (it.hasNext) it.next() match {
      case "--cold" => cold = true
      case "--plan" => plan = true
      case "--reps" => reps = it.nextOption().flatMap(_.toIntOption).filter(_ >= 0)
        .getOrElse(throw new IllegalArgumentException("--reps needs a count >= 0"))
      case flag if flag.startsWith("--") =>
        throw new IllegalArgumentException(s"unknown flag $flag")
      case name => names += name
    }
    val wanted = names.result()
    val queries =
      if (wanted.isEmpty) graft.Registry.all
      else wanted.map(n => graft.Registry.all.find(_.name == n)
        .getOrElse(throw new IllegalArgumentException(s"unknown query $n")))

    if (cold) Artifacts.wipe()
    val sc = spark.sparkContext
    val listener = new JobLines(out)
    sc.addSparkListener(listener)
    try queries.foreach { q =>
      def execute(): Unit =
        try q.run(spark, sfDir).count() finally spark.sqlContext.clearCache()
      try {
        if (!cold && reps > 0) execute()
        (1 to reps).foreach { rep =>
          Clusters.lastRounds = 0
          sc.setLocalProperty(Tag, s"${q.name} rep $rep")
          val t0 = System.nanoTime()
          try execute() finally sc.setLocalProperty(Tag, null)
          val sec = (System.nanoTime() - t0) / 1e9
          listener.drain(sc)
          out(f"[total] ${q.name} rep $rep $sec%.3f s")
          if (Clusters.lastRounds > 0) out(s"[cc] ${q.name} " +
            s"rounds=${Clusters.lastRounds} converged=${Clusters.lastConverged}")
        }
        if (plan) {
          out(s"========== ${q.name} ==========")
          try out(q.run(spark, sfDir).queryExecution
            .explainString(ExplainMode.fromString("formatted")))
          finally spark.sqlContext.clearCache()
        }
      } catch {
        case NonFatal(e) => out(s"[failed] ${q.name} ${e.getClass.getSimpleName}: " +
          Option(e.getMessage).getOrElse("").take(300))
      }
    } finally sc.removeSparkListener(listener)
  }

  /** Prints the jobs that carry the [[Tag]] local property, and their
    * completed stages; threads started by the tagged thread inherit the
    * tag. A job is named by its `spark.job.description`, else by the
    * description of the SQL execution it runs in (the action's call
    * site: AQE submits a query's stage jobs from its own threads, whose
    * call sites all read `CompletableFuture`), else by its first
    * stage. */
  private final class JobLines(out: String => Unit) extends SparkListener {
    private val Drain = "graft.profile.drain"
    private val jobs = new ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
    private val stages = ConcurrentHashMap.newKeySet[Int]()
    private val executions = new ConcurrentHashMap[Long, String]()
    @volatile private var drained = new CountDownLatch(0)

    /** Returns once every event posted before the call has reached this
      * listener (events arrive asynchronously, in order): runs one tiny
      * job and waits for its end. */
    def drain(sc: SparkContext): Unit = {
      drained = new CountDownLatch(1)
      sc.setLocalProperty(Tag, Drain)
      try sc.parallelize(Seq(0), 1).count() finally sc.setLocalProperty(Tag, null)
      drained.await(30, TimeUnit.SECONDS): Unit
    }

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(Tag)))
        .foreach { tag =>
          val desc = if (tag == Drain) Drain else {
            js.stageIds.foreach(stages.add)
            val d = Option(js.properties.getProperty("spark.job.description"))
              .orElse(Option(js.properties.getProperty(SQLExecution.EXECUTION_ID_KEY))
                .flatMap(id => Option(executions.get(id.toLong))))
              .getOrElse(js.stageInfos.headOption.map(_.name).getOrElse("?"))
            s"$tag  ${d.take(110)}"
          }
          jobs.put(js.jobId, (js.time, desc, js.stageIds))
        }

    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.remove(je.jobId)).foreach { case (t0, desc, stageIds) =>
        if (desc == Drain) drained.countDown()
        else {
          stageIds.foreach(stages.remove)
          out(f"[job] ${je.jobId}%4d ${je.time - t0}%7d ms  $desc")
        }
      }

    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => executions.put(e.executionId, e.description)
      case e: SparkListenerSQLExecutionEnd => executions.remove(e.executionId)
      case _ =>
    }

    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      if (stages.contains(si.stageId)) {
        val ms = (for (a <- si.completionTime; b <- si.submissionTime) yield a - b)
          .getOrElse(-1L)
        out(f"[stage] ${si.stageId}%4d $ms%7d ms ${si.numTasks}%5d tasks  ${si.name.take(100)}")
      }
    }
  }
}
