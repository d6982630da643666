package graft

import org.apache.spark.sql.SparkSession

/** The one local `SparkSession` factory. Every main builds its session
  * here, so the UTC / UI / shuffle settings are written once and the
  * core count follows `SPARK_GRAFT_CPUS` (default: this JVM's
  * available processors). */
object Sessions {

  /** `SPARK_GRAFT_CPUS` as a positive integer, or the available
    * processors when it is unset. */
  def cpus: Int = cpusFrom(sys.env)

  def cpusFrom(env: Map[String, String]): Int = env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(v) => v.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
  }

  /** The shared base settings: `local[cpus]`, one shuffle partition per
    * core, AQE on, UTC session time zone, UI off, the RocksDB
    * state-store provider the unify operator's `transformWithState`
    * needs, and parquet TIMESTAMP(NANOS) read as long, which
    * `Tables` converts to microseconds. */
  def builder(app: String, cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The base settings on `local[Sessions.cpus]`, at log level ERROR. */
  def local(app: String): SparkSession = {
    val spark = builder(app, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
