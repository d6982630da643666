package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loader for the driver-provided testdata layout
  * (`TESTDATA.md`): one parquet file per table under a scale-factor dir.
  *
  * All engine queries load inputs through here so the scan always goes
  * through the DataFrame reader (predicate pushdown + column pruning on
  * parquet are then free via Catalyst).
  */
object Tables {
  // Memoized RESOLVED relation per (session, parquet path), for the
  // tables here and every artifact part (`Artifacts.read`) — round 13.
  // `spark.read.parquet` re-lists the directory and re-reads the
  // parquet footer for schema inference on EVERY call, so each of the
  // ~337 registry queries paid 1-2 driver-side listing/footer jobs per
  // execution before any data moved (guide §6: file listing is cached
  // per *relation*; reuse the relation). The cached object is a lazy
  // logical plan — every action still scans the parquet data itself,
  // so this reuses metadata only, never results.
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** The relation at `path`, resolved by `load` on this session's
    * first call only. */
  def relation(spark: SparkSession, path: String)(load: => DataFrame): DataFrame =
    relCache.computeIfAbsent((spark, path), _ => load)

  /** Drop every memoized relation whose path starts with `prefix` (a
    * cached FileIndex would otherwise point at deleted files). */
  def forget(prefix: String): Unit =
    relCache.keySet.removeIf(_._2.startsWith(prefix))

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relation(spark, s"$sfDir/$name.parquet")(load(spark, sfDir, name))

  private def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    // events.parquet has shipped with two physical `ts` encodings across
    // testdata generations: TIMESTAMP(NANOS) (which Spark's vectorized
    // reader rejects — read nanos as long and floor-divide to micros,
    // matching DuckDB's own ns -> us truncation) and plain TIMESTAMP(US)
    // without UTC adjustment (which Spark reads as TIMESTAMP_NTZ — cast
    // to session-TZ timestamp; the session TZ is pinned UTC so the cast
    // is value-preserving). Branch on the landed type so both work.
    // The nanos-as-long read needs `spark.sql.legacy.parquet.nanosAsLong`,
    // which `Sessions.builder` sets; a load never changes the session.
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      df.schema("ts").dataType match {
        case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
    } else df
  }

  def events(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "events")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
