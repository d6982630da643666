package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable engine query: a Spark implementation plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle SQL over
  * the same parquet tables. The driver hash-compares the two at
  * sf0.01 (`CORRECTNESS_r{N}.json`). Queries without an oracle get a
  * weaker rows-only check.
  *
  * Cache contract: queries may `persist()` intermediates that several
  * branches of their own plan consume; they do NOT unpersist (the
  * returned DataFrame is lazy — the persisted blocks are only
  * populated when the caller executes it). Every harness that runs
  * registry queries (Bench, Verify, tools.Profile) MUST call
  * `spark.sqlContext.clearCache()` after consuming each query's
  * result, or a long session accumulates every query's leftover
  * blocks. */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)

/** Central registry — every operator from SURVEY.md §2 plus the
  * training-data-pipeline extensions registers here; `SparkEntry`
  * exposes it to the driver harness. */
object Registry {
  def all: Seq[Q] =
    graft.queries.CoreQueries.all ++
      graft.queries.PipelineQueries.all ++
      graft.queries.AnalyticsQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.DedupQueries.all ++
      graft.queries.SuffixQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.CurationQueries.all ++
      graft.queries.PlanningQueries.all ++
      graft.queries.LayoutQueries.all ++
      graft.queries.GraphQueries.all ++
      graft.queries.SequenceQueries.all ++
      graft.queries.RelationalQueries.all ++
      graft.queries.SignalQueries.all ++
      graft.queries.ClassifierQueries.all ++
      graft.queries.RobustQueries.all ++
      graft.queries.PrivacyQueries.all
}
