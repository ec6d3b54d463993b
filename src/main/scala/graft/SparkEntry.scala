package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query (driver smoke-checks rows>0 at sf0.001): the
    * reference notebook's backfill re-extraction flow (SURVEY.md §3.3) —
    * metadata ⋈ documents → filter tasaciones → rule extractor →
    * refine_dates → last-writer-wins merge. Same code path as the
    * `etl_metadata_merge` oracle query. */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.EtlQueries.queries("etl_metadata_merge")(
      spark, "/root/testdata/sf0.001")
  /** One entry per implemented operator from SURVEY.md §2 (etl_*) plus
    * the north-star LLM-pipeline operator families (dedup_*, ann_*,
    * text_*, events_*, ...). Each face first tells the cache pool which
    * dataset it serves, so a dataset switch frees the previous
    * dataset's relation entries ([[graft.pipeline.CachePool.serving]]).
    * Names bound to one face function share one wrapper. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = served
  private lazy val served = faces.groupBy(_._2).flatMap { case (face, named) =>
    val serve = (s: SparkSession, d: String) => {
      graft.pipeline.CachePool.serving(d)
      face(s, d)
    }
    named.keys.map(_ -> serve)
  }
  private def faces: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.EtlQueries.queries ++
      graft.queries.SinkQueries.queries ++
      graft.queries.AnalyticsQueries.queries ++
      graft.queries.PartSuppQueries.queries ++
      graft.queries.SqlQueries.queries ++
      graft.pipeline.DedupQueries.queries ++
      graft.pipeline.SimilarityQueries.queries ++
      graft.pipeline.TextQueries.queries ++
      graft.pipeline.SearchQueries.queries ++
      graft.pipeline.EventQueries.queries ++
      graft.pipeline.BlockQueries.queries ++
      graft.pipeline.MultimodalQueries.queries ++
      graft.queries.InfraQueries.queries
  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.EtlQueries.oracle ++
      graft.queries.SinkQueries.oracle ++
      graft.queries.AnalyticsQueries.oracle ++
      graft.queries.PartSuppQueries.oracle ++
      graft.queries.SqlQueries.oracle ++
      graft.pipeline.DedupQueries.oracle ++
      graft.pipeline.SimilarityQueries.oracle ++
      graft.pipeline.TextQueries.oracle ++
      graft.pipeline.SearchQueries.oracle ++
      graft.pipeline.EventQueries.oracle ++
      graft.pipeline.BlockQueries.oracle ++
      graft.pipeline.MultimodalQueries.oracle ++
      graft.queries.InfraQueries.oracle
}
